package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the portable md5 min-hash minima —
  * the minhash family's heavy kernel (optimization round 22).
  *
  * The SQL formulation (DedupSpec's `portableBandSignaturesExploded`,
  * the test oracle this kernel is pinned bit-equal to) explodes every
  * doc's shingle array, projects `ceil(numHashes/4)` md5 HEX STRINGS
  * per shingle instance, shuffles the exploded relation, and runs
  * `numHashes` string-min aggregates over 7-char substrings. Profiled at sf0.1 that pass was 13.3 s of
  * task CPU (stream_minhash_ingest job anatomy) for ~0.4 s of raw md5
  * arithmetic — >95% of the cost was expression machinery: concat +
  * UTF8String/hex/substring allocations per (shingle, digest) and the
  * exploded-row aggregate exchange. This expression computes all
  * `numHashes` minima in ONE pass over the array, per doc, inside
  * whole-stage codegen: digest bytes are consumed directly (no hex
  * string ever materializes), and nothing explodes or shuffles.
  *
  * Exact-equivalence argument (the cross-engine signature contract):
  * md5 runs over the identical bytes (`"$j:" ++ utf8(shingle)` — Spark
  * `concat` concatenates UTF8 bytes), each 28-bit value is the numeric
  * reading of hex chars [7c, 7c+7) of the digest — and a min over
  * fixed-width lowercase hex strings orders identically to the min
  * over those numeric values, so the minima equal
  * `conv(min(substring(hex, 1+7c, 7)), 16, 10)` bit for bit.
  */
object MinHashExprs {

  /** Array of the `numHashes` portable min-hash values (28-bit longs)
    * of a shingle array; null for a null or EMPTY array — the exploded
    * formulation produced no aggregate row for an empty doc, so
    * callers filter nulls to keep row parity. */
  def minhashMinima(shingles: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashMinima(GraftColumnBridge.expression(shingles), numHashes))
}

/** Shared by interpreted eval and generated code — static, with a
  * thread-local MessageDigest (md5 instances are not thread-safe and
  * allocating one per doc would churn). */
object MinHashKernel {
  private val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def minima(sh: ArrayData, numHashes: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val numDigests = (numHashes + 3) / 4
    // the "$j:" domain-separation prefixes, as bytes, once per call
    val prefixes = Array.tabulate(numDigests)(j =>
      (j.toString + ":").getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = mdLocal.get()
    var k = 0
    var any = false
    while (k < n) {
      val g = sh.getUTF8String(k)
      // null elements contribute nothing, matching the exploded form's
      // md5(concat("j:", null)) = null, which min() ignores. (Shingle
      // arrays are containsNull=false by construction; the tolerance is
      // for schema-widened unions/parquet round-trips, not a contract.)
      if (g == null) { k += 1 }
      else {
      any = true
      val gb = g.getBytes
      var j = 0
      while (j < numDigests) {
        md.reset()
        md.update(prefixes(j))
        md.update(gb)
        val d = md.digest()
        var c = 0
        while (c < 4) {
          val i = j * 4 + c
          if (i < numHashes) {
            // hex chars [7c, 7c+7) = nibbles 7c..7c+6 of the digest
            var v = 0L
            var p = 7 * c
            val end = p + 7
            while (p < end) {
              val b = d(p >> 1) & 0xff
              v = (v << 4) | (if ((p & 1) == 0) b >>> 4 else b & 0xf)
              p += 1
            }
            if (v < mins(i)) mins(i) = v
          }
          c += 1
        }
        j += 1
      }
      k += 1
      }
    }
    if (!any) return null
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) { out(i) = mins(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd portable min-hash minima (see [[MinHashKernel]]): one
  * kernel call per doc inside the generated projection. Returns null
  * for empty arrays (doc cannot near-dup; matches the exploded form's
  * row-absence), so the expression is nullable regardless of child. */
case class MinHashMinima(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_minima"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.minima(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashKernel.minima($c, $numHashes); ${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
