package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is interpreted, not
  * codegen'd, and allocates a zipped intermediate array per row — per
  * PAIR in a similarity self-join. Each expression here runs one
  * primitive `while` loop of [[VectorKernel]] over the `ArrayData`:
  * interpreted eval and whole-stage generated code call the same
  * static kernel, so there is one implementation of every loop. Sums
  * accumulate left to right in double, the order of the fold they
  * replace, so results are bit-identical to it.
  *
  * Null semantics match the HOF versions: null input → null; mismatched
  * lengths → null (zip_with pads with null, which poisons the sum);
  * a null ELEMENT → null (the lambda product/square is null, which
  * poisons the aggregate fold). Elements are checked for null only when
  * the static schema says `containsNull` — arrays declared null-free
  * skip the check.
  */
object VectorExprs {

  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def l2norm(a: Column): Column =
    GraftColumnBridge.column(L2Norm(GraftColumnBridge.expression(a)))

  /** All SRP band keys of a vector in ONE expression. `planes` is
    * indexed `planes(band * bits + j)(d)`. Composing this from
    * bands*bits separate [[dot]] calls generates a whole-stage-codegen
    * method far past HotSpot's huge-method compile limit (8 KB
    * bytecode), which silently runs as INTERPRETED bytecode — ~100x.
    * One expression with a data-driven loop over a referenced plane
    * matrix stays small and JIT-compiles. */
  def srpBandKeys(vec: Column, planes: Array[Array[Double]], bits: Int,
                  bands: Int): Column =
    GraftColumnBridge.column(SrpBandKeys(
      GraftColumnBridge.expression(vec), planes.flatten, bits, bands))

  /** Asymmetric-distance (ADC) score of a product-quantized code
    * against a per-query lookup table: Σ_s lut[s*ksub + codes[s]].
    * The PQ query hot path — runs once per (query, corpus-code) pair,
    * so it must stay inside whole-stage codegen like [[dot]]. */
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    GraftColumnBridge.column(PqAdcScore(
      GraftColumnBridge.expression(codes), GraftColumnBridge.expression(lut), ksub))

  /** L2-normalize in ONE expression (optimization round 21). The
    * `transform(vec, x => x / l2norm(vec))` formulation it replaces
    * embedded the norm subtree INSIDE the lambda, and higher-order
    * lambdas get no common-subexpression elimination — Catalyst
    * re-evaluated the entire child expression (the norm, and with it
    * any UDF the column was computed by, e.g. the OPQ rotation) once
    * PER ELEMENT: O(d²) interpreted work on plain columns, ~d UDF
    * invocations per row when composed over one (measured ~1 ms/row on
    * the 64-d corpus — the dominant cost of every vector-family key).
    * Here the child evaluates once, the norm once, one divide pass —
    * bit-identical values (same left-to-right double accumulation,
    * same per-element `toDouble / norm`), same null semantics (null
    * input, null element, or zero norm → null array). */
  def normalize(vec: Column): Column =
    GraftColumnBridge.column(L2Normalize(GraftColumnBridge.expression(vec)))
}

/** The vector expressions' loops, shared by interpreted eval and
  * generated code (`graft.functions.VectorKernel.<f>(…)`), so every
  * function is static and stateless. Double-valued kernels return a
  * primitive and leave the null case to a separate predicate
  * (`anyNull`, `dotDefined`, `adcDefined`): a boxed result would
  * allocate per row under a JIT without escape analysis. Array-valued
  * kernels return null for a null result. */
object VectorKernel {

  private def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Whether `a` holds a null element; false without looking when the
    * schema admits none (`elemsNullable` false). */
  def anyNull(a: ArrayData, elemsNullable: Boolean): Boolean = {
    val n = if (elemsNullable) a.numElements() else 0
    var i = 0
    while (i < n && !a.isNullAt(i)) i += 1
    i < n
  }

  /** Whether [[dot]] is defined: equal lengths and no null element. */
  def dotDefined(a: ArrayData, b: ArrayData, elemsNullable: Boolean): Boolean =
    a.numElements() == b.numElements() && !anyNull(a, elemsNullable) &&
      !anyNull(b, elemsNullable)

  def dot(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += at(a, i, isFloat) * at(b, i, isFloat); i += 1 }
    s
  }

  def norm(a: ArrayData, isFloat: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = at(a, i, isFloat); s += v * v; i += 1 }
    math.sqrt(s)
  }

  /** `a / norm(a)` as a double array; null for a null element or a
    * zero norm. */
  def normalize(a: ArrayData, isFloat: Boolean, elemsNullable: Boolean): ArrayData = {
    val len = if (anyNull(a, elemsNullable)) 0.0 else norm(a, isFloat)
    if (len == 0.0) null
    else {
      val n = a.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = at(a, i, isFloat) / len; i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Whether [[adc]] is defined: `lut` holds `codes.length * ksub`
    * entries, none of them null, and every code byte is below `ksub`.
    * A code byte >= ksub (a corrupt or foreign code column when
    * ksub < 256) would index another subspace's LUT region — or past
    * the lut entirely, which UnsafeArrayData does NOT bounds check — so
    * it poisons to null like the size mismatch. */
  def adcDefined(codes: Array[Byte], lut: ArrayData, ksub: Int,
                 lutNullable: Boolean): Boolean =
    lut.numElements() == codes.length * ksub && !anyNull(lut, lutNullable) && {
      var i = 0
      while (i < codes.length && (codes(i) & 0xFF) < ksub) i += 1
      i == codes.length
    }

  def adc(codes: Array[Byte], lut: ArrayData, ksub: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < codes.length) { s += lut.getDouble(i * ksub + (codes(i) & 0xFF)); i += 1 }
    s
  }

  /** Band keys of `v` against the row-major (bands*bits) x dim plane
    * matrix; null for a null element or a dimension mismatch. */
  def srpKeys(v: ArrayData, planes: Array[Double], bits: Int, bands: Int,
              isFloat: Boolean, elemsNullable: Boolean): ArrayData = {
    val n = v.numElements()
    if (n * bands * bits != planes.length || anyNull(v, elemsNullable)) null
    else {
      val keys = new Array[Int](bands)
      var p = 0
      var b = 0
      while (b < bands) {
        var key = 0
        var j = 0
        while (j < bits) {
          var s = 0.0
          var d = 0
          while (d < n) { s += planes(p + d) * at(v, d, isFloat); d += 1 }
          p += n
          if (s > 0) key |= (1 << j)
          j += 1
        }
        keys(b) = key
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(keys)
    }
  }
}

/** What the float/double array expressions share: the input type
  * check (float or double arrays of one element type), the element
  * type and null-element flags the kernels take, and a nullable
  * result. */
private[functions] trait VectorInputs extends Expression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val dts = children.map(_.dataType)
    val ok = dts.forall {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    } && dts.collect { case ArrayType(et, _) => et }.distinct.size == 1
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments of one element type, " +
        s"got ${dts.mkString(", ")}")
  }

  protected def isFloat: Boolean = children.head.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected def elemsNullable: Boolean = children.exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })
}

/** Sequential-order dot product of two equal-typed float/double
  * arrays, accumulated in double. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with VectorInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (VectorKernel.dotDefined(a, b, elemsNullable)) VectorKernel.dot(a, b, isFloat) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = !graft.functions.VectorKernel.dotDefined($a, $b, $elemsNullable);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.VectorKernel.dot($a, $b, $isFloat);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sequential-order euclidean norm: sqrt of the in-order sum of
  * squares, accumulated in double. */
case class L2Norm(child: Expression) extends UnaryExpression with VectorInputs {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (VectorKernel.anyNull(a, elemsNullable)) null else VectorKernel.norm(a, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.isNull} = graft.functions.VectorKernel.anyNull($a, $elemsNullable);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.VectorKernel.norm($a, $isFloat);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization asymmetric-distance score (ADC, Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
  * `codes` is the corpus row's m-byte PQ code (BinaryType, one unsigned
  * byte per subspace), `lut` the query's flattened m×ksub inner-product
  * lookup table (`lut[s*ksub + c] = dot(q_s, codebook_s[c])`), and the
  * score Σ_s lut[s*ksub + (codes[s] & 0xFF)] approximates dot(q, v)
  * reading only m bytes of corpus data — the compressed-domain scan
  * that makes a 100 TB corpus ADC-searchable at ~1/32 the bytes.
  *
  * Null semantics: null codes or null lut → null; a lut sized
  * differently from codes.length*ksub (a codebook/codes mismatch), a
  * null lut element or a code byte >= ksub → null
  * ([[VectorKernel.adcDefined]]), poisoning the rank step rather than
  * mis-scoring. Elements are checked for null only when the lut's type
  * admits them: the LUT builder's arrays are null-free, a lut read back
  * from a file source is typed `containsNull = true`. */
case class PqAdcScore(left: Expression, right: Expression, ksub: Int)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, ArrayType(DoubleType, _)) if ksub >= 1 && ksub <= 256 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary codes, array<double> lut) and ksub in [1,256], " +
        s"got (${left.dataType}, ${right.dataType}) ksub=$ksub")
  }

  private def lutNullable: Boolean = right.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  override def nullSafeEval(codesAny: Any, lutAny: Any): Any = {
    val codes = codesAny.asInstanceOf[Array[Byte]]
    val lut = lutAny.asInstanceOf[ArrayData]
    if (VectorKernel.adcDefined(codes, lut, ksub, lutNullable)) VectorKernel.adc(codes, lut, ksub)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) =>
      s"""${ev.isNull} = !graft.functions.VectorKernel.adcDefined($codes, $lut, $ksub, $lutNullable);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.VectorKernel.adc($codes, $lut, $ksub);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Whole-array L2 normalization: out[i] = v[i] / sqrt(Σ v[j]²), norm
  * accumulated left-to-right in double exactly like [[L2Norm]]. Null
  * input → null; a null ELEMENT → null; zero norm → null (so zero
  * vectors never rank — the callers' isNotNull-guard contract). The
  * static type matches the transform() formulation this replaces
  * (ArrayType(Double, containsNull = true)); produced arrays never
  * actually hold null elements. */
case class L2Normalize(child: Expression) extends UnaryExpression with VectorInputs {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_l2normalize"

  override def nullSafeEval(input: Any): Any =
    VectorKernel.normalize(input.asInstanceOf[ArrayData], isFloat, elemsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.VectorKernel.normalize($a, $isFloat, $elemsNullable);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Banded sign-random-projection signature: for each band b,
  * key(b) = Σ_j [dot(planes(b*bits+j), v) > 0] << j. `planes` is the
  * flattened (bands*bits) x dim hyperplane matrix (row-major). Null
  * input, a null element, or a dim mismatch with the plane matrix →
  * null (poison semantics, matching [[DotProduct]]). */
case class SrpBandKeys(child: Expression, planes: Array[Double], bits: Int,
                       bands: Int) extends UnaryExpression with VectorInputs {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_srp_band_keys"

  override def nullSafeEval(input: Any): Any =
    VectorKernel.srpKeys(input.asInstanceOf[ArrayData], planes, bits, bands, isFloat, elemsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.VectorKernel.srpKeys(
         |  $v, $planesRef, $bits, $bands, $isFloat, $elemsNullable);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
