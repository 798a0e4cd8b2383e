package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Avro
import graft.ops.{Dedup, Text, Vectors}

/** `curation`: one operation is one run of the LLM data-prep pipeline
  * over a seeded corpus — NFC clean and quality filter, word 3-gram
  * shingles, exact Jaccard pairs, SRP near-duplicate embeddings,
  * connected-component removals, and the kept corpus written with
  * `graft.io.Avro.write`.
  * Each step is materialized inside its own span.
  *
  * Checks: the Jaccard and SRP pair sets equal the planted families'
  * pairs exactly, removals are every family member but its smallest id,
  * and the Avro read back holds the expected row count with the same
  * content hash on every iteration. */
final class Curation(ctx: Ctx, docsN: Int) extends Workload {
  import Curation._

  private val spark = ctx.spark
  private val corpusPath = ctx.path("curation/corpus")
  private val outPath = ctx.path("curation/kept.avro")
  private var corpus: DataFrame = _
  private var plan: Plan = _
  private var firstHash: Option[Long] = None

  def minOps: Int = 2

  def sizes: Map[String, Any] = Map(
    "docs" -> docsN, "low_quality" -> plan.lowQuality.size,
    "text_families" -> plan.textFamilies.size, "semantic_families" -> plan.semFamilies.size,
    "planted_dup_rate" -> plan.familyDocs.toDouble / docsN,
    "input_bytes" -> Dirs.bytes(corpusPath))

  def generate(): Unit = {
    val (docs, p) = build(ctx.seed, docsN)
    plan = p
    spark.createDataFrame(spark.sparkContext.parallelize(docs.map(_.row).toSeq, ctx.cpus), Corpus.Schema)
      .write.mode("overwrite").parquet(corpusPath)
  }

  def load(t: Tracer): Unit = {
    corpus = spark.read.parquet(corpusPath)
    corpus.queryExecution.analyzed
    ()
  }

  /** One unchecked pipeline run over a slice of the corpus: compiles
    * and loads what the full runs need at a fraction of their cost. */
  def warmup(): Unit = pipeline(corpus.filter(col("doc_id") < WarmupDocs), Tracer.off(spark))
    ._2.foreach(_.unpersist())

  def op(i: Int, t: Tracer): Op = {
    val ((nFiltered, jp, sp, removals), cached) = pipeline(corpus, t)
    Op(docs = docsN, rows = plan.kept, check = () =>
      try verify(nFiltered, jp, sp, removals)
      finally cached.foreach(_.unpersist()))
  }

  /** The pipeline over `input`, every step materialized in its span;
    * returns the filtered count, the pair sets and the removals, and
    * the cached frames to release. */
  private def pipeline(input: DataFrame, t: Tracer)
      : ((Long, DataFrame, DataFrame, DataFrame), Seq[DataFrame]) = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist()
      cached += p
      (p, p.count())
    }
    val (kept0, nFiltered) = t.span("ops.text_filter") {
      val clean = input.withColumn("text", Text.nfcClean(col("text")))
      materialize(Text.qualityScore(clean, col("text"))
        .filter(col("n_tok") >= MinTokens && col("stop_ratio") >= MinStopRatio &&
          col("punct_ratio") <= MaxPunctRatio)
        .select("doc_id", "text", "embedding"))
    }
    val (sh, _) = t.span("ops.shingles") {
      materialize(kept0.select(col("doc_id"), Dedup.shingles(col("text")).as("__sh")))
    }
    val (jp, nJ) = t.span("ops.jaccard_pairs") {
      materialize(Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", JaccardThreshold)
        .select("id_a", "id_b"))
    }
    t.counter("jaccard_prefix_candidates").foreach { c =>
      t.note("candidate_pairs", c.toDouble)
      t.note("pair_yield", nJ.toDouble / math.max(1L, c))
    }
    val (sp, nS) = t.span("ops.semantic_dups") {
      materialize(Vectors.srpNearDups(kept0, "doc_id", "embedding", CosineThreshold)
        .select("id_a", "id_b"))
    }
    t.counter("srp_neardup_candidates").foreach { c =>
      t.note("srp_neardup_candidates", c.toDouble)
      t.note("pair_yield", nS.toDouble / math.max(1L, c))
    }
    val (removals, _) = t.span("ops.cluster") {
      materialize(Dedup.clusterRemovals(jp.unionByName(sp)))
    }
    t.span("io.avro_write") {
      Avro.write(
        kept0.join(removals.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"), outPath)
    }
    t.note("bytes_written", Dirs.bytes(outPath).toDouble)
    ((nFiltered, jp, sp, removals), cached.toSeq)
  }

  private def diff[T](what: String, got: Set[T], want: Set[T]): (String, Boolean) =
    s"$what: ${(want -- got).size} planted missing, ${(got -- want).size} unplanted, " +
      s"e.g. ${((want -- got) ++ (got -- want)).take(3).mkString(" ")}" -> (got == want)

  private def verify(nFiltered: Long, jp: DataFrame, sp: DataFrame,
                     removals: DataFrame): Seq[String] = {
    def pairs(df: DataFrame) = df.collect().map(r => ordered(r.getLong(0), r.getLong(1))).toSet
    val back = spark.read.format("graft_avro").load(outPath)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L)))
      .head()
    val hashOk = firstHash.forall(_ == back.getLong(1))
    firstHash = Some(back.getLong(1))
    Op.problems(
      s"quality filter kept $nFiltered" -> (nFiltered == docsN - plan.lowQuality.size),
      diff("jaccard pairs", pairs(jp), plan.pairs(plan.textFamilies)),
      diff("srp pairs", pairs(sp), plan.pairs(plan.semFamilies)),
      "removals differ from the planted families" ->
        (removals.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet == plan.removals),
      s"avro holds ${back.getLong(0)} rows, want ${plan.kept}" -> (back.getLong(0) == plan.kept),
      "avro content hash changed between iterations" -> hashOk)
  }
}

object Curation {
  val JaccardThreshold = 0.5
  val CosineThreshold = 0.9
  val MinTokens = 20
  val MinStopRatio = 0.05
  val MaxPunctRatio = 0.05
  private val WarmupDocs = 200
  private val VocabSize = 30000

  private def ordered(a: Long, b: Long) = if (a < b) (a, b) else (b, a)

  /** What the generator planted: family member ids, low-quality ids. */
  final case class Plan(textFamilies: Seq[Seq[Long]], semFamilies: Seq[Seq[Long]],
                        lowQuality: Set[Long], docs: Int) {
    def pairs(fams: Seq[Seq[Long]]): Set[(Long, Long)] =
      fams.flatMap(f => f.combinations(2).map(p => ordered(p(0), p(1)))).toSet
    def familyDocs: Int = (textFamilies ++ semFamilies).map(_.size).sum
    def removals: Set[(Long, Long)] =
      (textFamilies ++ semFamilies).flatMap(f => f.filter(_ != f.min).map(_ -> f.min)).toSet
    def kept: Long = docs - lowQuality.size - removals.size
  }

  /** `n` documents: about 2% text-family events and 2% semantic-family
    * events (2-3 members each, so about 10% of documents sit in a
    * family), 5% low-quality documents, the rest background. */
  def build(seed: Long, n: Int): (IndexedSeq[Corpus.Doc], Plan) = {
    val g = new Corpus.Gen(seed, VocabSize)
    val r = new SplittableRandom(seed * 7919 + 1)
    val docs = mutable.ArrayBuffer.empty[Corpus.Doc]
    val textFams, semFams = mutable.ArrayBuffer.empty[Seq[Long]]
    val low = mutable.Set.empty[Long]
    def nextId = docs.size.toLong
    while (docs.size < n) {
      val u = r.nextInt(100)
      val members = 2 + r.nextInt(2)
      if (u < 2 && docs.size + members <= n) {
        val base = g.words(r, 45 + r.nextInt(25))
        val ids = (0 until members).map(_ + nextId)
        docs += Corpus.Doc(ids.head, g.text(base), g.vector(r))
        ids.tail.foreach(id => docs += Corpus.Doc(id, g.variant(r, base), g.vector(r)))
        textFams += ids
      } else if (u < 4 && docs.size + members <= n) {
        val v = g.vector(r)
        val ids = (0 until members).map(_ + nextId)
        docs += Corpus.Doc(ids.head, g.text(g.words(r, 45 + r.nextInt(25))), v)
        ids.tail.foreach(id =>
          docs += Corpus.Doc(id, g.text(g.words(r, 45 + r.nextInt(25))), g.nearVector(r, v)))
        semFams += ids
      } else if (u < 9) {
        low += nextId
        docs += Corpus.Doc(nextId, g.lowQuality(r), g.vector(r))
      } else docs += Corpus.Doc(nextId, g.text(g.words(r, 45 + r.nextInt(25))), g.vector(r))
    }
    (docs.toIndexedSeq, Plan(textFams.toSeq, semFams.toSeq, low.toSet, n))
  }
}
