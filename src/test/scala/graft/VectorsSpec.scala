package graft

import org.apache.spark.sql.Column
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Vectors

/** Similarity-search invariants: brute-force exactness on a known
  * geometry, and ANN recall against the brute-force oracle on real
  * embeddings. */
class VectorsSpec extends AnyFunSuite with SparkTestBase {

  // The higher-order-function formulations the native vector
  // expressions replaced — interpreted and allocating; the oracles that
  // pin the expressions' exact semantics.
  private def dotHof(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, lit, zip_with}
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
  }

  private def l2normHof(a: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, lit, sqrt, transform}
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
  }

  private def normalizedHof(vec: Column): Column = {
    import org.apache.spark.sql.functions.{lit, nullif, transform, when}
    val n = nullif(l2normHof(vec), lit(0.0))
    when(n.isNotNull, transform(vec, x => x.cast("double") / n))
  }

  test("cosineTopK ranks an obvious geometry correctly") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),  // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal
      (3L, Array(-1.0f, 0.0f, 0.0f))) // opposite
      .toDF("vec_id", "embedding")
    val top = Vectors.cosineTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .orderBy($"rnk").collect().map(_.getLong(2)).toSeq
    assert(top == Seq(1L, 2L, 3L))
  }

  test("srpParams: auto-derived parameters hit the recall target across corpus sizes") {
    import spark.implicits._
    // the collision model is exact for independent Gaussian planes, so
    // (bits, bands) derived for the WEAKEST true top-10 similarity must
    // deliver >= the target recall on every corpus size — no hand-tuned
    // constants anywhere in this test
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < a.length) {
        d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
      }
      d / math.sqrt(na * nb)
    }
    for ((n, seed) <- Seq((1000, 1), (10000, 2))) {
      val dim = 16
      val rnd = new scala.util.Random(900 + seed)
      val corpus = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      val queries = corpus.take(5)
      // driver-side brute-force oracle (5 x n dots) + the similarity
      // level the candidate net must recall
      val brute = queries.map { case (qid, qv) =>
        qid -> corpus.filter(_._1 != qid)
          .map { case (cid, cv) => (cid, cos(qv, cv)) }
          .sortBy { case (cid, c) => (-c, cid) }.take(10)
      }
      val weakest = brute.flatMap(_._2.map(_._2)).min
      val (bits, bands) = Vectors.srpParams(n, weakest, targetRecall = 0.9)
      assert(bits == math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt,
        s"bits must scale as log2(corpus): $bits for n=$n")
      assert(Vectors.srpRecall(weakest, bits, bands) >= 0.9)
      val ann = Vectors.annTopK(corpus.toDF("vec_id", "embedding"),
        queries.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 10, bits = bits, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val bruteSet = brute.flatMap { case (q, nn) => nn.map(c => (q, c._1)) }.toSet
      val recall = ann.count(bruteSet.contains).toDouble / bruteSet.size
      assert(recall >= 0.9,
        s"n=$n bits=$bits bands=$bands: recall@10 $recall below the 0.9 target")
    }
  }

  test("ANN recall@10 >= 0.6 vs brute force on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(emb, q, "vec_id", "embedding", 10))
    val ann = pairs(Vectors.annTopK(emb, q, "vec_id", "embedding", 10))
    val recall = (exact & ann).size.toDouble / exact.size
    // Random-hyperplane LSH on random 64-d vectors: recall is modest by
    // construction; the invariant is "far better than chance" (chance
    // ~= 10/N) and deterministic.
    assert(recall >= 0.6, s"recall=$recall")
    assert(ann == pairs(Vectors.annTopK(emb, q, "vec_id", "embedding", 10)),
      "ANN must be deterministic (fixed seed)")
  }

  test("IVF recall@10 >= 0.6 vs brute force and deterministic") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(emb, q, "vec_id", "embedding", 10))
    // On random 64-d vectors there is no cluster structure, so IVF
    // recall tracks probe coverage (nprobe/nlist) plus the query-near-
    // cell boost; probe half the cells and assert well above the 50%
    // coverage floor, plus determinism.
    def ivfRun() = pairs(Vectors.ivfSearch(
      Vectors.ivfIndex(emb, "vec_id", "embedding", nlist = 16), q, "vec_id", "embedding", 10,
      nprobe = 8))
    val ivf = ivfRun()
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.55, s"recall=$recall")
    assert(ivf == ivfRun(), "IVF must be deterministic (fixed seed)")
  }

  test("prebuilt IVF index: sample-fit quantizer keeps recall, search is fit-free") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(emb, q, "vec_id", "embedding", 10))
    // the 100 TB shape: quantizer fit on half the corpus, cells
    // persisted once, searches consume the index
    val idx = Vectors.ivfIndex(emb, "vec_id", "embedding", nlist = 16,
      sampleFraction = 0.5)
    val got = pairs(Vectors.ivfSearch(idx, q, "vec_id", "embedding", 10, nprobe = 8))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.55, s"recall=$recall")
    assert(got == pairs(Vectors.ivfSearch(idx, q, "vec_id", "embedding", 10, nprobe = 8)),
      "repeated searches over one index must be identical")
  }

  test("derived sample fraction: clustered layout larger than the cap stays unbiased") {
    import spark.implicits._
    // a clustered PHYSICAL layout — cluster A fills the leading rows
    // (5/6 of the corpus), cluster B only the tail, sorted so the old
    // partition-order limit() prefix would see cluster A exclusively
    val corpus = (0 until 3000).map { i =>
      val j = (i % 7) * 0.01
      if (i < 2500) (i.toLong, Seq(10.0 + j, j)) else (i.toLong, Seq(j, 10.0 + j))
    }.toDF("id", "v").sort("id").cache()
    val sample = Vectors.normalizedSample(corpus, "v", 1.0, 42L, maxSamples = 500)
    val nB = sample.count(_(1) > 0.5)
    assert(sample.length < 500, "derived fraction must undershoot the cap, not truncate")
    assert(nB > 20, s"tail cluster must appear in the derived sample, got $nB")
    assert(sample.length - nB > 100, "leading cluster present too")
    // and the quantizer fit on defaults lands one centroid per cluster
    val cents = Vectors.fitQuantizer(corpus, "v", nlist = 2, maxSamples = 500)
    val spread = math.sqrt(cents(0).zip(cents(1)).map { case (a, b) =>
      val d = a - b; d * d
    }.sum)
    assert(spread > 0.5, s"centroids must straddle both clusters, spread=$spread")
    // determinism: same seed, same sample
    val again = Vectors.normalizedSample(corpus, "v", 1.0, 42L, maxSamples = 500)
    assert(again.map(_.toSeq).toSeq == sample.map(_.toSeq).toSeq)
    corpus.unpersist()
  }

  test("native dot/l2norm expressions are bit-identical to the HOF fold") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val cmp = emb.select(
      Vectors.dot($"embedding", $"embedding").as("dn"),
      dotHof($"embedding", $"embedding").as("dh"),
      Vectors.l2norm($"embedding").as("nn"),
      l2normHof($"embedding").as("nh"))
    // bitwise equality — same IEEE accumulation order, not "close"
    val bad = cmp.filter($"dn" =!= $"dh" || $"nn" =!= $"nh").count()
    assert(bad == 0)
  }

  test("codegen L2Normalize is bit-identical to the HOF transform it replaced") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // real corpus: every element bitwise-equal both ways
    val emb = spark.read.parquet(sf("embeddings"))
    val cmp = emb.select(
      Vectors.normalized($"embedding").as("nn"),
      normalizedHof($"embedding").as("nh"))
    val bad = cmp.filter(!($"nn" <=> $"nh")).count()
    assert(bad == 0, "normalized() must equal the transform/lambda formulation bitwise")
    // degenerate shapes: null input, null element, zero vector -> null
    // ARRAY in both forms (the round-15 drop-degenerates contract)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = true))))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, Seq(3.0f, 4.0f)),
        Row(1L, null),
        Row(2L, Seq(1.0f, null)),
        Row(3L, Seq(0.0f, 0.0f))),
      schema)
    val got = rows.select($"id",
      Vectors.normalized($"v").as("nn"), normalizedHof($"v").as("nh"))
      .orderBy($"id").collect()
    assert(got(0).getSeq[Double](1) == Seq(0.6, 0.8) &&
      got(0).getSeq[Double](1) == got(0).getSeq[Double](2))
    for (i <- 1 to 3; c <- 1 to 2)
      assert(got(i).isNullAt(c), s"row $i col $c: degenerate vector must normalize to null")
  }

  test("graft_dot / graft_l2norm are SQL-callable after registration") {
    import spark.implicits._
    GraftExtensions.register(spark)
    Seq((Array(3.0f, 4.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_test")
    val r = spark.sql(
      "SELECT graft_dot(a, b) AS d, graft_l2norm(a) AS n FROM graft_vec_test")
      .collect()(0)
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 5.0)
  }

  test("zero vectors: cosine is null and similarity ops skip them, not crash") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f)), // zero vector
      (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val c = vecs.filter($"vec_id" === 1)
      .select(Vectors.cosine($"embedding", $"embedding").as("c")).collect()(0)
    assert(c.isNullAt(0))
    val top = Vectors.cosineTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy($"rnk").collect().map(_.getLong(2)).toSeq
    assert(top.head == 2L, s"zero vector must not outrank a real neighbor: $top")
    val dups = Vectors.cosineNearDupsExact(vecs, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((0L, 2L)))
  }

  test("cosine of a vector with itself is 1.0") {
    import spark.implicits._
    val v = Seq((0L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val c = v.select(Vectors.cosine($"embedding", $"embedding").as("c"))
      .collect()(0).getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("null array element poisons dot/l2norm to null, matching the HOF fold") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
        Row(1L, Seq(1.0f, null), Seq(3.0f, 4.0f)),
        Row(2L, Seq(1.0f, 2.0f), Seq(null, 4.0f))),
      schema)
    val got = rows.select($"id",
      Vectors.dot($"a", $"b").as("dn"), dotHof($"a", $"b").as("dh"),
      Vectors.l2norm($"a").as("nn"), l2normHof($"a").as("nh"))
      .orderBy($"id").collect()
    // row 0: clean -> equal non-null values both ways
    assert(got(0).getDouble(1) == 11.0 && got(0).getDouble(2) == 11.0)
    // rows 1-2: a null element must null the result in BOTH forms
    for (i <- 1 to 2; c <- 1 to 2)
      assert(got(i).isNullAt(c), s"row $i col $c: expected null (native==HOF)")
    assert(got(1).isNullAt(3) && got(1).isNullAt(4),
      "l2norm of an array with a null element must be null in both forms")
  }

  test("srpNearDups equals brute force on a planted near-dup corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("embeddings")).select($"vec_id", $"embedding")
    // scaled copies: cosine with the original is exactly 1.0 and sign
    // signatures are scale-invariant -> guaranteed bucket collision
    val planted = emb.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => (x * lit(0.5f)).cast("float")).as("embedding"))
    val corpus = emb.unionByName(planted)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairsOf(Vectors.srpNearDups(corpus, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b"))
    val brute = pairsOf(
      Vectors.cosineNearDupsExact(corpus, "vec_id", "embedding", 0.9)
        .select($"id_a", $"id_b"))
    assert(brute.size >= 20, "planted pairs must be in the brute-force set")
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(got == pairsOf(Vectors.srpNearDups(corpus, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b")), "SRP must be deterministic (fixed seed)")
  }

  test("srpProbe: one-way probe finds planted duplicates, never self-pairs the corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7500)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // probes: scaled copies of vectors 3 and 7 (colinear -> cos 1,
    // collide in every band) plus one fresh random vector
    val copies = corpus.filter($"vec_id" === 3 || $"vec_id" === 7)
      .select(($"vec_id" + 1000L).as("vec_id"),
        org.apache.spark.sql.functions.transform($"embedding",
          x => x * org.apache.spark.sql.functions.lit(2.0f)).as("embedding"))
    val fresh = Seq((2000L, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = Vectors.srpProbe(corpus, copies.unionByName(fresh),
      "vec_id", "embedding", simThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1003L, 3L), (1007L, 7L)), got.toString)
    // deterministic
    assert(got == Vectors.srpProbe(corpus, copies.unionByName(fresh),
      "vec_id", "embedding", simThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("srpNearDups buckets genuinely: candidate pairs far below all-pairs") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val n = emb.count()
    // count candidates the bucket join generates (pre-rescore): at
    // threshold -1.0 every candidate with a defined cosine passes (the
    // corpus has no zero/null vectors), so output size == candidate count
    val candidates = Vectors.srpNearDups(emb, "vec_id", "embedding", -1.0).count()
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 4,
      s"SRP must prune: candidates=$candidates allPairs=$allPairs")
  }

  test("annTopK buckets genuinely: candidates far below the query x corpus space") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val n = emb.count()
    val nq = q.count()
    val candidates = Vectors.annCandidates(emb, q, "vec_id", "embedding",
      bits = 6, bands = 32, seed = 42L).count()
    // uniform random vectors are the LSH worst case (no structure) —
    // the gate is a real constant-factor prune of the probe space, not
    // the near-zero prune the high-sim near-dup regime gets
    assert(candidates < nq * (n - 1) * 6 / 10,
      s"ANN buckets must prune: candidates=$candidates space=${nq * (n - 1)}")
  }

  test("annTopK and srpNearDups return empty (not throw) on empty/all-null corpora") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val allNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(0L, null), Row(1L, null)), schema)
    for (df <- Seq(empty, allNull)) {
      assert(Vectors.srpNearDups(df, "vec_id", "embedding", 0.9).isEmpty)
      assert(Vectors.annTopK(df, df, "vec_id", "embedding", 5).isEmpty)
    }
  }

  test("ivfIndex survives zero and null vectors in the corpus (norm-gated, no NPE)") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val good = spark.read.parquet(sf("embeddings"))
      .filter($"vec_id" < 50).select($"vec_id", $"embedding")
    val dim = good.select(org.apache.spark.sql.functions.size($"embedding"))
      .head().getInt(0)
    val bad = spark.createDataFrame(java.util.Arrays.asList(
      Row(9000L, Array.fill(dim)(0.0f).toSeq), // zero vector
      Row(9001L, null)),                       // null vector
      schema)
    val idx = Vectors.ivfIndex(good.unionByName(bad), "vec_id", "embedding",
      nlist = 4)
    val res = Vectors.ivfSearch(idx, good.filter($"vec_id" < 3), "vec_id",
      "embedding", k = 5)
    assert(res.count() > 0)
    // the degenerate vectors are excluded from the index, never ranked
    assert(res.filter($"vec_id" >= 9000L).isEmpty)
  }

  test("IVF: a fresh fit beats a stale quantizer on a shifted corpus") {
    import spark.implicits._
    // Quantizer fit on distribution A (clusters at axis directions);
    // distribution B's clusters sit BETWEEN adjacent A-centroids, so
    // under the stale quantizer each B cluster splits ~50/50 across two
    // cells and nprobe=1 misses the half in the other cell; a fresh fit
    // on B restores recall. All seeded.
    val dim = 8
    def cluster(center: Array[Double], n: Int, base: Long, seed: Int) = {
      val rnd = new scala.util.Random(1000 + seed)
      (0 until n).map { i =>
        (base + i, Array.tabulate(dim)(d =>
          (center(d) + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    def axis(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    def between(i: Int, j: Int) = Array.tabulate(dim)(d =>
      if (d == i || d == j) math.sqrt(0.5) else 0.0)
    val corpusA = (0 until 4).flatMap(i => cluster(axis(i), 50, i * 1000L, i))
      .toDF("vec_id", "embedding")
    val corpusB = (0 until 4)
      .flatMap(i => cluster(between(i, (i + 1) % 4), 50, 10000 + i * 1000L, 10 + i))
      .toDF("vec_id", "embedding")
    val centroidsA = Vectors.fitQuantizer(corpusA, "embedding", nlist = 4)
    // recall against brute force, stale vs fresh quantizer (nprobe=1 —
    // the setting where cell quality IS recall)
    val q = corpusB.filter($"vec_id" % 1000 < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(corpusB, q, "vec_id", "embedding", 10))
    val stale = Vectors.ivfIndexFrom(corpusB, "vec_id", "embedding", centroidsA)
    val rStale = (exact & pairs(
      Vectors.ivfSearch(stale, q, "vec_id", "embedding", 10, nprobe = 1)))
      .size.toDouble / exact.size
    val centroidsB = Vectors.fitQuantizer(corpusB, "embedding", nlist = 4)
    val fresh = Vectors.ivfIndexFrom(corpusB, "vec_id", "embedding", centroidsB)
    val rFresh = (exact & pairs(
      Vectors.ivfSearch(fresh, q, "vec_id", "embedding", 10, nprobe = 1)))
      .size.toDouble / exact.size
    assert(rFresh > rStale, s"a fresh fit must improve recall: stale=$rStale fresh=$rFresh")
    assert(rFresh >= 0.9, s"fresh-fit recall=$rFresh")
  }

  test("ivfSearch over an ivfIndex leaves no cached (non-checkpoint) RDD behind") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Vectors.ivfSearch(Vectors.ivfIndex(emb, "vec_id", "embedding"),
      emb.filter($"vec_id" < 3), "vec_id", "embedding", 5).count()
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }
    assert(leaked.isEmpty, s"leaked cached RDDs: ${leaked.keys}")
  }

  test("PQ codes: m bytes per vector, byte-ranged, deterministic") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val cb = Vectors.pqFit(emb, "embedding", m = 8, ksub = 64)
    assert(cb.dim == 64 && cb.dsub == 8)
    def codes() = Vectors.pqCodeColumns(emb, "vec_id", "embedding", cb)
      .select($"cid", $"__code").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c1 = codes()
    assert(c1.nonEmpty)
    assert(c1.values.forall(_.length == 8), "one byte per subspace")
    assert(c1.values.forall(_.forall(b => (b & 0xFF) < 64)), "codes in [0, ksub)")
    assert(c1 == codes(), "encoding must be deterministic")
  }

  test("PQ ADC: self-reconstruction near 1, pairwise error bounded by quantization") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("embeddings"))
    val idx = Vectors.pqIndex(emb, "vec_id", "embedding", m = 8, ksub = 64)
    // score every (query, corpus) pair both ways through the REAL
    // expression path: ADC on the 8-byte code vs exact cosine on the
    // stored normalized vector
    val q = emb.filter($"vec_id" < 5)
    val lutBc = spark.sparkContext.broadcast(idx.cb)
    val lutUdf = udf { (qv: Seq[Double]) =>
      val b = lutBc.value
      val lut = new Array[Double](b.m * b.ksub)
      for (s <- 0 until b.m; c <- 0 until b.ksub) {
        val base = (s * b.ksub + c) * b.dsub
        var d = 0.0
        for (j <- 0 until b.dsub) d += qv(s * b.dsub + j) * b.flat(base + j)
        lut(s * b.ksub + c) = d
      }
      lut
    }
    val qn = idx.codes.join(q.select($"vec_id".as("qid")), $"cid" === $"qid")
      .select($"qid", $"__cv".as("__qv"))
      .withColumn("__lut", lutUdf($"__qv"))
    val both = idx.codes.crossJoin(broadcast(qn))
      .withColumn("__adc", graft.functions.VectorExprs.pqAdc($"__code", $"__lut", idx.cb.ksub))
      .withColumn("__cos", Vectors.dot($"__qv", $"__cv"))
    // random 64-d vectors are PQ's WORST case (no structure for the
    // codebooks to exploit): dot(q, recon(q)) lands well below 1 —
    // observed ~0.64 min on this corpus — and the operative property is
    // SEPARATION: the quantized self-match must still outrank every
    // random pair (whose true cosine tops out ~0.45)
    val selfRecon = both.filter($"cid" === $"qid")
      .agg(min($"__adc")).head().getDouble(0)
    assert(selfRecon >= 0.5,
      s"ADC(q, enc(q)) = dot(q, recon(q)), got $selfRecon")
    val meanErr = both.agg(avg(abs($"__adc" - $"__cos"))).head().getDouble(0)
    assert(meanErr <= 0.15, s"mean |ADC - cos| = $meanErr")
    val maxRandom = both.filter($"cid" =!= $"qid")
      .agg(max($"__adc")).head().getDouble(0)
    assert(selfRecon > maxRandom,
      s"selfRecon=$selfRecon should beat the best random-pair ADC $maxRandom")
  }

  test("pqTopK recall vs brute force with rescore, deterministic") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(emb, q, "vec_id", "embedding", 10))
    val idx = Vectors.pqIndex(emb, "vec_id", "embedding", m = 8, ksub = 64)
    val pq = pairs(Vectors.pqTopK(idx, q, "vec_id", "embedding", 10, rescoreK = 40))
    val recall = (exact & pq).size.toDouble / exact.size
    // random 64-d vectors are PQ's worst case (no cluster structure to
    // quantize); the gate is "far above chance" (chance ~ 10/N) — ADC
    // ordering plus a 4x rescore margin must surface most true
    // neighbors
    assert(recall >= 0.6, s"recall=$recall")
    assert(pq == pairs(Vectors.pqTopK(idx, q, "vec_id", "embedding", 10, rescoreK = 40)),
      "PQ search must be deterministic (seeded fit, pinned tiebreaks)")
  }

  test("PQ planted closed form: pqTopK and residual IVF-PQ surface exact copies first") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the harness construction: 10 scaled copies of each query planted
    // at ids 100000 + qid*100 + j; normalized(0.5 v) == normalized(v)
    // bit-identically, so the copies' codes EQUAL the query's codes and
    // ADC puts them on top; exact rescore then yields copies in id order
    val emb = spark.read.parquet(sf("embeddings")).select($"vec_id", $"embedding")
    val copies = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding",
        explode(sequence(lit(0L), lit(9L))).as("__j"))
      .select((lit(100000L) + $"vec_id" * 100 + $"__j").as("vec_id"),
        transform($"embedding", x => (x * lit(0.5f)).cast("float")).as("embedding"))
    val corpus = emb.unionByName(copies)
    val q = emb.filter($"vec_id" < 5)
    val expected = (0L until 5L).flatMap(qid =>
      (0 until 10).map(j => (qid, j + 1, 100000L + qid * 100 + j))).toSet
    val pqIdx = Vectors.pqIndex(corpus, "vec_id", "embedding", m = 8, ksub = 64)
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(triples(Vectors.pqTopK(pqIdx, q, "vec_id", "embedding", 10, rescoreK = 40)) == expected)
    // a copy shares its query's cell AND residual code, so the routed
    // residual search ranks it first the same way
    val ivfPqIdx = Vectors.ivfPqIndex(corpus, "vec_id", "embedding", nlist = 16, m = 8, ksub = 64)
    assert(triples(Vectors.ivfPqSearchResidual(ivfPqIdx, q, "vec_id", "embedding",
      10, nprobe = 4, rescoreK = 40)) == expected)
  }

  test("residual IVF-PQ: finer ADC than vector-space PQ on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // clustered corpus — the regime residual encoding exists for: once
    // the coarse quantizer explains the cluster, the residual is small
    // and the same codebook budget quantizes it finer than the raw
    // vector
    val dim = 8
    def cluster(center: Array[Double], n: Int, base: Long, seed: Int) = {
      val rnd = new scala.util.Random(4000 + seed)
      (0 until n).map { i =>
        (base + i, Array.tabulate(dim)(d =>
          (center(d) + rnd.nextGaussian() * 0.08).toFloat))
      }
    }
    def axis(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    val corpus = (0 until 4).flatMap(i => cluster(axis(i), 100, i * 1000L, i))
      .toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" % 1000 < 3)
    val m = 2; val ksub = 16
    val flat = Vectors.pqIndex(corpus, "vec_id", "embedding", m = m, ksub = ksub)
    val res = Vectors.ivfPqIndex(corpus, "vec_id", "embedding", nlist = 4,
      m = m, ksub = ksub)
    // ADC vs true cosine over all (query, corpus) pairs, both encodings
    def lutUdfOf(cb: Vectors.PqCodebooks) = {
      val bc = spark.sparkContext.broadcast(cb)
      udf { (qv: Seq[Double]) =>
        val b = bc.value
        val lut = new Array[Double](b.m * b.ksub)
        for (s <- 0 until b.m; c <- 0 until b.ksub) {
          val base = (s * b.ksub + c) * b.dsub
          var d = 0.0
          for (j <- 0 until b.dsub) d += qv(s * b.dsub + j) * b.flat(base + j)
          lut(s * b.ksub + c) = d
        }
        lut
      }
    }
    val qFlat = flat.codes.join(q.select($"vec_id".as("qid")), $"cid" === $"qid")
      .select($"qid", $"__cv".as("__qv")).withColumn("__lut", lutUdfOf(flat.cb)($"__qv"))
    val errFlat = flat.codes.crossJoin(broadcast(qFlat))
      .withColumn("__adc", graft.functions.VectorExprs.pqAdc($"__code", $"__lut", ksub))
      .withColumn("__cos", Vectors.dot($"__qv", $"__cv"))
      .agg(avg(abs($"__adc" - $"__cos"))).head().getDouble(0)
    val qRes = res.codes.join(q.select($"vec_id".as("qid")), $"cid" === $"qid")
      .select($"qid", $"__cv".as("__qv")).withColumn("__lut", lutUdfOf(res.cb)($"__qv"))
    val errRes = res.codes.crossJoin(broadcast(qRes))
      .join(broadcast(res.centroids), Seq("__cell"))
      .withColumn("__adc", Vectors.dot($"__qv", $"__centroid") +
        graft.functions.VectorExprs.pqAdc($"__code", $"__lut", ksub))
      .withColumn("__cos", Vectors.dot($"__qv", $"__cv"))
      .agg(avg(abs($"__adc" - $"__cos"))).head().getDouble(0)
    assert(errRes < errFlat,
      s"residual ADC must be finer on clustered data: res=$errRes flat=$errFlat")
    // and the search built on it: rescoring a cluster-sized candidate
    // set recovers the exact top-k (within a 0.08-σ cluster the true
    // top-10 are near-ties — the ADC net must ADMIT them, the exact
    // rescore ranks them), deterministic
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Vectors.cosineTopK(corpus, q, "vec_id", "embedding", 10))
    val got = pairs(Vectors.ivfPqSearchResidual(res, q, "vec_id", "embedding",
      10, nprobe = 4, rescoreK = 100))
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall")
    assert(got == pairs(Vectors.ivfPqSearchResidual(res, q, "vec_id", "embedding",
      10, nprobe = 4, rescoreK = 100)))
  }

  test("OPQ: orthonormal rotation, never worse than plain PQ, deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7100)
    val corpus = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (opq, plain) = Vectors.opqFitWithBaseline(corpus, "embedding", m = 2, ksub = 8)
    assert(opq.orthonormalityError < 1e-9, s"err=${opq.orthonormalityError}")
    // the identity baseline carries exactly plain PQ's codebooks
    assert(java.util.Arrays.equals(plain.cb.flat,
      Vectors.pqFit(corpus, "embedding", m = 2, ksub = 8).flat))
    val msePq = Vectors.opqDistortion(corpus, "embedding", plain).get
    val mseOpq = Vectors.opqDistortion(corpus, "embedding", opq).get
    // iteration 0 of the fit IS plain PQ (identity rotation, same
    // seed) and the model is the argmin over iterations, so on the
    // training corpus this inequality is structural
    assert(mseOpq <= msePq + 1e-12, s"opq=$mseOpq pq=$msePq")
    // seeded driver-side fit: bit-for-bit deterministic
    val again = Vectors.opqFitWithBaseline(corpus, "embedding", m = 2, ksub = 8)._1
    assert(java.util.Arrays.equals(again.rotation, opq.rotation))
    assert(java.util.Arrays.equals(again.cb.flat, opq.cb.flat))
  }

  test("OPQ: genuinely better than plain PQ when the split misaligns with the variance") {
    import spark.implicits._
    // the regime OPQ exists for (Ge et al. §1): all the variance sits
    // in the first subspace of the identity split — the second
    // subspace's codebook budget is wasted on near-constant
    // coordinates. A rotation re-balances variance across subspaces;
    // the alternating solution must find enough of it to beat the
    // identity split clearly, not marginally.
    val rnd = new scala.util.Random(7200)
    val corpus = (0 until 600).map { i =>
      val v = Array.tabulate(8)(d =>
        if (d < 4) rnd.nextGaussian().toFloat else (rnd.nextGaussian() * 0.01).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val (opq, plain) = Vectors.opqFitWithBaseline(corpus, "embedding", m = 2, ksub = 8)
    val msePq = Vectors.opqDistortion(corpus, "embedding", plain).get
    val mseOpq = Vectors.opqDistortion(corpus, "embedding", opq).get
    assert(mseOpq < msePq * 0.9,
      s"rotation should cut distortion on anisotropic data: opq=$mseOpq pq=$msePq")
  }

  test("OPQ serving path: finer ADC than plain PQ on anisotropic data, exact on planted copies") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same variance-imbalanced regime as the fit test — the serving
    // question is whether the rotated codes make the ADC net sharper
    val rnd = new scala.util.Random(7300)
    val corpus = (0 until 600).map { i =>
      val v = Array.tabulate(8)(d =>
        if (d < 4) rnd.nextGaussian().toFloat else (rnd.nextGaussian() * 0.01).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" < 5)
    val m = 2; val ksub = 8
    val (opqM, _) = Vectors.opqFitWithBaseline(corpus, "embedding", m = m, ksub = ksub)
    val plainIdx = Vectors.pqIndex(corpus, "vec_id", "embedding", m = m, ksub = ksub)
    val opqIdx = Vectors.opqIndex(corpus, "vec_id", "embedding", opqM)
    // mean |ADC − true cos| over all (query, corpus) pairs, both frames
    // (codes and __cv of the opq index live in the rotated frame;
    // cosines there equal original-space cosines)
    def adcErr(idx: Vectors.PqIndexData, queriesIn: org.apache.spark.sql.DataFrame) = {
      val bc = spark.sparkContext.broadcast(idx.cb)
      val lutU = udf { (qv: Seq[Double]) =>
        val b = bc.value
        val lut = new Array[Double](b.m * b.ksub)
        for (s <- 0 until b.m; c <- 0 until b.ksub) {
          val base = (s * b.ksub + c) * b.dsub
          var d = 0.0
          for (j <- 0 until b.dsub) d += qv(s * b.dsub + j) * b.flat(base + j)
          lut(s * b.ksub + c) = d
        }
        lut
      }
      val qn = idx.codes.join(queriesIn.select($"vec_id".as("qid")), $"cid" === $"qid")
        .select($"qid", $"__cv".as("__qv")).withColumn("__lut", lutU($"__qv"))
      idx.codes.crossJoin(broadcast(qn))
        .withColumn("__adc", graft.functions.VectorExprs.pqAdc($"__code", $"__lut", ksub))
        .withColumn("__cos", Vectors.dot($"__qv", $"__cv"))
        .agg(avg(abs($"__adc" - $"__cos"))).head().getDouble(0)
    }
    val errPlain = adcErr(plainIdx, q)
    val errOpq = adcErr(opqIdx, q)
    assert(errOpq < errPlain,
      s"rotated-frame ADC must be finer on anisotropic data: opq=$errOpq plain=$errPlain")
    // planted exact copies surface first through the rotated net, and
    // the search is deterministic
    val copies = corpus.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val planted = corpus.unionByName(copies)
    val idx2 = Vectors.opqIndex(planted, "vec_id", "embedding", opqM)
    def firstHits(df: org.apache.spark.sql.DataFrame) =
      df.filter($"rnk" === 1).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = firstHits(Vectors.opqTopK(idx2, opqM, corpus.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 5, rescoreK = 20))
    assert(got == Set((0L, 10000L), (1L, 10001L), (2L, 10002L)), got.toString)
    assert(got == firstHits(Vectors.opqTopK(idx2, opqM, corpus.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 5, rescoreK = 20)))
  }

  test("PQ survives zero and null vectors (norm-gated, no NPE)") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val good = spark.read.parquet(sf("embeddings"))
      .filter($"vec_id" < 50).select($"vec_id", $"embedding")
    val dim = good.select(org.apache.spark.sql.functions.size($"embedding"))
      .head().getInt(0)
    val bad = spark.createDataFrame(java.util.Arrays.asList(
      Row(9000L, Array.fill(dim)(0.0f).toSeq),
      Row(9001L, null)),
      schema)
    val idx = Vectors.pqIndex(good.unionByName(bad), "vec_id", "embedding",
      m = 8, ksub = 16)
    val res = Vectors.pqTopK(idx, good.filter($"vec_id" < 3), "vec_id",
      "embedding", k = 5)
    assert(res.count() > 0)
    assert(res.filter($"vec_id" >= 9000L).isEmpty)
  }

  test("PQ ADC poisons out-of-range code bytes to null (corrupt/foreign code column)") {
    import spark.implicits._
    val ksub = 16 // < 256, so a byte can legally exceed it
    val lut = Array.tabulate(2 * ksub)(_.toDouble)
    val rows = Seq(
      (1L, Array[Byte](3, 5)),            // valid: lut(3) + lut(16+5)
      (2L, Array[Byte](3, ksub.toByte)),  // second byte == ksub: out of range
      (3L, Array[Byte](-1, 0)))           // -1 & 0xFF = 255: out of range
      .toDF("id", "code")
      .withColumn("lut", org.apache.spark.sql.functions.typedLit(lut))
    val got = rows
      .withColumn("adc", graft.functions.VectorExprs.pqAdc($"code", $"lut", ksub))
      .orderBy($"id").collect()
    assert(got(0).getDouble(3) === lut(3) + lut(16 + 5))
    assert(got(1).isNullAt(3), "code byte == ksub must poison to null")
    assert(got(2).isNullAt(3), "code byte 255 with ksub=16 must poison to null")
  }

  test("PQ ADC scores a lookup table read back from parquet like the in-memory one; a null element gives null") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val ksub = 16
    val rnd = new scala.util.Random(11)
    val rows = (1L to 6L).map(id =>
      (id, Array.fill(2)(rnd.nextInt(ksub).toByte), Array.fill(2 * ksub)(rnd.nextGaussian())))
    // the LUT builder's type: array<double> without null elements
    val mem = rows.toDF("id", "code", "lut")
    assert(mem.schema("lut").dataType == ArrayType(DoubleType, containsNull = false))
    def scores(df: org.apache.spark.sql.DataFrame) = {
      val out = df.select(col("id"),
        graft.functions.VectorExprs.pqAdc(col("code"), col("lut"), ksub).as("adc"))
      (out.queryExecution.executedPlan, out.collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap)
    }
    val want = scores(mem)._2
    assert(want.values.forall(_.isDefined))
    // a file source reads every array back as containsNull = true; one
    // more row holds a null element
    val holed: Array[Any] = Array.tabulate[Any](2 * ksub)(i => if (i == 5) null else i.toDouble)
    val dir = "/tmp/graft_test/adc_lut_parquet"
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, c, l) => Row(id, c, l.toSeq) } :+ Row(7L, Array[Byte](1, 2), holed.toSeq): _*),
      StructType(Seq(StructField("id", LongType), StructField("code", BinaryType),
        StructField("lut", ArrayType(DoubleType, containsNull = true)))))
      .write.mode("overwrite").parquet(dir)
    def session(conf: (String, String)*) = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    val gen = session("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    val interp = session("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val (genPlan, genOut) = scores(gen.read.parquet(dir))
    val (interpPlan, interpOut) = scores(interp.read.parquet(dir))
    assert(gen.read.parquet(dir).schema("lut").dataType == ArrayType(DoubleType, containsNull = true))
    assert(genPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty, genPlan.toString)
    assert(interpPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty, interpPlan.toString)
    assert(genOut == interpOut, "generated vs interpreted differ")
    assert(genOut - 7L == want, "a lut read back from parquet must score like the in-memory one")
    assert(genOut(7L).isEmpty, "a null lut element must give null")
  }

  test("generated code of every native vector and min-hash expression equals its interpreted eval bit for bit") {
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.functions.{col, udf}
    import org.apache.spark.sql.types._
    import graft.functions.{MinHashExprs, VectorExprs}
    // inputs go through parquet: a projection over a local relation is
    // evaluated interpreted, so only a file scan runs the generated code
    val rnd = new scala.util.Random(1729)
    val dim = 8
    def vec(nullable: Boolean, double: Boolean): Any = {
      // boxed, so a float never widens to a double
      def num(d: Double, f: Float): Any =
        if (double) java.lang.Double.valueOf(d) else java.lang.Float.valueOf(f)
      def x: Any = { val g = rnd.nextGaussian(); num(g, g.toFloat) }
      rnd.nextInt(12) match {
        case 0 => null                                      // null row
        case 1 => Seq.fill(dim)(num(0.0, 0.0f))             // zero vector
        case 2 if nullable => Seq.tabulate(dim)(i => if (i == 3) null else x)
        case 3 => Seq.tabulate(dim)(i => if (i == 5) num(Double.NaN, Float.NaN) else x)
        case 4 => Seq.fill(dim - 1)(x)                      // length / dimension mismatch
        case 5 => Seq.empty
        case 6 => Seq.tabulate(dim)(i => if (i == 0) num(Double.MaxValue, Float.MaxValue) else x)
        case 7 => Seq.tabulate(dim)(i => if (i == 1) num(-0.0, -0.0f) else x)
        case _ => Seq.fill(dim)(x)
      }
    }
    val (m, ksub) = (4, 16)
    val rows = (0 until 600).map { id =>
      val code = rnd.nextInt(8) match {
        case 0 => null
        case 1 => Array.fill(m)(rnd.nextInt(ksub).toByte).updated(rnd.nextInt(m), ksub.toByte)
        case 2 => Array.fill(m)(rnd.nextInt(ksub).toByte).updated(rnd.nextInt(m), 255.toByte)
        case _ => Array.fill(m)(rnd.nextInt(ksub).toByte)
      }
      val lut = rnd.nextInt(8) match {
        case 0 => null
        case 1 => Seq.fill(m * ksub - 1)(rnd.nextGaussian())  // wrong size
        case _ => Seq.fill(m * ksub)(rnd.nextGaussian())
      }
      val sh = rnd.nextInt(6) match {
        case 0 => null
        case 1 => Seq.empty
        case 2 => Seq("a b c", null, "b c d")
        case 3 => Seq(null, null)
        case _ => Seq.fill(1 + rnd.nextInt(5))(s"w${rnd.nextInt(20)} w${rnd.nextInt(20)}")
      }
      Row(id.toLong, vec(nullable = true, double = false), vec(nullable = true, double = false),
        vec(nullable = false, double = false), vec(nullable = true, double = true),
        vec(nullable = true, double = true), vec(nullable = false, double = true), code, lut, sh)
    }
    def arr(name: String, et: DataType, containsNull: Boolean) =
      StructField(name, ArrayType(et, containsNull))
    val schema = StructType(Seq(StructField("id", LongType),
      arr("fa", FloatType, true), arr("fb", FloatType, true), arr("fn", FloatType, false),
      arr("da", DoubleType, true), arr("db", DoubleType, true), arr("dn", DoubleType, false),
      StructField("code", BinaryType), arr("lut", DoubleType, false), arr("sh", StringType, true)))
    val dir = "/tmp/graft_test/codegen_pin"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.mode("overwrite").parquet(dir)

    val planes = Array.fill(4 * 3)(Array.fill(dim)(rnd.nextGaussian()))
    val vecCols = Seq("fa", "fn", "da", "dn")
    val native: Seq[(String, Column)] =
      Seq("dot_f" -> VectorExprs.dot(col("fa"), col("fb")),
        "dot_fn" -> VectorExprs.dot(col("fn"), col("fa")),
        "dot_d" -> VectorExprs.dot(col("da"), col("db")),
        "dot_dn" -> VectorExprs.dot(col("dn"), col("dn"))) ++
        vecCols.map(c => s"norm_$c" -> VectorExprs.l2norm(col(c))) ++
        vecCols.map(c => s"unit_$c" -> VectorExprs.normalize(col(c))) ++
        vecCols.map(c => s"srp_$c" -> VectorExprs.srpBandKeys(col(c), planes, 3, 4)) ++
        Seq("adc" -> VectorExprs.pqAdc(col("code"), col("lut"), ksub),
          "minhash" -> MinHashExprs.minhashMinima(col("sh"), 6))
    val oracle: Seq[(String, Column)] =
      Seq("dot_f" -> dotHof(col("fa"), col("fb")), "dot_fn" -> dotHof(col("fn"), col("fa")),
        "dot_d" -> dotHof(col("da"), col("db")), "dot_dn" -> dotHof(col("dn"), col("dn"))) ++
        vecCols.map(c => s"norm_$c" -> l2normHof(col(c))) ++
        vecCols.map(c => s"unit_$c" -> normalizedHof(col(c)))
    // raw IEEE bits, so NaN payloads and signed zeros count
    def bits(v: Any): String = v match {
      case null => "null"
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      case s: scala.collection.Seq[_] => s.map(bits).mkString("[", ",", "]")
      case other => other.toString
    }
    // a parquet scan reads every array as containsNull = true; the ADC
    // lut is re-typed null-free by a udf, as the LUT builder's is
    val nullFree = udf((l: Seq[Double]) => if (l == null) null else l.toArray)
    def eval(s: SparkSession, cols: Seq[(String, Column)]) = {
      val df = s.read.parquet(dir).withColumn("lut", nullFree(col("lut")))
        .select(col("id") +: cols.map { case (n, c) => c.as(n) }: _*)
      val rows = df.collect().toSeq.sortBy(_.getLong(0))
      (df.queryExecution.executedPlan, cols.map(_._1).zipWithIndex.map { case (n, i) =>
        n -> rows.map(r => r.getLong(0) -> bits(r.get(i + 1))) }.toMap)
    }
    def session(conf: (String, String)*) = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    // generated: whole-stage codegen, with a failed compile raising
    // instead of falling back to interpreted eval
    val gen = session("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    val interp = session("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val (genPlan, genOut) = eval(gen, native)
    val (interpPlan, interpOut) = eval(interp, native)
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    assert(genPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty, genPlan.toString)
    assert(interpPlan.collect { case w: WholeStageCodegenExec => w }.isEmpty, interpPlan.toString)
    for ((name, _) <- native) {
      val diff = genOut(name).zip(interpOut(name)).filter { case (g, i) => g != i }
      assert(diff.isEmpty, s"$name: generated vs interpreted differ, first ${diff.take(3)}")
      // every expression meets both a null and a defined result
      val vs = genOut(name).map(_._2)
      assert(vs.contains("null") && vs.exists(_ != "null"), s"$name: inputs miss a case")
    }
    // and both paths equal the higher-order-function oracles
    val (_, oracleOut) = eval(interp, oracle)
    for ((name, _) <- oracle) {
      val diff = genOut(name).zip(oracleOut(name)).filter { case (g, o) => g != o }
      assert(diff.isEmpty, s"$name: native vs HOF oracle differ, first ${diff.take(3)}")
    }
  }
}
