package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.not
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Text}

/** Invariants for the hash-based dedup ops the DuckDB oracle can't
  * reproduce (seeded MinHash/SimHash families). */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private def corpus() = {
    import spark.implicits._
    // 0/1 near-identical (one word changed), 2 a copy of 0, 3/4 unrelated.
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy cat again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different content about spark query engines at scale"),
      (4L, "unrelated words nothing shared with anything else whatsoever here"))
      .toDF("doc_id", "text")
  }

  test("minhash finds planted near-duplicates and skips unrelated docs") {
    import spark.implicits._
    val pairs = Dedup.minhashNearDups(corpus(), "doc_id", $"text",
      jaccardDistThreshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), "exact copy must collide")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)), "near-dup must collide")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not collide")
  }

  test("minhash is deterministic across runs (fixed seed)") {
    import spark.implicits._
    def run() = Dedup.minhashNearDups(corpus(), "doc_id", $"text", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  test("simhash: identical docs get identical signatures; near-dups are close in hamming") {
    import spark.implicits._
    val sig = Dedup.simhash(corpus(), $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sig(0L) == sig(2L), "identical text, identical simhash")
    assert(hamming(sig(0L), sig(1L)) < hamming(sig(0L), sig(4L)),
      "near-dup closer than unrelated")
  }

  test("ngram jaccard on LSH candidates: exact copy scores 1.0") {
    import spark.implicits._
    val docs = corpus()
    val cands = Dedup.minhashNearDups(docs, "doc_id", $"text", 0.9)
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("sh"))
    val scored = Dedup.jaccardOnPairs(
      cands.join(sh.select($"doc_id".as("id_a"), $"sh".as("sh_a")), "id_a")
        .join(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")), "id_b"),
      $"sh_a", $"sh_b")
      .select($"id_a", $"id_b", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(scored((0L, 2L)) == 1.0)
    assert(scored((0L, 1L)) > 0.5 && scored((0L, 1L)) < 1.0)
  }

  test("jaccardPairsExact equals brute-force all-pairs at every threshold (prefix completeness)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0).localCheckpoint(true)
    // brute force: shared-shingle pairs + exact jaccard, no prefix pruning
    val ex = sh.select($"doc_id", explode($"__sh").as("g"))
    val sz = sh.select($"doc_id", size($"__sh").as("n"))
    val brute = ex.as("a").join(ex.as("b"),
        $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select($"doc_id".as("id_a"), $"n".as("na")), "id_a")
      .join(sz.select($"doc_id".as("id_b"), $"n".as("nb")), "id_b")
      .withColumn("jaccard", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val expected = brute.filter($"jaccard" >= t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"threshold $t: prefix join must be recall-complete and precise")
    }
  }

  /** The exploded-SQL formulation of [[Dedup.portableBandSignatures]]
    * — the test oracle its native min-hash kernel is pinned against:
    * explode the shingle array, project `ceil(numHashes/4)` md5 hex
    * digests per instance (named columns — Catalyst does not reliably
    * CSE a common md5 across sibling aggregates), then `numHashes`
    * string-min aggregates over fixed-width 7-char hex substrings
    * (which order identically to their numeric values). */
  private def portableBandSignaturesExploded(sh: DataFrame, id: String,
                                             shCol: String, numHashes: Int,
                                             bands: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val rows = numHashes / bands
    val numDigests = (numHashes + 3) / 4
    val ex = sh.select(col(id), explode(col(shCol)).as("__g"))
      .select(col(id) +: (0 until numDigests).map(j =>
        md5(concat(lit(s"$j:"), col("__g"))).as(s"__d$j")): _*)
    val minAggs = (0 until numHashes).map { i =>
      val j = i / 4 // digest index
      val c = i % 4 // 7-hex-digit chunk within the digest
      min(substring(col(s"__d$j"), 1 + 7 * c, 7)).as(s"__m$i")
    }
    val sig = ex.groupBy(col(id)).agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rows).map(r =>
          conv(col(s"__m${b * rows + r}"), 16, 10).cast("long")
            .cast("string")): _*).as("key"))
    }
    sig.select(col(id), explode(array(bandCols: _*)).as("__b"))
      .select(col(id), col("__b.band").as("__band"), col("__b.key").as("__key"))
  }

  test("native min-hash kernel matches the exploded md5 formulation bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // real corpus text PLUS planted edge cases: an empty shingle array
    // (doc must be ABSENT from the banded relation, matching the
    // exploded form's no-aggregate-row behavior) and a one-shingle doc
    val docs = spark.read.parquet(sf("documents"))
      .select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .union(Seq(
        (900001L, Seq.empty[String]),
        (900002L, Seq("one two three"))).toDF("doc_id", "__sh"))
    for ((nh, b) <- Seq((12, 4), (8, 2))) {
      val native = Dedup.portableBandSignatures(docs, "doc_id", "__sh", nh, b)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val exploded = portableBandSignaturesExploded(docs, "doc_id", "__sh", nh, b)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(native == exploded,
        s"(numHashes=$nh, bands=$b): native kernel must reproduce the " +
          s"exploded md5 pipeline exactly; diff = " +
          s"${(native -- exploded).take(3)} / ${(exploded -- native).take(3)}")
      assert(!native.exists(_._1 == 900001L), "empty-shingle doc must be absent")
      assert(native.exists(_._1 == 900002L), "one-shingle doc must be signed")
    }
  }

  test("collision-join partition count scales with estimated collision volume, no session floor") {
    import spark.implicits._
    // one hot shingle shared by 2000 docs -> 4M estimated collisions;
    // at 10k per partition the derived count is 400, not the session's
    val hot = (1 to 2000).map(i => (i.toLong, 5, 0, 42L)).toDF("doc_id", "__n", "__p", "__h")
    assert(Dedup.collisionPartitions(hot,
      targetCollisionsPerPartition = 10000L) == 400)
    // a tiny corpus gets FEW partitions, not the session width (round
    // 22, VERDICT r21 #1: the session floor fanned few-hundred-pair
    // stages to 32 tasks and the keys ran 3x faster at 8 cores than 32)
    val cold = (1 to 10).map(i => (i.toLong, 5, 0, i.toLong)).toDF("doc_id", "__n", "__p", "__h")
    assert(Dedup.collisionPartitions(cold,
      targetCollisionsPerPartition = 10000L) == 1)
    // empty postings (all-empty shingle corpus) must not throw, and
    // must still derive a legal (>= 1) count
    assert(Dedup.collisionPartitions(hot.filter($"__n" < 0),
      targetCollisionsPerPartition = 10000L) == 1)
    // the cap holds at absurd volumes (100 TB feasibility)
    assert(Dedup.collisionPartitions(hot,
      targetCollisionsPerPartition = 1L) == 4096)
  }

  test("probe collision estimate over pruned corpus postings equals the full-corpus estimate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the round-12 single-pass serve computes Σ_h pc(h)·cc(h) on the
    // probe-vocabulary-PRUNED corpus postings; identical by the inner
    // product's support (hashes with pc=0 contribute zero), pinned
    // here on relations where the corpus vocabulary is a strict
    // superset of the probe's
    val corpus = (0L until 40L).map(i =>
      (i, s"alpha beta gamma shared$i tail${i}a tail${i}b tail${i}c"))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
    val probe = (100L until 104L).map(i =>
      (i, s"alpha beta gamma shared${i - 100} probe${i}x probe${i}y"))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
    val cEx = graft.ops.Dedup.hashedShingles(corpus, "doc_id", "__sh")
    val dfreq = cEx.groupBy($"__h").agg(count(lit(1)).as("__df"))
    val cOrd = graft.ops.Dedup.orderedByDf(cEx, dfreq, "doc_id")
    val pOrd = graft.ops.Dedup.orderedByDf(
      graft.ops.Dedup.hashedShingles(probe, "doc_id", "__sh"), dfreq, "doc_id")
    def est(cPost: org.apache.spark.sql.DataFrame): Double = {
      val pc = graft.ops.Dedup.prefixPostings(pOrd, "doc_id", 0.5)
        .groupBy($"__h").agg(count(lit(1)).as("__pc"))
      val cc = cPost.groupBy($"__h").agg(count(lit(1)).as("__cc"))
      val r = pc.join(cc, "__h")
        .agg(sum($"__pc".cast("double") * $"__cc")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    val full = est(graft.ops.Dedup.prefixPostings(cOrd, "doc_id", 0.5))
    val pruned = est(graft.ops.Dedup.prunedCorpusPostings(pOrd, cOrd, "doc_id", 0.5))
    assert(full > 0.0, "planted corpus must produce prefix collisions")
    assert(pruned == full,
      s"pruned-postings estimate must equal the full estimate: $pruned vs $full")
  }

  test("jaccardProbe equals brute-force one-way at every threshold; corpus never self-pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh" ) > 0).localCheckpoint(true)
    // probes: verbatim copies of docs 0-9 (disjoint ids) — each must
    // find at least its own original at jaccard 1.0
    val probes = sh.filter($"doc_id" < 10)
      .select(($"doc_id" + 100000L).as("doc_id"), $"__sh")
    val pEx = probes.select($"doc_id", explode($"__sh").as("g"))
    val cEx = sh.select($"doc_id", explode($"__sh").as("g"))
    val pSz = probes.select($"doc_id".as("id_a"), size($"__sh").as("na"))
    val cSz = sh.select($"doc_id".as("id_b"), size($"__sh").as("nb"))
    val brute = pEx.as("a").join(cEx.as("b"), $"a.g" === $"b.g")
      .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(pSz, "id_a").join(cSz, "id_b")
      .withColumn("jaccard", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val expected = brute.filter($"jaccard" >= t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.jaccardProbeOnShingles(sh, probes, "doc_id", "__sh", t)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"threshold $t: probe must be recall-complete and precise")
      assert(got.forall(_._1 >= 100000L), "only probe ids on the left, corpus never self-pairs")
      assert((0 until 10).forall(i => got.contains((i + 100000L, i.toLong))),
        "every verbatim probe must rediscover its original")
    }
    // a probe with shingles entirely UNSEEN in the corpus (df 0, sorts
    // first in the canonical order) must return nothing, not crash
    val alien = Seq((200000L, Seq("zz qq xx", "qq xx yy"))).toDF("doc_id", "__sh")
    assert(Dedup.jaccardProbeOnShingles(sh, alien, "doc_id", "__sh", 0.5).count() == 0)
  }

  test("portable minhash: subset of brute-force >=0.5, superset of >=0.9; planted dups found") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0).localCheckpoint(true)
    val got = Dedup.minhashLshPortableOnShingles(sh, "doc_id", "__sh")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact join is the ground truth the LSH tier approximates
    val exact05 = Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact09 = Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact05), "rescore means no false positives ever")
    assert(exact09.subsetOf(got),
      "generator-planted ~0.99-jaccard pairs must band-collide (P_miss ~ (1-0.97)^4)")
    assert(exact09.nonEmpty, "testdata must actually contain planted near-dups")
    // plus the synthetic planted corpus: copy + one-word-changed near-dup
    val synth = corpus().select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    val sp = Dedup.minhashLshPortableOnShingles(synth, "doc_id", "__sh")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sp.contains((0L, 2L)), "exact copy must collide in every band")
    assert(!sp.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc must not pair")
  }

  test("portable simhash: identical text identical sig; near-dup closer than unrelated; 60-bit range") {
    import spark.implicits._
    val sig = Dedup.simhashPortable(corpus(), $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(sig(0L) == sig(2L), "identical text, identical simhash")
    assert(hamming(sig(0L), sig(1L)) < hamming(sig(0L), sig(4L)),
      "near-dup closer than unrelated")
    assert(sig.values.forall(s => s >= 0L && s < (1L << 60)), "60-bit signatures")
  }

  test("native shingles expression matches the udf and HOF formulations exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val cmp = docs.select(
      Dedup.shingles($"text").as("fast"),
      Dedup.shinglesUdf($"text").as("udf"),
      Dedup.shinglesExpr($"text").as("ref"))
    assert(cmp.filter(not($"fast" <=> $"udf") || not($"fast" <=> $"ref")).count() == 0)
    // and on degenerate inputs: under-n tokens, empty string, null
    val edge = Seq(Some("one two"), Some("a"), Some(""), Some("x y z w"), None)
      .toDF("text")
      .select(Dedup.shingles($"text").as("fast"),
        Dedup.shinglesUdf($"text").as("udf"),
        Dedup.shinglesExpr($"text").as("ref"))
    assert(edge.filter(not($"fast" <=> $"udf")).count() == 0)
    // HOF returns [] for null input's split-null case only when text is
    // non-null; compare fast vs ref on the non-null rows
    assert(edge.filter($"fast".isNotNull && not($"fast" <=> $"ref")).count() == 0)
  }

  test("shingle lowercasing is locale-independent (Turkish dotless-i pin, round 16)") {
    // default-locale toLowerCase maps "I" -> dotless "ı" under tr_TR,
    // which would fork the shingle vocabulary by HOST locale — breaking
    // the bit-exact cross-engine signature oracle and cross-executor
    // determinism on mixed-locale clusters. The kernel (and the udf pin
    // formulation) must map through Locale.ROOT regardless of default.
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      val out = graft.functions.ShingleKernel.shingles(
        org.apache.spark.unsafe.types.UTF8String.fromString("III II I"), 2)
      val got = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      assert(got == Seq("iii ii", "ii i"),
        s"shingles must use ROOT case mapping under any default locale, got $got")
    } finally java.util.Locale.setDefault(saved)
  }

  test("exact dedup keeps one row per fingerprint group") {
    import spark.implicits._
    val fp = Text.fingerprint(corpus(), $"text", "fp")
    val keepers = Dedup.keepersByKey(fp, Seq($"fp"), Seq($"doc_id".asc))
    assert(keepers.count() == 4) // 0 and 2 collapse
    val removed = Dedup.removedByKey(fp, Seq($"fp"), "doc_id", Seq($"doc_id".asc))
    assert(removed.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("levenshtein rescoring ranks the planted near-dup above unrelated") {
    import spark.implicits._
    val pairs = Seq(
      (0L, 1L, "the quick brown fox", "the quick brown cat"),
      (0L, 4L, "the quick brown fox", "completely different words here"))
      .toDF("id_a", "id_b", "ta", "tb")
    val scored = Dedup.levenshteinOnPairs(pairs, $"ta", $"tb")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(scored((0L, 1L)) > 0.8)
    assert(scored((0L, 1L)) > scored((0L, 4L)))
  }

  test("stratified sample respects per-stratum fractions and is seeded-deterministic") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val fractions = Map("en" -> 0.5, "fr" -> 0.1)
    def run() = Dedup.stratifiedSample(docs, "lang", fractions)
        .groupBy($"lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run()
    val totals = docs.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(fractions.keySet), "unlisted strata are dropped")
    fractions.foreach { case (k, f) =>
      val expected = totals(k) * f
      assert(math.abs(got.getOrElse(k, 0L) - expected) <= totals(k) * 0.25,
        s"$k: got ${got.get(k)}, expected ~$expected")
    }
    assert(run() == got, "sampleBy must be deterministic under a fixed seed")
  }

  test("clusterPairs finds connected components and min-id keepers") {
    import spark.implicits._
    // components: {0,1,2} (chain), {5,6}, {8,9,10,11} (star on 8)
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (8L, 9L), (8L, 10L), (8L, 11L))
      .toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 8L))
    val removed = Dedup.clusterRemovals(pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(removed == Set(1L, 2L, 6L, 9L, 10L, 11L))
  }

  test("clusterPairs on an empty pair set returns an empty relation") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusterPairs(empty).count() == 0)
    assert(Dedup.clusterRemovals(empty).count() == 0)
  }

  test("clusterPairs converges on a long chain (diameter > 2)") {
    import spark.implicits._
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet == Set(0L), clusters.toString)
  }

  test("clusterPairs converges logarithmically: a 100-link chain in <= 8 rounds") {
    import spark.implicits._
    // min-label propagation needs O(diameter) = 100 rounds here; the
    // alternating large-star/small-star contraction must land the
    // whole chain on cluster 0 in O(log n) rounds
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, iters) = Dedup.clusterPairsWithIters(chain, "id_a", "id_b", maxIter = 20)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 101, s"all 101 chain vertices must be labeled: ${got.length}")
    assert(got.forall(_._2 == 0L), s"all labels must be the chain minimum 0")
    assert(iters <= 8, s"expected logarithmic convergence, took $iters rounds")
  }

  test("clusterPairs works on string doc ids (structural convergence)") {
    import spark.implicits._
    // the old numeric label checksum null'd (or overflowed) on string
    // ids; the structural fixed-point check is type-agnostic
    val pairs = Seq(("doc-a", "doc-b"), ("doc-b", "doc-c"), ("doc-x", "doc-y"))
      .toDF("id_a", "id_b")
    val clusters = Dedup.clusterPairs(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "doc-x" -> "doc-x", "doc-y" -> "doc-x"))
    val removed = Dedup.clusterRemovals(pairs)
      .select("id").collect().map(_.getString(0)).toSet
    assert(removed == Set("doc-b", "doc-c", "doc-y"))
  }

  test("minhashNearDups leaves no cached (non-checkpoint) RDD behind") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashNearDups(docs, "doc_id", $"text", jaccardDistThreshold = 0.8).count()
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !before(id) && !rdd.isCheckpointed }
    // localCheckpoint blocks are context-cleaned on GC; an explicit
    // cache that outlives the call is the leak this pins against
    assert(leaked.isEmpty, s"leaked cached RDDs: ${leaked.keys}")
  }

  test("repetitionScore: repeated text scores high, distinct text zero, <2-token docs excluded") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one")).toDF("doc_id", "text")
    val r = Text.repetitionScore(docs, $"doc_id", $"text")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L)._1 == 1.0)             // all 4 tokens are the top token
    assert(r(1L)._2 == 1.0 - 1.0 / 3.0) // 3 bigrams, 1 distinct
    assert(r(2L)._1 == 1.0 / 6.0)
    assert(r(2L)._2 == 0.0)
    assert(!r.contains(3L))             // no bigrams -> excluded
  }

  test("native bigram tally matches the udf formulation exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val toks = Text.wsTokens(org.apache.spark.sql.functions.lower($"text"))
    val cmp = docs.select(
      graft.functions.TextExprs.bigramTally(toks).as("fast"),
      Text.bigramTallyUdf(toks).as("udf"))
    assert(cmp.filter(
      not($"fast.n_bg" <=> $"udf._1") || not($"fast.n_bg_d" <=> $"udf._2"))
      .count() == 0)
    // degenerate inputs: <2 tokens, repeated bigrams, empty-ish strings
    val edge = Seq("one", "a a a a a", "x y", "", "  ").toDF("text")
      .select(Text.wsTokens(org.apache.spark.sql.functions.lower($"text")).as("t"))
      .select(graft.functions.TextExprs.bigramTally($"t").as("fast"),
        Text.bigramTallyUdf($"t").as("udf"))
    assert(edge.filter(
      not($"fast.n_bg" <=> $"udf._1") || not($"fast.n_bg_d" <=> $"udf._2"))
      .count() == 0)
    // null ARRAY ELEMENTS (containsNull=true input, reachable via e.g.
    // transform+when even though wsTokens never produces them): the udf
    // renders a null token as the literal "null" via mkString — the
    // kernel must match, not NPE
    val nullElems = Seq(Seq("a", null, "a"), Seq(null, null), Seq("x", null))
      .toDF("t")
      .select(graft.functions.TextExprs.bigramTally($"t").as("fast"),
        Text.bigramTallyUdf($"t").as("udf"))
    assert(nullElems.filter(
      not($"fast.n_bg" <=> $"udf._1") || not($"fast.n_bg_d" <=> $"udf._2"))
      .count() == 0)
  }

  test("ngram-jaccard candidate net tied to the rescore cutoff prunes, loses nothing") {
    import spark.implicits._
    // The harness rescore keeps jaccard >= 0.2 (distance <= 0.8); a
    // candidate net at 0.85 must (a) admit no more pairs than the old
    // demo-wide 0.9 net, and (b) surface the SAME surviving pair set
    // after the exact rescore.
    val docs = spark.read.parquet(sf("documents"))
    val feats = Dedup.minhashFeaturize(docs, "doc_id", $"text").persist()
    def survivors(net: Double): (Long, Set[(Long, Long)]) = {
      val cands = Dedup.minhashNearDupsOnFeatures(feats, "doc_id", net)
      val sh = feats.select($"doc_id", $"__sh".as("sh"))
      val surv = Dedup.jaccardOnPairs(
        cands.join(sh.select($"doc_id".as("id_a"), $"sh".as("sh_a")), "id_a")
          .join(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")), "id_b"),
        $"sh_a", $"sh_b")
        .filter($"jaccard" >= 0.2)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (cands.count(), surv)
    }
    val (nWide, sWide) = survivors(0.9)
    val (nTight, sTight) = survivors(0.85)
    feats.unpersist(blocking = true)
    assert(nTight <= nWide, s"tight net admitted MORE candidates: $nTight > $nWide")
    assert(sTight == sWide, "tightening the net must not change the rescored pair set")
  }

  test("the candidate-net margin covers the observed feature-vs-shingle deviation") {
    import org.apache.spark.sql.functions.{abs, lit, max}
    import spark.implicits._
    // The 0.85 net = the 0.8 rescore bound + a margin for the gap
    // between HashingTF-feature Jaccard (what MinHashLSH's distCol
    // measures, subject to 2^18-bucket collisions) and true shingle
    // Jaccard (what the rescore keeps). Derive the margin from the
    // data instead of trusting a constant: over EVERY bucket-surfaced
    // pair, 0.8 + the worst observed deviation must stay inside the
    // net — a corpus that drifts past it fails here, loudly, instead
    // of silently dropping rescore-survivable pairs at the net.
    val docs = spark.read.parquet(sf("documents"))
    val feats = Dedup.minhashFeaturize(docs, "doc_id", $"text").persist()
    val cands = Dedup.minhashNearDupsOnFeatures(feats, "doc_id",
      jaccardDistThreshold = 1.0)
    val sh = feats.select($"doc_id", $"__sh".as("sh"))
    val dev = Dedup.jaccardOnPairs(
      cands.join(sh.select($"doc_id".as("id_a"), $"sh".as("sh_a")), "id_a")
        .join(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")), "id_b"),
      $"sh_a", $"sh_b")
      .select(abs((lit(1.0) - $"jaccard") - $"jaccard_dist").as("dev"))
      .agg(max($"dev")).head().getDouble(0)
    feats.unpersist(blocking = true)
    assert(0.8 + dev <= 0.85,
      f"rescore bound 0.8 + observed feature-vs-shingle deviation $dev%.4f " +
        "escapes the 0.85 candidate net — survivable pairs could be dropped")
  }

  test("contaminatedIds flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // shares "alpha beta gamma"
      (2L, "totally unrelated words in this doc"),
      (3L, "zeta eta theta and then alpha beta gamma"), // shares at the tail
      (4L, "alpha gamma beta reordered so no trigram match"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma iota kappa")).toDF("bid", "btext")
    def flagged(c: DataFrame) = Text.contaminatedIds(c, bench, $"doc_id", $"text", $"btext")
      .collect().map(_.getLong(0)).toSet
    // partitioning changes only where rows are computed, never the ids
    for (parts <- Seq(1, 4))
      assert(flagged(corpus.repartition(parts)) == Set(1L, 3L), s"$parts partitions")
  }

  test("packTokenBudget fills each group best-first and stops at the budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "en", 500), (2L, "en", 400), (3L, "en", 300), (4L, "en", 200),
      (5L, "fr", 900), (6L, "fr", 150))
      .toDF("doc_id", "lang", "n_tok")
    val got = Text.packTokenBudget(docs, col("lang"),
      Seq(col("n_tok").desc, col("doc_id").asc), col("n_tok"), budget = 1000L)
      .select($"doc_id", $"cum_tok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // en: 500 + 400 = 900 fits, +300 would overflow -> docs 1, 2;
    // fr: 900 fits, +150 overflows -> doc 5
    assert(got == Map(1L -> 500L, 2L -> 900L, 5L -> 900L))
  }

  test("stableStratifiedSample: whitelist semantics, per-stratum rates, determinism") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val pcts = Map("src0" -> 80, "src3" -> 50, "src7" -> 20)
    def run() = Dedup.stableStratifiedSample(docs, $"doc_id", $"source", pcts)
      .select($"doc_id", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = run()
    assert(got == run(), "stable sampling must be a pure function of the id")
    assert(got.forall { case (_, s) => pcts.contains(s) }, "unlisted strata dropped")
    // each stratum's kept set is exactly stableHashSample at its rate
    for ((s, p) <- pcts) {
      val expect = Dedup.stableHashSample(docs.filter($"source" === s), $"doc_id", p)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(got.filter(_._2 == s).map(_._1) == expect, s"stratum $s")
    }
  }

  test("stableWeightedSample: layout-invariant, weight-sensitive, degenerate-weight-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.stableWeightedSample(df, $"doc_id", length($"text"), 50)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    val got = run(docs)
    assert(got.size == 50)
    // pure function of (id, weight): any physical layout gives the set
    assert(got == run(docs.repartition(7)) && got == run(docs.coalesce(1)))
    // weight sensitivity: an item whose weight dwarfs the corpus mass
    // has key -ln(u)/w ~ 0 and is always selected
    val heavy = Seq((999999L, "x" * 1000000)).toDF("doc_id", "text")
    val withHeavy = docs.select($"doc_id", $"text").unionByName(heavy)
    assert(run(withHeavy).contains(999999L), "overwhelming weight must be kept")
    // n >= corpus keeps everything with positive weight; weight <= 0 and
    // null weights are excluded, never crash
    val tiny = Seq((1L, 10), (2L, 0), (3L, -4), (4L, 7)).toDF("id", "w")
    val kept = Dedup.stableWeightedSample(tiny, $"id", $"w", 10)
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
  }

  test("lmScore: fluent text outranks garbled text; fold is layout-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // corpus dominated by one fluent pattern; one doc repeats the
    // corpus-frequent transitions, one is made of transitions seen
    // nowhere else — the smoothed bigram LM must rank them accordingly
    val base = (0L until 40L).map(i => (i, "the cat sat on the mat"))
    val fluent = Seq((100L, "the cat sat on the mat the cat sat"))
    val garbled = Seq((101L, "zq vx plk wrn zq blorp vx nnt"))
    val docs = (base ++ fluent ++ garbled).toDF("doc_id", "text")
    def scores(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.lmScore(df, $"doc_id", $"text")
        .select($"doc_id", $"lm_logprob").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s = scores(docs)
    assert(s(100L) > s(101L),
      s"fluent ${s(100L)} must outrank garbled ${s(101L)}")
    // every base doc shares the fluent doc's transitions — all above
    // the garbled one too
    assert(s.filter(_._1 < 40L).values.forall(_ > s(101L)))
    // the position-ordered fold makes the float sum a pure function of
    // the data, not the layout
    assert(s == scores(docs.repartition(13)))
    // sub-2-token docs have no bigrams: absent, not null/crash
    val tiny = Seq((1L, "word"), (2L, ""), (3L, "two tokens")).toDF("doc_id", "text")
    val t = scores(tiny)
    assert(t.keySet == Set(3L))
  }

  test("chunkOverlap: full coverage with overlap, no contained fragments, short docs = 1 chunk") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // < window
      (3L, (1 to 8).map(i => s"u$i").mkString(" ")))  // == window
      .toDF("doc_id", "text")
    val chunks = graft.ops.Text.chunkOverlap(docs, $"doc_id", $"text",
      window = 8, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val byDoc = chunks.groupBy(_._1)
    // n=10, w=8, s=4: starts 0 and 4 only — start 8 would be a
    // fully-contained fragment of [4, 10)
    assert(byDoc(1L).map(c => (c._3, c._4)).sortBy(_._1).toSeq == Seq((0, 8), (4, 6)))
    assert(byDoc(1L).find(_._3 == 4).get._5 == (5 to 10).map(i => s"t$i").mkString(" "))
    // coverage: every token index lands in at least one chunk
    val covered = byDoc(1L).flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 10).toSet)
    // sub-window and exactly-window docs: one chunk, the whole doc
    assert(byDoc(2L).toSeq == Seq((2L, 0, 0, 3, "a b c")))
    assert(byDoc(3L).map(_._4).toSeq == Seq(8))
  }

  test("packSequences: contiguous per-shard token stream, layout-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf("documents"))
    val tok = size(split(trim($"text"), "\\s+"))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.packSequences(df, $"doc_id", tok, seqLen = 256, shards = 4)
        .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2), r.getInt(3))))
        .toMap
    val got = run(docs)
    assert(got == run(docs.repartition(9)), "packing is a pure function of the data")
    // contiguity: within a shard, each doc starts exactly where the
    // previous one ended in the concatenated token stream
    val toks = docs.select($"doc_id", tok.cast("long").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.groupBy(_._2._1).foreach { case (_, docsInShard) =>
      val ordered = docsInShard.toSeq.sortBy(_._1)
      ordered.sliding(2).foreach {
        case Seq((idA, (_, seqA, offA)), (idB, (_, seqB, offB))) =>
          val startA = seqA * 256 + offA
          assert(seqB * 256 + offB == startA + toks(idA),
            s"doc $idB must start where $idA ends")
        case _ =>
      }
    }
    assert(got.nonEmpty)
  }

  test("bm25: query-term docs outrank term-free docs; rare terms outweigh common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark filler filler filler"),   // 3x common term
      (2L, "catalyst filler filler filler filler spark"), // 1x rare + 1x common
      (3L, "filler filler filler filler filler filler"), // no query terms
      // background: 'spark' everywhere (low idf), 'catalyst' only in doc 2
      (4L, "spark filler"), (5L, "spark filler"), (6L, "spark filler"),
      (7L, "spark filler"), (8L, "spark filler")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.bm25(df, $"doc_id", $"text", Seq("spark", "catalyst"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val s = run(docs)
    assert(s(3L) == 0.0, "no query terms -> exactly zero")
    assert(s(1L) > s(3L) && s(2L) > s(3L))
    // 'catalyst' appears in 1/8 docs, 'spark' in 7/8: one rare-term hit
    // must outweigh even a tripled common term
    assert(s(2L) > s(1L), s"rare-term doc ${s(2L)} vs common-term doc ${s(1L)}")
    assert(s == run(docs.repartition(5)), "scores are layout-invariant")
  }

  test("srpNearDupsOnSigs over a precomputed signature column equals the direct form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(sf("embeddings")).select($"vec_id", $"embedding")
    val dim = emb.select(org.apache.spark.sql.functions.size($"embedding"))
      .head().getInt(0)
    val withSig = emb.select(col("vec_id"), col("embedding"),
      graft.ops.Vectors.srpSignatureCol(col("embedding"), dim).as("__sig"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairs(graft.ops.Vectors
      .srpNearDups(emb, "vec_id", "embedding", 0.4).select($"id_a", $"id_b"))
    val onSigs = pairs(graft.ops.Vectors
      .srpNearDupsOnSigs(withSig, "vec_id", "__sig", "embedding", 0.4)
      .select($"id_a", $"id_b"))
    assert(onSigs == direct)
  }

  test("approx_count_distinct within rsd bound on real data") {
    val li = spark.read.parquet(sf("lineitem"))
    import spark.implicits._
    val exact = li.select(countDistinctCol).collect()(0).getLong(0)
    val approx = graft.ops.Aggregates
      .approxCountDistinctByKey(li, Seq(org.apache.spark.sql.functions.lit(1)),
        $"l_partkey", "nd", rsd = 0.05)
      .collect()(0).getAs[Long]("nd")
    assert(math.abs(approx - exact).toDouble / exact < 0.15, s"approx=$approx exact=$exact")
  }

  private def countDistinctCol =
    org.apache.spark.sql.functions.countDistinct(
      org.apache.spark.sql.functions.col("l_partkey")).as("nd")

  /** Dataset actions fired by `body` on datasets of session `s2`, in
    * order (QueryExecutionListener; delivery is async, so poll until
    * the list is stable). `s2` must be a `newSession()` so other
    * suites' actions on the shared session cannot pollute the list. */
  private def actionsOf(s2: org.apache.spark.sql.SparkSession)(body: => Unit): Seq[String] = {
    val actions = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { actions.add(funcName); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    s2.listenerManager.register(l)
    try {
      body
      // async listener bus: wait for the action list to go quiet
      var last = -1
      var stableMs = 0
      val deadline = System.nanoTime() + 10000000000L
      while (stableMs < 500 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        if (actions.size == last) stableMs += 100 else { last = actions.size; stableMs = 0 }
      }
      scala.jdk.CollectionConverters.ListHasAsScala(actions).asScala.toSeq
    } finally s2.listenerManager.unregister(l)
  }

  test("probe and self-join schedule their PINNED driver-action counts (the round-14 de-flag contract)") {
    // the r13 flag-magnet anatomy was per-action scheduling overhead:
    // the probe ran SIX actions through its gate, the self-join four.
    // This pins the fused shape — a regression that reintroduces a
    // separate candidate checkpoint/count or a vocab-gate count job
    // fails here, not three driver rounds later.
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    import s2.implicits._
    val docs = s2.read.parquet(sf("documents"))
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0).localCheckpoint(true)
    val probes = sh.limit(5)
      .select(($"doc_id" + 500000L).as("doc_id"), $"__sh").localCheckpoint(true)
    // one-way probe: pCounts count + collision-estimate head + the
    // fused candidates+gate checkpoint + the timed string-rescore
    // checkpoint (round 18: the rescore phase — a seconds-scale job,
    // not the r13 ~0.1 s overhead pattern — materializes under its
    // own `_ms` timer so phase walls cover the key's wall) = 4
    // (r13: 6)
    val probeActions = actionsOf(s2) {
      Dedup.jaccardProbeOnShingles(sh, probes, "doc_id", "__sh", 0.5)
      ()
    }
    assert(probeActions.size == 4,
      s"probe gate must stay 4 driver actions, saw ${probeActions.size}: $probeActions")
    // self-join: collision-estimate head + the fused candidates+gate
    // checkpoint + the timed string-rescore checkpoint = 3
    // (r12 shape: 4 with two of them pure scheduling overhead)
    val selfActions = actionsOf(s2) {
      Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", 0.5)
      ()
    }
    assert(selfActions.size == 3,
      s"self-join gate must stay 3 driver actions, saw ${selfActions.size}: $selfActions")
    // minhash probe: band-vocab broadcast-gate count + the observed
    // candidate checkpoint = 2 (r13: 3)
    val mhActions = actionsOf(s2) {
      Dedup.minhashProbeOnShingles(sh, probes, "doc_id", "__sh")
      ()
    }
    assert(mhActions.size == 2,
      s"minhash probe must stay 2 driver actions, saw ${mhActions.size}: $mhActions")
  }

  test("range-join tiers schedule their PINNED driver-action counts (the round-15 fused-explode contract)") {
    // same anatomy as the jaccard de-flag above, applied to the other
    // chronic flag-magnet family (VERDICT r14 #1): the pair-volume
    // estimate is the tier's only pre-join action, and the day-exploded
    // interval relation it materializes (a lazy local checkpoint) is
    // REUSED by the join instead of re-exploded — so each bucketed tier
    // is exactly estimate + the caller's action, and the broadcast tier
    // schedules nothing before the caller's action at all. A regression
    // that re-introduces a second explode pass cannot change these
    // counts, but one that adds an eager checkpoint/count job does —
    // and fails here instead of as a driver-bench guard flag.
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    import s2.implicits._
    val intervals = s2.read.parquet(sf("orders"))
      .withColumn("start_date", to_date($"o_orderdate"))
      .withColumn("end_date", date_add($"start_date", 2))
      .select($"o_orderpriority", $"start_date", $"end_date")
    val probes = s2.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_linenumber", to_date($"l_shipdate").as("ship_d"))
    val broadcastActions = actionsOf(s2) {
      graft.ops.Temporal.rangeJoinBroadcastProbes(
        probes.limit(50), intervals, "ship_d", "start_date", "end_date").count()
      ()
    }
    assert(broadcastActions.size == 1,
      s"broadcast tier must stay 1 driver action, saw ${broadcastActions.size}: $broadcastActions")
    // the exact action-name sequence, not just a count: the LAZY
    // checkpoint registers a "localCheckpoint" listener entry but
    // schedules NO job (it materializes inside the estimate's head) —
    // a regression to an EAGER checkpoint keeps the same names while
    // adding a scheduled job, which the bucketed tier's wall counter
    // (range_estimate_ms) and the r14 contention anatomy would surface;
    // a regression adding a separate count/collect changes this list.
    val bucketedActions = actionsOf(s2) {
      graft.ops.Temporal.rangeJoinBucketed(
        probes, intervals, "ship_d", "start_date", "end_date").count()
      ()
    }
    assert(bucketedActions == Seq("localCheckpoint", "head", "count"),
      s"bucketed tier must stay lazy-checkpoint + estimate + count, saw $bucketedActions")
    val saltedActions = actionsOf(s2) {
      graft.ops.Temporal.rangeJoinBucketedSalted(
        probes, intervals, "ship_d", "start_date", "end_date",
        saltBuckets = 4, probeFineGrain = Seq($"l_orderkey", $"l_linenumber")).count()
      ()
    }
    assert(saltedActions == Seq("localCheckpoint", "head", "count"),
      s"salted tier must stay lazy-checkpoint + estimate + count, saw $saltedActions")
    // the fusion must not have cost the counters their values: the
    // estimate still records its pair volume and partition count
    assert(graft.Metrics.snapshot.exists(_._1.endsWith("range_est_pairs")),
      "the estimate's volume counter must survive the fusion")
  }
}
