package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Text, Vectors}

/** Harness keys for the LLM-training-data-pipeline operators
  * (north-star ExtOps): dedup, similarity search, text analysis,
  * multimodal plumbing, over `documents` and `embeddings`.
  *
  * Keys without oracle SQL (MinHash/SimHash/LSH — DuckDB cannot
  * reproduce Spark's seeded hash families) get the rows-only check
  * here and invariant tests in DedupSpec/VectorsSpec.
  */
object HarnessLLM {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The ANN benchmark corpus: `embeddings` plus, for each of the 5
    * query vectors (vec_id < 5), ten half-scaled copies with ids
    * 100000 + qid*100 + j (j in 0..9). The copies make BOTH
    * approximate tiers exactly oracle-checkable:
    *
    *  - cosine(q, 0.5·q) is the SAME double for every copy — scaling by
    *    a power of two commutes with IEEE-754 rounding at every step of
    *    the dot/norm pipeline, so the computed value is bit-identical
    *    to dot(q,q)/(norm(q)·norm(q)) ≈ 1, strictly above any
    *    random-pair cosine on this corpus (max ~0.45). Ties among the
    *    ten copies break on the ascending-id window order, so the exact
    *    top-10 per query is the closed-form ascending id list.
    *  - SRP sign signatures are scale-invariant → the copies collide
    *    with their query in EVERY band (LSH recall 1 by construction).
    *  - normalized(0.5·q) is bit-identical to normalized(q) (numerator
    *    and denominator scale by the same power of two), so the copies
    *    land in exactly the cell the IVF router ranks first for q
    *    (assignment and routing share the euclidean metric and the
    *    same lowest-index tie-break).
    *
    * The corpus is still 95% random vectors, so the keys exercise the
    * real bucketing/pruning machinery — the planted rows only pin the
    * answer. Same construction as dedup_embedding_lsh below. */
  private def annCorpusOf(emb: DataFrame): DataFrame = {
    val copies = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), lit(9L))).as("__j"))
      .select((lit(100000L) + col("vec_id") * 100 + col("__j")).as("vec_id"),
        transform(col("embedding"), x => (x * lit(0.5f)).cast("float")).as("embedding"))
    emb.unionByName(copies)
  }

  private def annCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    annCorpusOf(t(s, dir, "embeddings").select($"vec_id", $"embedding"))
  }

  /** Build-once IVF index per (session, corpus dir) — the in-session
    * analog of the `__cell` column persisted with the table at ingest
    * (see [[Vectors.ivfIndex]]). Queries against `sim_ann_ivf` pay only
    * the cell-join search; the quantizer fit runs once per corpus,
    * exactly as it would at production scale — and on a seeded HALF
    * sample: cell quality needs a representative sample, not the full
    * table (recall under sample-fit is spec-pinned, VectorsSpec).
    * `Bench` prebuilds this untimed and reports the build cost as its
    * own metric. Keyed by session too: the checkpointed cells are bound
    * to the session that built them, so a second session in the same
    * JVM must build its own. */
  private val ivfIndexCache = new SessionCache[Vectors.IvfIndexData]

  def ivfIndexFor(s: SparkSession, dir: String): Vectors.IvfIndexData =
    // indexed over the ANN corpus (embeddings + planted copies) so the
    // sim_ann_ivf search output is the planted closed form
    ivfIndexCache(s, dir)(
      Vectors.ivfIndex(annCorpus(s, dir), "vec_id", "embedding", nlist = 16,
        sampleFraction = 0.5))

  /** Build-once PQ index per (session, corpus dir) — same lifecycle as
    * [[ivfIndexFor]]: the m-byte code column would be written with the
    * table at ingest; searches pay only the compressed-domain scan. */
  private val pqIndexCache = new SessionCache[Vectors.PqIndexData]

  def pqIndexFor(s: SparkSession, dir: String): Vectors.PqIndexData =
    pqIndexCache(s, dir)(
      Vectors.pqIndex(annCorpus(s, dir), "vec_id", "embedding", m = 8, ksub = 64,
        sampleFraction = 0.5))

  /** Build-once residual IVF-PQ index (faiss-canonical: codes quantize
    * v − centroid(cell)) — the ONE code column both PQ search keys
    * read: `sim_ann_pq` full-scans it via the inner-product
    * decomposition, `sim_ann_ivfpq` probes it through the router.
    * [[pqIndexFor]] (vector-space codes) remains the streaming
    * bootstrap's codebook source. */
  private val ivfPqIndexCache = new SessionCache[Vectors.IvfPqIndexData]

  def ivfPqIndexFor(s: SparkSession, dir: String): Vectors.IvfPqIndexData =
    ivfPqIndexCache(s, dir)(
      Vectors.ivfPqIndex(annCorpus(s, dir), "vec_id", "embedding",
        nlist = 16, m = 8, ksub = 64, sampleFraction = 0.5))

  /** Build-once OPQ fit per (session, corpus dir) — the rotation +
    * codebooks are ingest-time artifacts like the other index builds
    * (at production scale the rotation is stored with the codebooks
    * and the rotated code column with the table); `Bench` prebuilds
    * untimed and reports `opq_fit_sec`. Holds (optimized, plain
    * baseline) so the comparison key never refits. */
  private val opqModelsCache = new SessionCache[(Vectors.OpqModel, Vectors.OpqModel)]

  def opqModelsFor(s: SparkSession, dir: String): (Vectors.OpqModel, Vectors.OpqModel) = {
    // vec_id < 100000 mirrors the fit's maxSamples cap DETERMINISTICALLY
    // (normalizedSample's limit() is a partition-order prefix, not a
    // defined subset), so sim_pq_opq's measured corpus IS the fit
    // sample at any scale factor and the argmin never-worse guarantee
    // stays structural. No-op at the bench SFs (every vec_id < 100k).
    opqModelsCache(s, dir)(
      Vectors.opqFitWithBaseline(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < 100000L),
        "embedding", m = 8, ksub = 64))
  }

  /** Build-once OPQ-rotated code relation over the ANN corpus (same
    * lifecycle as [[pqIndexFor]]) — the serving-path sibling of
    * [[opqModelsFor]]: rotated codes are an ingest-time column. */
  private val opqIndexCache = new SessionCache[Vectors.PqIndexData]

  def opqAnnIndexFor(s: SparkSession, dir: String): Vectors.PqIndexData =
    opqIndexCache(s, dir)(
      Vectors.opqIndex(annCorpus(s, dir), "vec_id", "embedding",
        opqModelsFor(s, dir)._1))

  /** Shingle-once per (session, corpus dir), shared by every
    * shingle-family key — `dedup_minhash` min-hashes it and both it
    * and `dedup_ngram_jaccard` rescore candidates with the very same
    * `__sh` arrays, so the expensive shingle pass runs once, not four
    * times. Eagerly checkpointed (the in-session analog of writing the
    * shingle column with the corpus at ingest); `Bench` prebuilds
    * untimed and reports the cost as its own metric. */
  private val shingledDocsCache = new SessionCache[DataFrame]

  def shingledDocsFor(s: SparkSession, dir: String): DataFrame =
    shingledDocsCache(s, dir)(
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.shingles(col("text")).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .localCheckpoint(true))

  /** Deterministic P6 payload per document: 16 x (4 + doc_id%5)
    * pixels, sample bytes cycling the md5 digest of the text — so the
    * REAL decoder's outputs (geometry, byte size, mean sample) are
    * closed-form for the oracle while the engine genuinely parses the
    * header and reads the buffer. */
  private def withPpmMedia(df: DataFrame): DataFrame = {
    val mk = udf { (docId: Long, s: String) =>
      val w = 16
      val h = 4 + (docId % 5).toInt
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val rgb = Array.tabulate(w * h * 3)(k => digest(k % 16))
      Multimodal.ppmEncode(w, h, rgb)
    }
    df.withColumn("media", mk(col("doc_id"), col("text")))
  }

  /** Deterministic P5 payload per document: 16 x (4 + doc_id%5) gray
    * samples cycling the md5 digest — same closed-form-mean trick as
    * [[withPpmMedia]] (16-byte cycle divides the 16h buffer). */
  private def withPgmMedia(df: DataFrame): DataFrame = {
    val mk = udf { (docId: Long, s: String) =>
      val w = 16
      val h = 4 + (docId % 5).toInt
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      Multimodal.pgmEncode(w, h, Array.tabulate(w * h)(k => digest(k % 16)))
    }
    df.withColumn("media", mk(col("doc_id"), col("text")))
  }

  /** Deterministic P4 payload per document: 32 x 4*(1 + doc_id%3)
    * packed bits cycling the md5 digest — 4 packed bytes/row, so the
    * 16-byte cycle divides the 4h buffer (h multiple of 4) and the
    * decoder's popcount is EXACTLY (h/4) x popcount(digest). */
  private def withPbmMedia(df: DataFrame): DataFrame = {
    val mk = udf { (docId: Long, s: String) =>
      val w = 32
      val h = 4 * (1 + (docId % 3).toInt)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      Multimodal.pbmEncode(w, h, Array.tabulate((w / 8) * h)(k => digest(k % 16)))
    }
    df.withColumn("media", mk(col("doc_id"), col("text")))
  }

  /** Deterministic compressed-image payload per document: the
    * [[withPpmMedia]] 16 x (4 + doc_id%5) digest-cycled BGR raster,
    * encoded through a REAL in-JDK ImageIO codec ("png" = DEFLATE,
    * "jpg" = JPEG DCT). PNG is lossless, so the decoded mean stays
    * the exact digest-sum/16 dyadic rational; JPEG geometry is exact
    * and the mean holds within a measured bound. */
  private def withCodecImageMedia(df: DataFrame, fmt: String): DataFrame = {
    val mk = udf { (docId: Long, s: String) =>
      val w = 16
      val h = 4 + (docId % 5).toInt
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      Multimodal.imageIoEncode(fmt, w, h,
        Array.tabulate(w * h * 3)(k => digest(k % 16)))
    }
    df.withColumn("media", mk(col("doc_id"), col("text")))
  }

  /** [[withCodecImageMedia]] over the documents table in LAZY form —
    * one definition shared by `multimodal_codec_resize` (which
    * eagerly checkpoints it under its encode-staging phase wall,
    * round 20) and DumpPlans (which audits the un-checkpointed
    * chain: the point is the ABSENCE of any exchange before the
    * partition-wise decode). */
  private[graft] def codecImageMedia(s: SparkSession, dir: String,
                                     fmt: String): DataFrame =
    withCodecImageMedia(t(s, dir, "documents"), fmt)

  /** Session-cached ENCODED codec corpora for the two pure-decode keys
    * (optimization round 22, VERDICT r21 #6 — the [[gifMediaFor]]
    * rationale verbatim: per-row ImageIO ENCODING costs more than the
    * decode the key exists to measure, and a stored corpus arrives
    * encoded, so the media column is an ingest-time artifact built
    * once per (session, dir, fmt) and eagerly checkpointed). Build
    * cost lands in the `codec_media_build_ms` bench counter (first
    * run; the median-of-3 then reads the decode-only cost).
    * `multimodal_codec_resize` / `multimodal_codec_image_dedup` keep
    * their OWN per-run in-key staging: their r20 phase-wall split
    * (`codec_encode_ms` per run) is load-bearing for the driver's
    * counter attribution and is not weakened here. */
  private val codecMediaCache = new SessionCache[DataFrame]

  def codecMediaFor(s: SparkSession, dir: String, fmt: String): DataFrame =
    codecMediaCache(s, s"$dir#$fmt") {
      val t0 = System.nanoTime()
      val df = codecImageMedia(s, dir, fmt).localCheckpoint(true)
      graft.Metrics.record("codec_media_build_ms",
        (System.nanoTime() - t0) / 1000000)
      df
    }

  /** The codec-dedup corpus in LAZY form — the planted triplet
    * groups PNG-encoded per row (docs 0-299, group = doc_id/3).
    * Shared by `multimodal_codec_image_dedup` (eagerly checkpointed
    * under its encode wall) and DumpPlans (lazy audit), so the two
    * can never drift. */
  private[graft] def codecDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mk = udf { (docId: Long) =>
      graft.ops.Multimodal.imageIoEncode("png", 16, 16, tripletRaster(docId / 3))
    }
    t(s, dir, "documents").filter($"doc_id" < 300)
      .select($"doc_id", mk($"doc_id").as("media"))
  }

  /** The exact digest-byte mean as a Spark Column over `text` —
    * the same closed form the DuckDB oracles spell, for keys that
    * need it ENGINE-side (the JPEG bound check). */
  private def digestMeanCol: Column =
    (0 until 16)
      .map(i => conv(substring(md5(col("text")), 2 * i + 1, 2), 16, 10).cast("int"))
      .reduce(_ + _) / 16.0

  /** The GIF corpus is an ingest-time artifact like the shingle pass:
    * per-row animated-GIF ENCODING (sequence writer + frame metadata
    * trees + LZW) costs ~5x the demux/decode the key exists to
    * measure, and a stored corpus arrives encoded — so build the
    * media column once per (session, dir), eagerly checkpointed, and
    * let the key time the engine's container walk. Build cost lands
    * in the `gif_media_build_ms` bench counter (first run; the
    * median-of-3 then reads the decode-only cost). */
  private val gifMediaCache = new SessionCache[DataFrame]

  def gifMediaFor(s: SparkSession, dir: String): DataFrame =
    gifMediaCache(s, dir) {
      val t0 = System.nanoTime()
      val mk = udf { (docId: Long, s2: String) =>
        val nFrames = 2 + (docId % 3).toInt
        val frames = (0 until nFrames).map { f =>
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$s2:$f".getBytes("UTF-8"))
          Array.tabulate(16 * 6)(k => digest(k % 16))
        }
        Multimodal.gifEncode(16, 6, frames)
      }
      val df = t(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id"), col("text")).as("media"))
        .localCheckpoint(true)
      graft.Metrics.record("gif_media_build_ms", (System.nanoTime() - t0) / 1000000)
      df
    }

  /** The planted-triplet raster: group g's 16x16x3 chained-md5 pixel
    * stream — THE shared pixel contract of every image dedup / probe /
    * store key and their closed-form pair-list oracles. One copy: the
    * P6 and codec corpora must stay pixel-identical per group, or the
    * shared oracles silently diverge. */
  private def tripletRaster(group: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val px = new Array[Byte](16 * 16 * 3)
    var chunk = 0
    while (chunk * 16 < px.length) {
      val d = md.digest(s"img:$group:$chunk".getBytes("UTF-8"))
      System.arraycopy(d, 0, px, chunk * 16, math.min(16, px.length - chunk * 16))
      chunk += 1
    }
    px
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- deduplication ----
    "dedup_exact" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"text").as("n_distinct"))
        .orderBy($"lang")
    }),
    "dedup_exact_diff" -> ((s, dir) => {
      import s.implicits._
      Dedup.removedByKey(t(s, dir, "documents"),
        Seq($"lang", $"source"), "doc_id", Seq($"doc_id".asc))
        .select($"doc_id")
        .orderBy($"doc_id")
    }),
    "dedup_minhash" -> ((s, dir) => {
      import s.implicits._
      // Engine-portable MinHash+LSH (4 bands x 3 rows of md5-derived
      // min-hashes, exact-Jaccard rescore at >= 0.5): every stage is
      // seed-free md5 + integer arithmetic, so the DuckDB oracle
      // reproduces signatures, band collisions, candidate set, and
      // rescore bit for bit — hash-exact where the seeded Spark-ML
      // MinHashLSH form was rows-only.
      Dedup.minhashLshPortableOnShingles(shingledDocsFor(s, dir), "doc_id", "__sh",
        numHashes = 12, bands = 4, jaccardThreshold = 0.5)
        .orderBy($"id_a", $"id_b")
    }),
    "dedup_embedding_probe" -> ((s, dir) => {
      import s.implicits._
      // The embedding-side incremental probe: new vectors (exact
      // copies of vec_id < 10, offset ids) collide one-way with the
      // corpus's SRP band signatures and rescore exactly. Copies are
      // colinear with their originals, so they collide in EVERY band
      // (recall 1 by construction) and cosine 1.0 clears any
      // threshold; at 0.9 nothing else in the corpus qualifies (the
      // nearest natural pair sits ~0.45), so the one-way brute force
      // is a complete oracle. Engine-specific cosine floats stay out
      // of the output (ids only), like the other embedding tiers.
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      val probes = emb.filter($"vec_id" < 10)
        .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
      Vectors.srpProbe(emb, probes, "vec_id", "embedding", simThreshold = 0.9)
        .select($"probe_id", $"dup_id")
        .orderBy($"probe_id", $"dup_id")
    }),
    "dedup_minhash_probe" -> ((s, dir) => {
      import s.implicits._
      // The incremental-ingest near-dup check for text: probes are
      // verbatim copies of docs 0-9 (id + 100000), so each probe's
      // signature EQUALS its original's — it always collides with the
      // original (jaccard 1.0) plus whatever the original band-collides
      // with, and the md5-portable pipeline lets the oracle reproduce
      // the whole one-way relation bit for bit. The corpus side is
      // never self-paired.
      val corpusSh = shingledDocsFor(s, dir)
      val probeSh = corpusSh.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"), $"__sh")
      Dedup.minhashProbeOnShingles(corpusSh, probeSh, "doc_id", "__sh",
        numHashes = 12, bands = 4, jaccardThreshold = 0.5)
        .withColumnRenamed("id_a", "probe_id")
        .withColumnRenamed("id_b", "dup_id")
        .orderBy($"probe_id", $"dup_id")
    }),
    "dedup_jaccard_probe" -> ((s, dir) => {
      import s.implicits._
      // The EXACT probe tier beside dedup_minhash_probe: one-way
      // prefix-filtered Jaccard (probe prefixes vs corpus prefixes,
      // pigeonhole-complete at the threshold), hash-overlap gate, then
      // exact rescore. Deterministic-complete, so the brute-force
      // one-way shared-shingle Jaccard is an exact oracle — the gate
      // an ingest/contamination check needs (a minhash probe can miss;
      // this one cannot). Probes are verbatim copies of docs 0-9
      // (ids + 100000), so each must rediscover its original at 1.0.
      val corpusSh = shingledDocsFor(s, dir)
      val probeSh = corpusSh.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"), $"__sh")
      Dedup.jaccardProbeOnShingles(corpusSh, probeSh, "doc_id", "__sh",
        threshold = 0.5)
        .withColumnRenamed("id_a", "probe_id")
        .withColumnRenamed("id_b", "dup_id")
        .orderBy($"probe_id", $"dup_id")
    }),
    "dedup_simhash" -> ((s, dir) => {
      import s.implicits._
      // Engine-portable 60-bit SimHash (md5-derived per-token hashes,
      // majority vote): the oracle recomputes the identical signature,
      // so the per-doc output is hash-exact — the seeded xxhash64 form
      // (kept in Dedup + DedupSpec) stays for single-engine speed.
      Dedup.simhashPortable(t(s, dir, "documents"), $"doc_id", $"text")
        .orderBy($"doc_id")
    }),
    "dedup_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      // Prefix-filtered EXACT all-pairs n-gram Jaccard (the
      // AllPairs/PPJoin tier): rare-first prefixes guarantee every
      // >= 0.5 pair becomes a candidate (pigeonhole — no LSH recall
      // gap), candidates-only exact rescore keeps it key-partitioned.
      // Deterministic-complete, so DuckDB's brute-force shared-shingle
      // Jaccard is an exact oracle: hash-green where the seeded
      // LSH-candidate form was rows-only. Shingles come from the shared
      // shingle-once pass.
      Dedup.jaccardPairsExactOnShingles(shingledDocsFor(s, dir), "doc_id", "__sh",
        threshold = 0.5)
        .orderBy($"id_a", $"id_b")
    }),

    "sample_stable_hash" -> ((s, dir) => {
      import s.implicits._
      // reproducible 20% corpus subset as a pure function of doc_id —
      // the cross-engine, cross-run stable form of sampling a training
      // corpus (rand()/sample() give a different subset every layout)
      Dedup.stableHashSample(t(s, dir, "documents"), $"doc_id", 20)
        .select($"doc_id")
        .orderBy($"doc_id")
    }),
    "pipeline_chunk_overlap" -> ((s, dir) => {
      import s.implicits._
      // RAG ingestion chunking: 64-token windows every 32 tokens
      // (50% overlap), scan-local sequence/explode/slice — no shuffle.
      Text.chunkOverlap(t(s, dir, "documents").filter($"doc_id" < 50),
        $"doc_id", $"text", window = 64, stride = 32)
        .orderBy($"doc_id", $"chunk_id")
    }),
    "pipeline_seq_pack" -> ((s, dir) => {
      import s.implicits._
      // GPT-style sequence packing: concatenate docs into 512-token
      // training windows, 4-way sharded by stable hash so the packing
      // is reproducible AND parallel (no global-reducer window).
      Text.packSequences(t(s, dir, "documents"), $"doc_id",
        size(split(trim($"text"), "\\s+")), seqLen = 512, shards = 4)
        .orderBy($"doc_id")
    }),
    "sample_weighted" -> ((s, dir) => {
      import s.implicits._
      // length-weighted reproducible sample (Efraimidis–Spirakis keys on
      // stable-hash randomness): longer documents proportionally more
      // likely kept — the "sample a training mix by token mass, same
      // subset everywhere" primitive. DuckDB recomputes the identical
      // keys, so the subset is oracle-checkable bit for bit.
      Dedup.stableWeightedSample(t(s, dir, "documents"), $"doc_id",
        length($"text"), n = 100)
        .select($"doc_id")
        .orderBy($"doc_id")
    }),
    "dedup_cluster" -> ((s, dir) => {
      import s.implicits._
      // Connected-components clustering of a near-dup pair list, as an
      // oracle-checkable key: planted chains base -> base+10000 ->
      // base+20000 over real doc ids (diameter 2, so min-label
      // propagation needs the full fixed-point loop, not one hop).
      // Every member's cluster label is the closed-form minimum (the
      // base id), which the oracle recomputes directly.
      val base = t(s, dir, "documents").select($"doc_id").filter($"doc_id" < 30)
      val hop1 = base.select($"doc_id".as("id_a"), ($"doc_id" + 10000).as("id_b"))
      val hop2 = base.select(($"doc_id" + 10000).as("id_a"), ($"doc_id" + 20000).as("id_b"))
      Dedup.clusterPairs(hop1.unionByName(hop2))
        .orderBy($"id")
    }),

    "dedup_semantic_cluster" -> ((s, dir) => {
      import s.implicits._
      // End-to-end embedding dedup at the scale tier: banded SRP
      // near-dup pairs -> connected components -> removal list (the
      // rows a dedup pass would drop). Planted power-of-two-scaled
      // copies (+100000 for the first 20 vectors, +200000 for the
      // first 10) have cosine 1 with their base and scale-invariant
      // sign signatures, so recall is 1 by construction and the
      // cluster memberships are closed-form: removals are exactly the
      // copies, labeled with the base id.
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      def planted(n: Int, offset: Int, scale: Float) =
        emb.filter($"vec_id" < n).select(($"vec_id" + offset).as("vec_id"),
          transform($"embedding", x => (x * lit(scale)).cast("float")).as("embedding"))
      val corpus = emb.unionByName(planted(20, 100000, 0.5f))
        .unionByName(planted(10, 200000, 0.25f))
      val pairs = Vectors.srpNearDups(corpus, "vec_id", "embedding", simThreshold = 0.9)
      Dedup.clusterRemovals(pairs).orderBy($"id")
    }),

    "pipeline_corpus_prep" -> ((s, dir) => {
      import s.implicits._
      // The composite training-corpus preparation flow: quality filter
      // -> canonical-fingerprint exact dedup -> clean corpus with
      // stats. The driver corpus has no exact dups, so case-variant
      // copies of the first 50 docs are planted (fingerprint is
      // case/spacing-insensitive) to make the dedup stage observable;
      // keepers are the original (minimum) doc_ids.
      val docs = t(s, dir, "documents")
      val planted = docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000).as("doc_id"), upper($"text").as("text"),
          $"lang", $"source", $"n_chars")
      val corpus = docs.unionByName(planted)
      val scored = Text.qualityScore(corpus, $"text")
      val kept = scored.filter($"n_tok" >= 50)
      val fp = Text.fingerprint(kept, $"text", "fp")
      Dedup.keepersByKey(fp, Seq($"fp"), Seq($"doc_id".asc))
        .select($"doc_id", $"lang", $"n_tok")
        .orderBy($"doc_id")
    }),

    // ---- similarity search ----
    "sim_cosine_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      Vectors.cosineTopK(emb, emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10)
        .orderBy($"qid", $"rnk")
    }),
    "sim_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      // Banded-SRP ANN over the planted corpus (see [[annCorpus]]):
      // the exact top-10 per query is the ten colinear copies in id
      // order, so the approximate path is hash-checkable end to end;
      // recall/pruning on unplanted data stays asserted in VectorsSpec.
      val emb = t(s, dir, "embeddings")
      Vectors.annTopK(annCorpus(s, dir), emb.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 10)
        .orderBy($"qid", $"rnk")
    }),
    "sim_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      // IVF coarse-quantized ANN over the same planted corpus —
      // searches the build-once per-corpus index (quantizer fit
      // amortized away, as with a persisted __cell column at
      // production scale); the router lands every query on its copies'
      // cell, so the output is the same closed form as sim_ann_lsh.
      val emb = t(s, dir, "embeddings")
      Vectors.ivfSearch(ivfIndexFor(s, dir), emb.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 10)
        .orderBy($"qid", $"rnk")
    }),
    "sim_ann_pq" -> ((s, dir) => {
      import s.implicits._
      // Product-quantized ANN over the same planted corpus: the
      // compressed-domain ADC scan reads m=8 bytes per corpus vector
      // instead of 256, the top-rescoreK ADC candidates are exactly
      // rescored, and the planted copies pin the answer — normalized
      // copies are bit-identical to their query, so they share its
      // cell and residual code and their ADC score is the
      // reconstruction dot ~1, far above the ~0.45 random-pair ceiling;
      // the exact rescore then emits the closed form. Round 8: scans
      // the RESIDUAL code column (one stored code column serves this
      // full scan AND the routed sim_ann_ivfpq probe). ADC quality on
      // unplanted data is spec-gated in VectorsSpec.
      val emb = t(s, dir, "embeddings")
      Vectors.pqTopKResidual(ivfPqIndexFor(s, dir), emb.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 10, rescoreK = 40)
        .orderBy($"qid", $"rnk")
    }),
    "sim_pq_opq" -> ((s, dir) => {
      import s.implicits._
      // OPQ pre-rotation (Ge et al. CVPR'13; the faiss OPQMatrix
      // refinement): learn an orthonormal rotation + codebooks on the
      // bounded seeded sample, then measure full-corpus PQ distortion
      // under the learned model vs the identity-rotation plain-PQ
      // baseline THROUGH THE SAME code path. The estimates themselves
      // are engine-specific (no cross-engine oracle exists for a
      // k-means fit), so — like the sketch keys — the relation emits
      // the exact row count plus two booleans the oracle pins to
      // literal true: the rotation is orthonormal (max |R·Rᵀ − I| <
      // 1e-9) and OPQ is no worse than plain PQ. The second is
      // STRUCTURAL, not empirical: the fit evaluates the identity
      // rotation with pqFit's own seed (those codebooks ARE plain PQ)
      // and returns the argmin over evaluated models — and the key
      // bounds its corpus to the fit's 100k-sample cap (vec_id <
      // 100000), so measured corpus == fit sample and the argmin
      // inequality holds at ANY scale factor, not just the small
      // ones. The genuinely-better case
      // is pinned in VectorsSpec on anisotropic data (~3x distortion
      // cut); improvement is data-dependent, so the bench counter
      // records it per run instead of the oracle hashing it.
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        .filter($"vec_id" < 100000L)
      val (opq, plain) = opqModelsFor(s, dir)
      val msePq = Vectors.opqDistortion(emb, "embedding", plain).get
      val mseOpq = Vectors.opqDistortion(emb, "embedding", opq).get
      graft.Metrics.record("opq_distortion_improvement_permille",
        if (msePq > 0) math.round((1.0 - mseOpq / msePq) * 1000) else 0L)
      val n = emb.count()
      Seq((n, opq.orthonormalityError < 1e-9, mseOpq <= msePq + 1e-12))
        .toDF("n_vectors", "rotation_orthonormal", "opq_no_worse")
    }),
    "sim_ann_opq" -> ((s, dir) => {
      import s.implicits._
      // OPQ as a SERVING path, not just a fit metric: the corpus is
      // encoded in the learned rotated frame ([[Vectors.opqIndex]]),
      // queries rotate through the same model, and the standard ADC
      // scan + exact rescore runs unchanged — rotation preserves inner
      // products, so the rescore ranks by true original-space cosine.
      // Planted closed form pins the answer exactly like sim_ann_pq:
      // copies are bit-identical to their query, so their rotated
      // codes coincide and ADC puts them far above the random-pair
      // ceiling; the exact rescore then emits the closed form.
      val emb = t(s, dir, "embeddings")
      Vectors.opqTopK(opqAnnIndexFor(s, dir), opqModelsFor(s, dir)._1,
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10, rescoreK = 40)
        .orderBy($"qid", $"rnk")
    }),
    "sim_ann_ivfpq" -> ((s, dir) => {
      import s.implicits._
      // The full 100 TB composition on the RESIDUAL index (round 8,
      // after VectorsSpec showed residual ADC strictly finer on
      // clustered data): IVF routing prunes to nprobe cells, one query
      // LUT serves every cell via the inner-product decomposition, ADC
      // scores only the probed cells' 8-byte residual codes, exact
      // rescore ranks. Same closed form: the router lands each query on
      // its copies' cell and normalized copies share the query's cell
      // and residual code, so their ADC is the ~1 reconstruction dot.
      val emb = t(s, dir, "embeddings")
      Vectors.ivfPqSearchResidual(ivfPqIndexFor(s, dir),
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10,
        rescoreK = 40)
        .orderBy($"qid", $"rnk")
    }),
    "stream_vector_ingest" -> ((s, dir) => {
      import s.implicits._
      // Streaming vector ingest (SURVEY §9): the ANN corpus arrives as
      // a file-source STREAM; foreachBatch maintains the SRP-signature
      // and IVF-cell index columns batch by batch into a parquet store
      // (quantizer + hyperplanes frozen at the ingest-time bootstrap);
      // the final stream-maintained store answers the SAME planted
      // closed-form search as sim_ann_ivf — proving index state stayed
      // correct through incremental maintenance. Stream==batch
      // cell/signature equality on arbitrary data is separately pinned
      // in StreamingSpec.
      val emb = t(s, dir, "embeddings")
      val index = ivfIndexFor(s, dir)
      val boot = graft.streaming.VectorIngest.bootstrapFrom(index,
        dim = emb.select(size($"embedding")).head().getInt(0))
      val store = "/tmp/graft_stage/vec_ingest_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      // the streaming file source takes a DIRECTORY; glob-filter it to
      // the embeddings table (driver testdata is one file per table)
      val stream = s.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      graft.streaming.VectorIngest.maintainIndex(
        annCorpusOf(stream.select($"vec_id", $"embedding")),
        "vec_id", "embedding", boot, store)
        .awaitTermination()
      Vectors.ivfSearch(
        graft.streaming.VectorIngest.indexFromStore(s, store, boot),
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10)
        .orderBy($"qid", $"rnk")
    }),
    "stream_embedding_probe" -> ((s, dir) => {
      import s.implicits._
      // The STORE-SERVABLE embedding probe — closes the probe ×
      // modality matrix (text and media already serve off their stream
      // stores): the corpus streams once into the VectorIngest store;
      // the probe then collides against the PERSISTED __sig column and
      // rescores against the stored normalized vectors, signing the
      // probes with the geometry from the store's _srp_params sidecar —
      // the corpus is never re-signed. Probes are the same exact copies
      // as dedup_embedding_probe (vec_id < 10, offset ids): copies are
      // colinear, SRP signatures are scale-invariant, so they collide
      // in EVERY band (recall 1 by construction) and the identical
      // one-way brute-force oracle applies verbatim. Store-vs-fresh
      // probe parity on arbitrary splits is pinned in StreamingSpec.
      val embT = t(s, dir, "embeddings")
      val emb = embT.select($"vec_id", $"embedding")
      val boot = graft.streaming.VectorIngest.bootstrapFrom(ivfIndexFor(s, dir),
        dim = emb.select(size($"embedding")).head().getInt(0))
      val store = "/tmp/graft_stage/emb_probe_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(embT.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      graft.streaming.VectorIngest.maintainIndex(
        stream.select($"vec_id", $"embedding"), "vec_id", "embedding", boot, store)
        .awaitTermination()
      val probes = emb.filter($"vec_id" < 10)
        .select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
      graft.streaming.VectorIngest.srpProbeFromStore(s, store, probes,
        "vec_id", "embedding", boot, simThreshold = 0.9)
        .select($"probe_id", $"dup_id")
        .orderBy($"probe_id", $"dup_id")
    }),
    "stream_term_stats" -> ((s, dir) => {
      import s.implicits._
      // Streaming corpus-statistics maintenance (the text analog of
      // stream_vector_ingest): documents arrive as a file stream; each
      // micro-batch appends its own (term, tf, df) PARTIAL to a
      // batch-partitioned store (both stats are sums of per-batch
      // partials — a doc's tokens land in exactly one batch); the
      // serving-side merge is one term-keyed aggregate, never a corpus
      // rescan. Output = top-20 terms by (tf desc, term) — a total
      // order, so the cutoff is deterministic; integer-exact, oracled
      // against the one-shot batch aggregation. Multi-batch ≡ batch
      // equality on split corpora is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val store = "/tmp/graft_stage/term_stats_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      graft.streaming.TextIngest.maintainTermStats(stream, "doc_id", "text", store)
        .awaitTermination()
      graft.streaming.TextIngest.termStatsFromStore(s, store)
        .orderBy($"tf".desc, $"term").limit(20)
        .select($"term", $"tf", $"df")
    }),
    "stream_bm25_serve" -> ((s, dir) => {
      import s.implicits._
      // The full streaming retrieval architecture: documents stream
      // into an INVERTED INDEX (per-batch (term, doc, tf) postings +
      // (doc, dl) lengths — a doc's postings land wholly in its own
      // batch), and BM25 is served from the store with term-keyed
      // joins — the corpus text is never rescanned. Every score input
      // is an integer off the store, so the float tree is bit-identical
      // to text_bm25_dynamic and the SAME oracle applies verbatim.
      val docs = t(s, dir, "documents")
      val store = "/tmp/graft_stage/inv_index_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      // cost decomposition (round 11): the timed key spans ingest +
      // serve; recording the ingest wall and batch count makes the
      // split readable off the bench artifact (serve = key - ingest),
      // so an r10-style blowup self-triages to a phase
      val ing0 = System.nanoTime()
      graft.streaming.TextIngest.maintainInvertedIndex(stream, "doc_id", "text", store)
        .awaitTermination()
      graft.Metrics.record("bm25_serve_ingest_ms", (System.nanoTime() - ing0) / 1000000L)
      graft.Metrics.record("bm25_serve_store_batches",
        graft.streaming.BatchStore.batchPartitionDirs(s, s"$store/postings").length.toLong)
      val queries = Seq(
        (1, 1, "hash"), (1, 2, "join"), (1, 3, "scan"),
        (2, 1, "vector"), (2, 2, "stream"),
        (3, 1, "spark"), (3, 2, "window"), (3, 3, "filter"), (3, 4, "batch"))
        .toDF("query_id", "term_pos", "term")
      graft.streaming.TextIngest.bm25FromStore(s, store, queries)
        .orderBy($"query_id", $"doc_id")
    }),
    "stream_minhash_ingest" -> ((s, dir) => {
      import s.implicits._
      // Streaming near-dup maintenance: documents stream in; each
      // micro-batch appends its portable minhash band signatures +
      // shingle arrays to a batch-partitioned store (per-doc,
      // seed-free md5 — bit-identical to the batch build); near-dup
      // pairs are served as a band-collision join over the store plus
      // the exact rescore, never rescanning the corpus text. The
      // served relation IS the batch dedup_minhash key, so that
      // oracle applies verbatim. Stream==batch signature equality on
      // split corpora is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val store = "/tmp/graft_stage/minhash_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      // phase attribution (the bm25/jaccard `_ingest_ms` discipline):
      // this key's cost is micro-batch store build + the band-join
      // serve — the split lands in bench_full.json so a slow run can
      // be read as ingest vs serve without a rerun
      val ing0 = System.nanoTime()
      graft.streaming.DedupIngest.maintainMinhash(stream, "doc_id", "text", store)
        .awaitTermination()
      graft.Metrics.record("minhash_serve_ingest_ms",
        (System.nanoTime() - ing0) / 1000000L)
      graft.streaming.DedupIngest.nearDupsFromStore(s, store)
        .orderBy($"id_a", $"id_b")
    }),
    "stream_jaccard_probe" -> ((s, dir) => {
      import s.implicits._
      // The exact-probe x streaming cell: documents stream into a
      // store holding each doc's shingles PLUS its canonically ordered
      // hash array (__n, __ha), ordered against a df authority FROZEN
      // at bootstrap (the hyperplane discipline — freezing costs
      // candidates, never recall, since prefix completeness holds
      // under any shared total order). Probes (verbatim copies of
      // docs 0-9, ids + 100000) then run the full prefix + positional
      // + index-prefix + hash-gate + exact-rescore pipeline against
      // the store's scan-local projection — no corpus-wide aggregate
      // at serve time, corpus text never rescanned. The served
      // relation IS dedup_jaccard_probe's, so that oracle applies
      // verbatim; stream==batch across frozen-vs-full df authorities
      // is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val store = "/tmp/graft_stage/jaccard_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      // phase attribution for the bench's most expensive key: how much
      // is micro-batch store build vs the probe serve (the
      // bm25_serve_ingest_ms discipline)
      val ing0 = System.nanoTime()
      graft.streaming.DedupIngest.maintainJaccardStore(stream, "doc_id", "text", store)
        .awaitTermination()
      graft.Metrics.record("jaccard_serve_ingest_ms",
        (System.nanoTime() - ing0) / 1000000L)
      val probes = docs.filter($"doc_id" < 10)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text")
      graft.streaming.DedupIngest.jaccardProbeFromStore(s, store, probes,
        "doc_id", "text", jaccardThreshold = 0.5)
        .withColumnRenamed("id_a", "probe_id")
        .withColumnRenamed("id_b", "dup_id")
        .orderBy($"probe_id", $"dup_id")
    }),
    "stream_pq_ingest" -> ((s, dir) => {
      import s.implicits._
      // the PQ half of the ingest-time-column story: the stream
      // maintains the m-byte __code column with FROZEN codebooks
      // (exactly like the SRP hyperplanes), so the stream-built store
      // answers the same compressed-domain search as the batch index —
      // the planted closed form again. Stream==batch code equality on
      // arbitrary data is separately pinned in StreamingSpec.
      val emb = t(s, dir, "embeddings")
      val boot = graft.streaming.VectorIngest.bootstrapFrom(ivfIndexFor(s, dir),
        dim = emb.select(size($"embedding")).head().getInt(0))
        .copy(pq = Some(pqIndexFor(s, dir).cb))
      val store = "/tmp/graft_stage/vec_pq_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      graft.streaming.VectorIngest.maintainIndex(
        annCorpusOf(stream.select($"vec_id", $"embedding")),
        "vec_id", "embedding", boot, store)
        .awaitTermination()
      Vectors.pqTopK(
        graft.streaming.VectorIngest.pqIndexFromStore(s, store, boot),
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10, rescoreK = 40)
        .orderBy($"qid", $"rnk")
    }),
    "stream_opq_ingest" -> ((s, dir) => {
      import s.implicits._
      // The OPQ third of the ingest-time-column story: the stream
      // maintains the ROTATED-frame m-byte __ocode column with a
      // frozen rotation + codebooks (exactly like the SRP hyperplanes
      // and the plain-PQ codebooks), so the stream-built store answers
      // the same rotated-ADC search as the batch opqIndex — the
      // planted closed form again. Stream==batch code equality on
      // split corpora is pinned in StreamingSpec.
      val emb = t(s, dir, "embeddings")
      val boot = graft.streaming.VectorIngest.bootstrapFrom(ivfIndexFor(s, dir),
        dim = emb.select(size($"embedding")).head().getInt(0))
        .copy(opq = Some(opqModelsFor(s, dir)._1))
      val store = "/tmp/graft_stage/vec_opq_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      graft.streaming.VectorIngest.maintainIndex(
        annCorpusOf(stream.select($"vec_id", $"embedding")),
        "vec_id", "embedding", boot, store)
        .awaitTermination()
      Vectors.opqTopK(
        graft.streaming.VectorIngest.opqIndexFromStore(s, store, boot),
        opqModelsFor(s, dir)._1,
        emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10, rescoreK = 40)
        .orderBy($"qid", $"rnk")
    }),
    "dedup_embedding" -> ((s, dir) => {
      import s.implicits._
      // Embedding-cosine near-dup, exact tier (oracle-checkable; the
      // pair set at sim>=0.45 is boundary-safe on this data — nearest
      // pair values 0.449/0.452). The scale tier is keyed separately as
      // dedup_embedding_lsh.
      Vectors.cosineNearDupsExact(t(s, dir, "embeddings"), "vec_id", "embedding",
        simThreshold = 0.45)
        .select($"id_a", $"id_b")
        .orderBy($"id_a", $"id_b")
    }),
    "dedup_embedding_lsh" -> ((s, dir) => {
      import s.implicits._
      // The corpus-scale near-dup tier: banded SRP LSH candidates +
      // exact cosine rescore at the true near-duplicate threshold 0.9.
      // The random corpus has no pairs that similar, so scaled copies
      // of the first 20 vectors are planted (cosine with the original
      // is exactly 1, and sign signatures are scale-invariant, so the
      // planted pairs collide in every band — recall 1 by
      // construction). The expected pair set is closed-form and the
      // oracle recomputes it with a full cross join.
      val emb = t(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = emb.filter($"vec_id" < 20)
        .select(($"vec_id" + 100000).as("vec_id"),
          transform($"embedding", x => (x * lit(0.5f)).cast("float")).as("embedding"))
      Vectors.srpNearDups(emb.unionByName(planted), "vec_id", "embedding",
        simThreshold = 0.9)
        .select($"id_a", $"id_b")
        .orderBy($"id_a", $"id_b")
    }),

    "dedup_embedding_stream" -> ((s, dir) => {
      import s.implicits._
      // The OTHER half of the §9 ingest-time-column story: near-dup
      // pairs computed FROM the stream-maintained SRP signature column
      // (srpNearDupsOnSigs over the store's __sig/__cv — no
      // re-projection of the corpus), with the same planted closed
      // form: per query, the 11 colinear vectors {q, 10 copies} are
      // pairwise cosine ~1, so the pair set is all C(11,2) pairs per
      // query and nothing else (max random-pair cosine ~0.45).
      val emb = t(s, dir, "embeddings")
      val boot = graft.streaming.VectorIngest.bootstrapFrom(ivfIndexFor(s, dir),
        dim = emb.select(size($"embedding")).head().getInt(0))
      val store = "/tmp/graft_stage/vec_sig_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(dir)
      graft.streaming.VectorIngest.maintainIndex(
        annCorpusOf(stream.select($"vec_id", $"embedding")),
        "vec_id", "embedding", boot, store)
        .awaitTermination()
      Vectors.srpNearDupsOnSigs(s.read.parquet(store), "cid", "__sig", "__cv",
        simThreshold = 0.9)
        .select($"id_a", $"id_b")
        .orderBy($"id_a", $"id_b")
    }),

    // ---- text analysis ----
    "text_tokens" -> ((s, dir) => {
      import s.implicits._
      Text.tokenCounts(t(s, dir, "documents"), $"text")
        .select($"doc_id", $"n_ws_tokens", $"n_bpeish")
        .orderBy($"doc_id")
    }),
    "text_langid" -> ((s, dir) => {
      import s.implicits._
      Text.languageId(t(s, dir, "documents"), $"text", "pred_lang")
        .groupBy($"pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy($"pred_lang")
    }),
    "text_nfc_clean" -> ((s, dir) => {
      import s.implicits._
      // Unicode hygiene via the native codegen expression: the corpus
      // text is ASCII, so the key PLANTS the dirt both engines must
      // clean identically — every 'a' becomes a + U+0301 (combining
      // acute, which NFC must compose to U+00E1) and a BEL + C1 NEL +
      // DEL control tail that the strip must remove. The md5 of the
      // cleaned text catches any normalization divergence; n_chars
      // pins the codepoint count. DuckDB's nfc_normalize (utf8proc)
      // implements the same UAX #15 as java.text.Normalizer.
      // "a\u0301" = a + combining acute, written as escapes so the
      // source stays ASCII and the DECOMPOSED form is unambiguous
      val dirty = concat(
        regexp_replace($"text", "a", "a\u0301"),
        lit("\u0007\u0085\u007f"))
      t(s, dir, "documents").filter($"doc_id" < 200)
        .select($"doc_id",
          md5(Text.nfcClean(dirty).cast("binary")).as("chk"),
          length(Text.nfcClean(dirty)).as("n_chars"))
        .orderBy($"doc_id")
    }),
    "text_quality" -> ((s, dir) => {
      import s.implicits._
      Text.qualityScore(t(s, dir, "documents"), $"text")
        .select($"doc_id", $"n_chars_m", $"n_tok", $"n_punct", $"n_stop",
          $"stop_ratio", $"punct_ratio")
        .orderBy($"doc_id")
    }),
    "text_term_stats" -> ((s, dir) => {
      import s.implicits._
      // integer TF/DF core of TF-IDF: top-3 terms per doc (first 50
      // docs to bound output) with corpus document frequency.
      Text.termStats(t(s, dir, "documents").filter($"doc_id" < 50),
        $"doc_id", $"text", topPerDoc = 3)
        .orderBy($"doc_id", $"rnk")
    }),
    "text_bm25" -> ((s, dir) => {
      import s.implicits._
      // BM25 passage ranking against a fixed query — the RAG-retrieval
      // scorer. Scan-local tfs, one broadcast stats row, and a score
      // expression whose float operations associate identically in the
      // DuckDB oracle (explicit term order, single divisions).
      Text.bm25(t(s, dir, "documents"), $"doc_id", $"text",
        Seq("hash", "join", "scan"))
        .orderBy($"doc_id")
    }),
    "text_bm25_dynamic" -> ((s, dir) => {
      import s.implicits._
      // BM25 where the queries are a RELATION (three multi-term
      // queries as (query_id, term_pos, term) rows) — the term-keyed
      // join formulation a retrieval user needs when queries are data.
      // Scores fold per-term partials in term_pos order on both
      // engines, so the float sums are bit-identical.
      val queries = Seq(
        (1, 1, "hash"), (1, 2, "join"), (1, 3, "scan"),
        (2, 1, "vector"), (2, 2, "stream"),
        (3, 1, "spark"), (3, 2, "window"), (3, 3, "filter"), (3, 4, "batch"))
        .toDF("query_id", "term_pos", "term")
      Text.bm25Dynamic(t(s, dir, "documents"), $"doc_id", $"text", queries)
        .orderBy($"query_id", $"doc_id")
    }),
    "text_lm_score" -> ((s, dir) => {
      import s.implicits._
      // self-trained bigram LM fluency score (the KenLM-quality-filter
      // analog): corpus bigram counts are the model, each doc scores
      // its mean smoothed transition log-prob. lm_logprob is a
      // position-ordered fold (layout-stable float sum) and rides with
      // integer-exact evidence columns; the oracle recomputes all four.
      Text.lmScore(t(s, dir, "documents"), $"doc_id", $"text")
        .select($"doc_id", $"n_bigrams", $"sum_cb", $"sum_cu",
          round($"lm_logprob", 6).as("lm_logprob_r"))
        .orderBy($"doc_id")
    }),
    "text_word_freq" -> ((s, dir) => {
      import s.implicits._
      Text.wordFrequencies(t(s, dir, "documents"), $"text", k = 20)
    }),
    "text_repetition" -> ((s, dir) => {
      import s.implicits._
      Text.repetitionScore(t(s, dir, "documents"), $"doc_id", $"text")
        .orderBy($"doc_id")
    }),
    "text_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      // the synthetic corpus carries no PII, so an email+URL tail is
      // planted on the first 50 docs to make the redaction observable
      val docs = t(s, dir, "documents")
        .withColumn("text2", when($"doc_id" < 50,
          concat($"text",
            lit(" contact bob@example.com via https://example.com/a?b=1 now")))
          .otherwise($"text"))
      Text.piiScrub(docs, $"text2", "clean")
        .select($"doc_id", $"clean")
        .orderBy($"doc_id")
    }),
    "text_fingerprint" -> ((s, dir) => {
      import s.implicits._
      Text.fingerprint(t(s, dir, "documents"), $"text", "fp")
        .select($"doc_id", $"fp")
        .orderBy($"doc_id")
    }),
    "text_decontaminate" -> ((s, dir) => {
      import s.implicits._
      // Benchmark decontamination: the first 10 docs stand in for an
      // eval set; every corpus doc sharing a 3-gram with them is
      // flagged (the bench docs flag themselves, plus any organic
      // trigram collisions — the oracle recomputes both).
      val docs = t(s, dir, "documents")
      Text.contaminatedIds(docs, docs.filter($"doc_id" < 10),
        $"doc_id", $"text", $"text")
        .orderBy($"doc_id")
    }),
    "pipeline_token_budget" -> ((s, dir) => {
      import s.implicits._
      // Fill each language's slice of the training mix to a 2000-token
      // budget, longest (best-scoring stand-in) docs first — keyed
      // window, deterministic (n_tok desc, doc_id) order.
      val scored = Text.qualityScore(t(s, dir, "documents"), $"text")
      Text.packTokenBudget(scored, $"lang",
        Seq($"n_tok".desc, $"doc_id".asc), $"n_tok", budget = 2000L)
        .select($"doc_id", $"lang", $"n_tok", $"cum_tok")
        .orderBy($"lang", $"cum_tok")
    }),
    "pipeline_domain_mix" -> ((s, dir) => {
      import s.implicits._
      // Reproducible domain mixing: keep 80% of src0, 50% of src3,
      // 20% of src7, drop everything else — selection a pure function
      // of doc_id, so the mix is identical on any engine or layout.
      Dedup.stableStratifiedSample(t(s, dir, "documents"), $"doc_id", $"source",
        Map("src0" -> 80, "src3" -> 50, "src7" -> 20))
        .select($"doc_id", $"source")
        .orderBy($"doc_id")
    }),

    // ---- multimodal plumbing ----
    "multimodal_image_dedup" -> ((s, dir) => {
      import s.implicits._
      // Image near-dup by perceptual hash over the REAL P6 decoder:
      // docs come in planted triplet groups (doc_id / 3) whose 16x16
      // payloads are pixel-identical WITHIN a group (chained-md5 pixel
      // stream seeded by the group number alone) and independent
      // across groups, so within-group pairs hash equal (Hamming 0 —
      // deterministic) while cross-group hashes sit at the ~32-bit
      // random distance, astronomically outside the radius (P[<=3]
      // ~ 1e-14 per pair) — the same planted-closed-form contract as
      // the ANN tiers. The banded Hamming join + bit_count rescore is
      // the scale path; nonzero-distance behavior is spec-pinned with
      // a constructed exactly-one-bit pair.
      val mk = udf { (docId: Long) =>
        graft.ops.Multimodal.ppmEncode(16, 16, tripletRaster(docId / 3))
      }
      val imgs = t(s, dir, "documents").filter($"doc_id" < 300)
        .select($"doc_id", mk($"doc_id").as("media"))
      Multimodal.imageNearDups(imgs, "doc_id", "media", maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),
    "multimodal_codec_image_dedup" -> ((s, dir) => {
      import s.implicits._
      // The image_dedup contract over REAL COMPRESSED payloads:
      // the same planted triplet groups, but each image arrives as a
      // PNG — aHash64 routes it through the in-JDK DEFLATE decoder
      // (round 12) instead of the netpbm parser. PNG is lossless, so
      // within-group payloads stay bit-identical after encode
      // (Hamming 0 deterministic) and the closed-form pair list
      // carries over verbatim; a JPEG corpus would rely on decode
      // determinism instead (spec-pinned, not oracled).
      // Phase walls (round 20, VERDICT r19 #1): the r19 driver flags
      // on this key could not counter-attribute — it carried only the
      // candidate volume counter, and counterAttributed needs >=2
      // phase `_ms` ratios to corroborate "same work, slower clock".
      // The encode staging materializes first (a stored corpus
      // arrives encoded — the gifMediaFor rationale; the checkpoint
      // is the bench's phase-attribution boundary, not an operator
      // shape), so the two walls split cleanly: PNG-encode staging
      // vs DEFLATE-decode + aHash + banded join. The lazy corpus
      // definition is shared with DumpPlans (codecDedupCorpus), which
      // keeps the un-checkpointed chain in the committed plan audit.
      val t0 = System.nanoTime()
      val imgs = codecDedupCorpus(s, dir).localCheckpoint(true)
      graft.Metrics.record("codec_encode_ms", (System.nanoTime() - t0) / 1000000)
      val t1 = System.nanoTime()
      val pairs = Multimodal.imageNearDups(imgs, "doc_id", "media", maxHamming = 3)
        .localCheckpoint(true)
      graft.Metrics.record("codec_dedup_ms", (System.nanoTime() - t1) / 1000000)
      pairs.orderBy($"id_a", $"id_b")
    }),
    "stream_image_ingest" -> ((s, dir) => {
      import s.implicits._
      // Streaming perceptual-hash maintenance: the same planted
      // triplet-group P6 corpus as multimodal_image_dedup arrives as a
      // stream; each micro-batch decodes and hashes its own payloads
      // into the batch-partitioned store (media bytes decoded once, at
      // ingest), and near-dup pairs are served as the shared banded
      // Hamming join over the stored hashes — row-for-row the batch
      // key, so that closed-form oracle applies verbatim. Stream ==
      // batch hash equality on split corpora is pinned in
      // StreamingSpec.
      val mk = udf { (docId: Long) =>
        graft.ops.Multimodal.ppmEncode(16, 16, tripletRaster(docId / 3))
      }
      val docs = t(s, dir, "documents")
      val store = "/tmp/graft_stage/image_hash_store"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      val stream = s.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .filter($"doc_id" < 300)
        .select($"doc_id", mk($"doc_id").as("media"))
      graft.streaming.MediaIngest.maintainImageHashes(stream, "doc_id", "media", store)
        .awaitTermination()
      graft.streaming.MediaIngest.imageNearDupsFromStore(s, store, maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),
    "multimodal_image_probe" -> ((s, dir) => {
      import s.implicits._
      // The incremental-ingest dedup check: probe docs 300-309 carry
      // group (doc_id - 300)'s exact payload, so each matches that
      // triplet group's 3 corpus members at Hamming 0 and nothing
      // else — the corpus is never self-paired, only the one-way
      // banded probe join runs.
      val mk = udf { (group: Long) =>
        graft.ops.Multimodal.ppmEncode(16, 16, tripletRaster(group))
      }
      val docs = t(s, dir, "documents")
      val corpus = docs.filter($"doc_id" < 300)
        .select($"doc_id", mk(expr("doc_id div 3")).as("media"))
      val probes = docs.filter($"doc_id" >= 300 && $"doc_id" < 310)
        .select($"doc_id", mk($"doc_id" - 300).as("media"))
      Multimodal.imageProbe(corpus, probes, "doc_id", "media", maxHamming = 3)
        .orderBy($"probe_id", $"dup_id")
    }),
    "multimodal_audio_probe" -> ((s, dir) => {
      import s.implicits._
      // The audio cell of the probe x modality matrix: probe clips
      // 300-309 carry group (doc_id - 300)'s exact waveform, so each
      // matches that triplet group's 3 corpus clips at Hamming 0 and
      // nothing else (cross-group envelope bits are coin flips).
      val mk = udf { (group: Long) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = 260
        val samples = new Array[Short](n)
        var chunk = 0
        while (chunk * 8 < n) {
          val d = md.digest(s"wav:$group:$chunk".getBytes("UTF-8"))
          var j = 0
          while (j < 8 && chunk * 8 + j < n) {
            samples(chunk * 8 + j) =
              (((d(2 * j) & 0xFF) << 8 | (d(2 * j + 1) & 0xFF)) - 32768).toShort
            j += 1
          }
          chunk += 1
        }
        Multimodal.wavEncode(8000, 1, samples)
      }
      val docs = t(s, dir, "documents")
      val corpus = docs.filter($"doc_id" < 300)
        .select($"doc_id", mk(expr("doc_id div 3")).as("media"))
      val probes = docs.filter($"doc_id" >= 300 && $"doc_id" < 310)
        .select($"doc_id", mk($"doc_id" - 300).as("media"))
      Multimodal.audioProbe(corpus, probes, "doc_id", "media", maxHamming = 3)
        .orderBy($"probe_id", $"dup_id")
    }),
    "multimodal_binary_meta" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val withMedia = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "media")
      Multimodal.decodePartitions(withMedia).toDF().orderBy($"doc_id")
    }),
    "multimodal_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val withMedia = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "media")
      Multimodal.resizePartitions(withMedia, 128, 64).toDF().orderBy($"doc_id")
    }),
    "multimodal_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val withMedia = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "media")
      // every 2nd 256-byte "frame"; checksum is Spark-side only (blob
      // slicing differs across engines) — oracle checks the fan-out.
      Multimodal.sampleFrames(withMedia, frameBytes = 256, stride = 2).toDF()
        .select($"doc_id", $"frame_idx", $"frame_len")
        .orderBy($"doc_id", $"frame_idx")
    }),
    "multimodal_ppm_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL image decode (no codec library needed): each doc gets a
      // deterministic 16x(4+doc_id%5) binary PPM whose pixel bytes
      // cycle the md5 digest of its text; the P6 parser reads true
      // geometry and the mean raw sample off the actual buffer. The
      // 16-byte digest cycle divides the 48h-byte buffer, so the mean
      // is EXACTLY digest-byte-sum/16 — a dyadic rational both engines
      // represent bit-identically (no rounding guard needed).
      Multimodal.decodePpmPartitions(
        withPpmMedia(t(s, dir, "documents"))).toDF()
        .orderBy($"doc_id")
    }),
    "multimodal_ppm_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL frame demux (the codec-free video stand-in): each doc's
      // payload is 2 + doc_id%3 concatenated P6 frames of growing
      // height (16 x (2+f)), pixel bytes cycling the md5 digest of the
      // text; the demuxer walks the container parsing each frame's own
      // header and buffer. Per-frame mean is again the exact
      // digest-sum/16 dyadic rational.
      val mk = udf { (docId: Long, s2: String) =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s2.getBytes("UTF-8"))
        val nFrames = 2 + (docId % 3).toInt
        (0 until nFrames).toArray.flatMap { f =>
          val h = 2 + f
          Multimodal.ppmEncode(16, h,
            Array.tabulate(16 * h * 3)(k => digest(k % 16)))
        }
      }
      val withMedia = t(s, dir, "documents")
        .withColumn("media", mk($"doc_id", $"text"))
      Multimodal.ppmFramesPartitions(withMedia).toDF()
        .orderBy($"doc_id", $"frame_idx")
    }),
    "multimodal_pgm_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL grayscale decode: the generalized netpbm parser reads a
      // P5 header + gray buffer; mean is the exact digest-sum/16
      // dyadic rational (16-byte cycle divides the 16h buffer).
      Multimodal.decodePgmPartitions(
        withPgmMedia(t(s, dir, "documents"))).toDF()
        .orderBy($"doc_id")
    }),
    "multimodal_pbm_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL bitmap decode: P4 packed rows, popcounted off the actual
      // buffer — n_ones is (h/4) x popcount(digest) by construction,
      // ones_ratio an exact-int/exact-int division.
      Multimodal.decodePbmPartitions(
        withPbmMedia(t(s, dir, "documents"))).toDF()
        .orderBy($"doc_id")
    }),
    "multimodal_pnm_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL MIXED-format demux: frames alternate P6 (even idx) and
      // P5 (odd idx) inside one container, each parsed off its own
      // magic + header — the shape a real multimodal shard has, where
      // consecutive records are not all the same codec.
      val mk = udf { (docId: Long, s2: String) =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s2.getBytes("UTF-8"))
        val nFrames = 2 + (docId % 3).toInt
        (0 until nFrames).toArray.flatMap { f =>
          val h = 2 + f
          if (f % 2 == 0)
            Multimodal.ppmEncode(16, h, Array.tabulate(16 * h * 3)(k => digest(k % 16)))
          else
            Multimodal.pgmEncode(16, h, Array.tabulate(16 * h)(k => digest(k % 16)))
        }
      }
      val withMedia = t(s, dir, "documents")
        .withColumn("media", mk($"doc_id", $"text"))
      Multimodal.pnmFramesPartitions(withMedia).toDF()
        .orderBy($"doc_id", $"frame_idx")
    }),
    "multimodal_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      // Audio near-dup by loudness-envelope fingerprint over the REAL
      // PCM16 WAV decoder — the planted-triplet-group contract of
      // multimodal_image_dedup, one modality over: within a group
      // (doc_id / 3) the 260-sample clip is bit-identical (chained-md5
      // sample stream seeded by the group number), across groups the
      // 64 envelope-delta sign bits are independent coin flips, so
      // only within-group pairs (Hamming 0) can enter at radius 3.
      val mk = udf { (docId: Long) =>
        val group = docId / 3
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = 260
        val samples = new Array[Short](n)
        var chunk = 0
        while (chunk * 8 < n) {
          val d = md.digest(s"wav:$group:$chunk".getBytes("UTF-8"))
          var j = 0
          while (j < 8 && chunk * 8 + j < n) {
            samples(chunk * 8 + j) =
              (((d(2 * j) & 0xFF) << 8 | (d(2 * j + 1) & 0xFF)) - 32768).toShort
            j += 1
          }
          chunk += 1
        }
        Multimodal.wavEncode(8000, 1, samples)
      }
      val clips = t(s, dir, "documents").filter($"doc_id" < 300)
        .select($"doc_id", mk($"doc_id").as("media"))
      Multimodal.audioNearDups(clips, "doc_id", "media", maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),
    "multimodal_wav_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL audio decode (codec-free PCM16 WAV): each doc gets a
      // deterministic mono 8 kHz clip of 64 + 16*(doc_id%50) samples,
      // sample k = (k*2654435761 + doc_id) % 65536 - 32768 — a pure
      // integer waveform both engines can derive, so the mean the
      // decoder computes off the actual little-endian PCM buffer is
      // closed-form (exact-int sum / exact-int count, identical
      // correctly-rounded division both sides).
      val mk = udf { (docId: Long) =>
        val n = 64 + 16 * (docId % 50).toInt
        val samples = Array.tabulate(n)(k =>
          ((k * 2654435761L + docId) % 65536 - 32768).toShort)
        Multimodal.wavEncode(8000, 1, samples)
      }
      val withMedia = t(s, dir, "documents")
        .withColumn("media", mk($"doc_id"))
      Multimodal.decodeWavPartitions(withMedia).toDF().orderBy($"doc_id")
    }),
    "multimodal_ppm_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL nearest-neighbor resample on the decoded pixel grid,
      // re-encoded as P6 — n_bytes_out is a fact about an actual
      // output buffer (header + 8*8*3), not an implied size. Pixel
      // placement is spec-pinned in IngestSpec on hand-built images.
      Multimodal.resizePpmPartitions(
        withPpmMedia(t(s, dir, "documents")), targetW = 8, targetH = 8).toDF()
        .orderBy($"doc_id")
    }),
    "multimodal_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val withMedia = Multimodal.withBinaryPayload(t(s, dir, "documents"), "text", "media")
      Multimodal.featureExtractPartitions(withMedia, dim = 8)
        .select($"doc_id", size($"feature").as("dim"),
          element_at($"feature", 1).as("f1"), element_at($"feature", 8).as("f8"))
        .orderBy($"doc_id")
    }),
    "multimodal_png_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL COMPRESSED-image decode through the JDK's own PNG codec
      // (DEFLATE): the digest-cycled raster is deflate-encoded, the
      // decoder sniffs the format off the magic, inflates, and walks
      // the decoded raster. PNG is byte-lossless, so the mean is the
      // same exact digest-sum/16 dyadic rational as the netpbm tier —
      // a hash-exact oracle over a genuinely compressed payload.
      // staged encoded corpus (round 22): the key times the DEFLATE
      // decode, not the per-run re-encode — see codecMediaFor
      Multimodal.decodeImagePartitions(codecMediaFor(s, dir, "png")).toDF()
        .orderBy($"doc_id")
    }),
    "multimodal_jpeg_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL LOSSY decode through the JDK's JPEG codec (IDCT +
      // chroma upsampling): geometry and sniffed format are exact;
      // the decoded mean is checked within a measured bound (worst
      // observed over 2000 digest-noise images at these sizes: 2.67;
      // bound 8.0 = 3x margin) — the sketch keys' error-bound-
      // relation pattern, because bit-exactness is not a property
      // JPEG has. The bound was measured on OpenJDK 17.0.20 with the
      // encode quality now pinned EXPLICITLY at 0.75 in
      // Multimodal.imageIoEncode (r13) — the encoder side can no
      // longer drift under a JDK default change; residual exposure is
      // a decoder (IDCT) change only, which the 3x margin absorbs.
      // staged encoded corpus (round 22): the key times the JPEG
      // decode, not the per-run re-encode — see codecMediaFor
      Multimodal.decodeImagePartitions(codecMediaFor(s, dir, "jpg")).toDF()
        .join(t(s, dir, "documents").select($"doc_id", digestMeanCol.as("__exact")),
          Seq("doc_id"))
        .select($"doc_id", $"format", $"width", $"height",
          (abs($"mean_px" - $"__exact") <= 8.0).as("within_bound"))
        .orderBy($"doc_id")
    }),
    "multimodal_codec_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL codec resize chain: the PNG corpus decodes through
      // DEFLATE, resamples with the exact floor-index NN kernel
      // (pixel (x,y) <- source (2x, y*h/8) here), re-encodes as PNG,
      // and the re-encode is decoded again to prove the chain
      // lossless (roundtrip_ok pinned TRUE). The resampled mean is
      // closed-form: the oracle walks the same 8x8x3 index arithmetic
      // over the digest cycle in SQL.
      //
      // Phase walls + row volume (round 20, VERDICT r19 #1): this key
      // flagged 3.93x in the r19 driver run with NO counters at all,
      // so neither clause of counterAttributed could read it. Encode
      // staging materializes first (stored corpora arrive encoded —
      // the gifMediaFor rationale; the checkpoint is the bench's
      // phase-attribution boundary), then the decode+resample+
      // re-encode chain gets its own wall; the resized row count is
      // the seeded-deterministic volume counter the bit-identical
      // clause needs (a count over the already-materialized result —
      // no extra computation).
      val t0 = System.nanoTime()
      val staged = codecImageMedia(s, dir, "png").localCheckpoint(true)
      graft.Metrics.record("codec_encode_ms", (System.nanoTime() - t0) / 1000000)
      val t1 = System.nanoTime()
      val out = Multimodal.resizeImagePartitions(staged, 8, 8).toDF()
        .localCheckpoint(true)
      graft.Metrics.record("codec_resize_ms", (System.nanoTime() - t1) / 1000000)
      graft.Metrics.record("codec_resize_rows", out.count())
      out.orderBy($"doc_id")
    }),
    "multimodal_gif_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL compressed multi-frame container: an animated GIF (LZW +
      // 256-gray palette, one GraphicControlExtension per frame)
      // demuxed and decoded through the JDK's GIF codec. Frame f's
      // 16x6 gray raster cycles md5(text || ':' || f), so each
      // frame's decoded mean is ITS OWN digest-sum/16 exact dyadic
      // rational (GIF is lossless for 8-bit gray) — frames are
      // distinguishable and hash-exact. The encoded corpus is the
      // cached ingest-time artifact (gifMediaFor); this key times the
      // engine's demux + decode.
      Multimodal.gifFramesPartitions(gifMediaFor(s, dir)).toDF()
        .orderBy($"doc_id", $"frame_idx")
    }),
    "multimodal_ulaw_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      // REAL COMPANDED-audio decode: a format-7 (mu-law) RIFF/WAVE
      // container parsed by AudioSystem and expanded to linear PCM16
      // by the JDK's G.711 codec chain. The JDK's expansion table
      // equals the G.711 closed form bit-for-bit on all 256 codes
      // (IngestSpec sweeps them), so the decoded mean is EXACTLY
      // oracle-able: the oracle re-derives the segment arithmetic in
      // SQL. Clip k's code stream is (k*37 + doc_id) % 256 over
      // 64 + 8*(doc_id%50) samples.
      val mk = udf { (docId: Long) =>
        val n = 64 + 8 * (docId % 50).toInt
        Multimodal.ulawWavEncode(8000, 1,
          Array.tabulate(n)(k => ((k * 37 + docId) % 256).toByte))
      }
      val withMedia = t(s, dir, "documents")
        .withColumn("media", mk($"doc_id"))
      Multimodal.decodeUlawPartitions(withMedia).toDF().orderBy($"doc_id")
    }),
  )

  /** Shared oracle prelude: trim+lower whitespace tokens, distinct
    * 3-gram shingles (docs with <3 tokens drop), mirroring
    * [[Dedup.shingles]] + the shingle-once filter exactly. */
  private val shOracle =
    """WITH d AS (
      | SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr
      | FROM documents),
      |sh AS (
      | SELECT doc_id,
      |  list_distinct([array_to_string(arr[i:i+2], ' ') FOR i IN range(1, len(arr)-1)]) AS s
      | FROM d WHERE len(arr) >= 3),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh),
      |pc AS (
      | SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
      | FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)""".stripMargin

  /** The md5-derived 60-bit SimHash, bit for bit: per-token hash =
    * first 15 hex digits of md5 as a BIGINT, per-bit +-1 majority
    * vote, signature reassembled bit by bit — the same integer
    * arithmetic [[Dedup.simhashPortable]] runs. */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map(b =>
      s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val sig = (0 until 60).map(b =>
      s"CASE WHEN b$b >= 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH t AS (
       | SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       | FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
       |s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
       |SELECT doc_id, $sig AS simhash FROM s ORDER BY doc_id""".stripMargin
  }

  /** Shared by `text_bm25_dynamic` and `stream_bm25_serve`: the served
    * path reads the same integers off the inverted-index store, so the
    * float tree — and therefore this oracle — is identical. */
  private val bm25DynamicOracle: String =
    """WITH q(query_id, term_pos, term) AS (VALUES
      |  (1, 1, 'hash'), (1, 2, 'join'), (1, 3, 'scan'),
      |  (2, 1, 'vector'), (2, 2, 'stream'),
      |  (3, 1, 'spark'), (3, 2, 'window'), (3, 3, 'filter'), (3, 4, 'batch')),
      |d AS (
      | SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents),
      |base AS (SELECT doc_id, CAST(len(arr) AS INT) AS dl FROM d),
      |stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM base),
      |tok AS (SELECT doc_id, unnest(arr) AS w FROM d),
      |qt AS (SELECT DISTINCT term FROM q),
      |tfq AS (
      | SELECT doc_id, w, count(*) AS tf FROM tok JOIN qt ON w = qt.term
      | GROUP BY 1, 2),
      |dfq AS (SELECT w, count(*) AS df FROM tfq GROUP BY 1),
      |contrib AS (
      | SELECT q.query_id, q.term_pos, t.doc_id,
      |  ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1.0) * (CAST(t.tf AS DOUBLE) * 2.2)
      |   / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(b.dl * s.n AS DOUBLE) / s.sdl)) AS c
      | FROM q JOIN tfq t ON q.term = t.w JOIN dfq f ON t.w = f.w
      |  JOIN base b ON t.doc_id = b.doc_id CROSS JOIN stats s)
      |SELECT query_id, doc_id,
      | round(list_sum(list(c ORDER BY term_pos)), 6) AS bm25
      |FROM contrib GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared by `dedup_minhash` and `stream_minhash_ingest`: the served
    * path band-joins the stream-built signature store and rescores off
    * the stored shingle arrays — the identical md5 min-hash family
    * (hash i = the (i%4)-th 7-hex chunk of md5((i//4) || ':' || g) —
    * four independent 28-bit values per digest), banding, candidate
    * join, and exact rescore as minhashLshPortableOnShingles, so one
    * bit-exact oracle covers both. */
  /** Shared by `dedup_jaccard_probe` (batch) and `stream_jaccard_probe`
    * (store-served): one-way brute force between the probe copies
    * (docs 0-9, ids shifted +100000) and the whole corpus — complete
    * for the prefix-filtered probe for the same reason as
    * dedup_ngram_jaccard's oracle. */
  private val jaccardProbeOracle: String =
    shOracle + """,
      |ppc AS (
      | SELECT a.doc_id + 100000 AS ia, b.doc_id AS ib, count(*) AS inter
      | FROM ex a JOIN ex b ON a.g = b.g
      | WHERE a.doc_id < 10
      | GROUP BY 1, 2)
      |SELECT ia AS probe_id, ib AS dup_id,
      | round(inter * 1.0 / (x.n + y.n - inter), 6) AS jaccard
      |FROM ppc JOIN sz x ON ia - 100000 = x.doc_id JOIN sz y ON ib = y.doc_id
      |WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.5
      |ORDER BY 1, 2""".stripMargin

  private val minhashPortableOracle: String =
    (shOracle + """,
        |hx AS (
        | SELECT doc_id, i,
        |  min(CAST(('0x' || substr(md5(CAST(i // 4 AS VARCHAR) || ':' || g),
        |                  1 + 7 * (i % 4), 7)) AS BIGINT)) AS mh
        | FROM ex, (SELECT unnest(range(12)) AS i) t GROUP BY 1, 2),
        |band AS (
        | SELECT doc_id, i // 3 AS band,
        |  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
        | FROM hx GROUP BY 1, 2),
        |cand AS (
        | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        | FROM band a JOIN band b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT c.ia AS id_a, c.ib AS id_b,
        | round(pc.inter * 1.0 / (x.n + y.n - pc.inter), 6) AS jaccard
        |FROM cand c JOIN pc ON c.ia = pc.ia AND c.ib = pc.ib
        | JOIN sz x ON c.ia = x.doc_id JOIN sz y ON c.ib = y.doc_id
        |WHERE pc.inter * 1.0 / (x.n + y.n - pc.inter) >= 0.5
        |ORDER BY 1, 2""".stripMargin)

  val oracles: Map[String, String] = Map(
    "dedup_minhash" -> minhashPortableOracle,
    // the stream-maintained store serves the SAME relation: signatures
    // are md5-portable and per-doc, so stream==batch bit for bit
    "stream_minhash_ingest" -> minhashPortableOracle,
    // brute-force shared-shingle exact Jaccard: a complete oracle for
    // the prefix-filtered join BECAUSE prefix filtering is
    // deterministic-complete at the threshold (no LSH recall gap)
    "dedup_ngram_jaccard" ->
      (shOracle + """
        |SELECT ia AS id_a, ib AS id_b,
        | round(inter * 1.0 / (x.n + y.n - inter), 6) AS jaccard
        |FROM pc JOIN sz x ON ia = x.doc_id JOIN sz y ON ib = y.doc_id
        |WHERE inter * 1.0 / (x.n + y.n - inter) >= 0.5
        |ORDER BY 1, 2""".stripMargin),
    // one-way brute force between the probe copies (docs 0-9, ids
    // shifted +100000) and the whole corpus: complete for the
    // prefix-filtered probe for the same reason as dedup_ngram_jaccard
    "dedup_jaccard_probe" -> jaccardProbeOracle,
    // the stream-maintained store serves the SAME exact one-way
    // relation (completeness is order-independent, so the frozen
    // bootstrap df authority changes nothing): batch oracle verbatim
    "stream_jaccard_probe" -> jaccardProbeOracle,
    // probes are verbatim copies of docs 0-9, so probe signatures
    // equal the originals': the probe relation is the originals' band
    // collisions (both orders) plus the guaranteed self match at 1.0,
    // rescored with the same exact-Jaccard arithmetic
    "dedup_minhash_probe" ->
      (shOracle + """,
        |hx AS (
        | SELECT doc_id, i,
        |  min(CAST(('0x' || substr(md5(CAST(i // 4 AS VARCHAR) || ':' || g),
        |                  1 + 7 * (i % 4), 7)) AS BIGINT)) AS mh
        | FROM ex, (SELECT unnest(range(12)) AS i) t GROUP BY 1, 2),
        |band AS (
        | SELECT doc_id, i // 3 AS band,
        |  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
        | FROM hx GROUP BY 1, 2),
        |pcand AS (
        | SELECT DISTINCT a.doc_id AS k, b.doc_id AS c
        | FROM band a JOIN band b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
        | WHERE a.doc_id < 10)
        |SELECT 100000 + k AS probe_id, k AS dup_id, CAST(1.0 AS DOUBLE) AS jaccard
        |FROM (SELECT DISTINCT doc_id AS k FROM sz WHERE doc_id < 10) s
        |UNION ALL
        |SELECT 100000 + pcand.k AS probe_id, pcand.c AS dup_id,
        | round(pc.inter * 1.0 / (x.n + y.n - pc.inter), 6) AS jaccard
        |FROM pcand
        | JOIN pc ON pc.ia = least(pcand.k, pcand.c) AND pc.ib = greatest(pcand.k, pcand.c)
        | JOIN sz x ON x.doc_id = pcand.k JOIN sz y ON y.doc_id = pcand.c
        |WHERE pc.inter * 1.0 / (x.n + y.n - pc.inter) >= 0.5
        |ORDER BY 1, 2""".stripMargin),
    "dedup_simhash" -> simhashOracle,
    "dedup_exact" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_distinct
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact_diff" ->
      """SELECT d.doc_id FROM documents d
        |JOIN (SELECT lang, source, min(doc_id) AS keep FROM documents GROUP BY 1, 2) k
        |  ON d.lang = k.lang AND d.source = k.source
        |WHERE d.doc_id <> k.keep ORDER BY 1""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
        |ORDER BY 1, 2""".stripMargin,
    // one-way brute force: complete because copies collide in every
    // band (recall 1) and nothing natural reaches the 0.9 threshold
    "dedup_embedding_probe" ->
      """SELECT 200000 + a.vec_id AS probe_id, b.vec_id AS dup_id
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 10
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9
        |ORDER BY 1, 2""".stripMargin,
    // served off the stream-maintained store, but the relation is the
    // batch probe's verbatim — same corpus rows, same geometry (the
    // sidecar), same exact rescore — so the same oracle applies
    "stream_embedding_probe" ->
      """SELECT 200000 + a.vec_id AS probe_id, b.vec_id AS dup_id
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < 10
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9
        |ORDER BY 1, 2""".stripMargin,
    "dedup_embedding_lsh" ->
      """WITH corpus AS (
        | SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 100000 AS vec_id,
        |  list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT)) AS embedding
        | FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM corpus a, corpus b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9
        |ORDER BY 1, 2""".stripMargin,
    "sample_stable_hash" ->
      """SELECT doc_id FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 < 20
        |ORDER BY 1""".stripMargin,
    // same token arrays, same start grid, same clamped slices — all
    // integer/string, no float anywhere
    "pipeline_chunk_overlap" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n
        | FROM documents WHERE doc_id < 50),
        |s AS (
        | SELECT doc_id, arr, n,
        |  CAST(unnest(range(0, greatest(n - 64 + 32, 1), 32)) AS INT) AS start_tok
        | FROM d WHERE n > 0)
        |SELECT doc_id, CAST(start_tok // 32 AS INT) AS chunk_id, start_tok,
        | CAST(least(64, n - start_tok) AS INT) AS n_tok,
        | array_to_string(arr[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // pure integer arithmetic over the same stable-hash shards and
    // id-ordered running sums — exact both engines
    "pipeline_seq_pack" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 4 AS INT) AS shard
        | FROM documents),
        |p AS (
        | SELECT doc_id, shard,
        |  CAST(coalesce(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        | FROM d WHERE tok > 0)
        |SELECT doc_id, shard, prev // 512 AS seq_id, CAST(prev % 512 AS INT) AS offset
        |FROM p ORDER BY doc_id""".stripMargin,
    // identical A-ES keys: u exact in both engines (power-of-two
    // scale), one ln() each side, deterministic (key, id) tiebreak
    "sample_weighted" ->
      """SELECT doc_id FROM (
        | SELECT doc_id,
        |  -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) + 0.5)
        |      / 4294967296.0) / length(text) AS k
        | FROM documents WHERE length(text) > 0
        | ORDER BY k, doc_id LIMIT 100) AS s
        |ORDER BY doc_id""".stripMargin,
    "dedup_semantic_cluster" ->
      """SELECT vec_id + 100000 AS id, vec_id AS cluster FROM embeddings WHERE vec_id < 20
        |UNION ALL
        |SELECT vec_id + 200000 AS id, vec_id AS cluster FROM embeddings WHERE vec_id < 10
        |ORDER BY 1""".stripMargin,
    "text_pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(regexp_replace(
        |   CASE WHEN doc_id < 50
        |        THEN text || ' contact bob@example.com via https://example.com/a?b=1 now'
        |        ELSE text END,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g') AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_cluster" ->
      """SELECT doc_id AS id, doc_id AS cluster FROM documents WHERE doc_id < 30
        |UNION ALL
        |SELECT doc_id + 10000 AS id, doc_id AS cluster FROM documents WHERE doc_id < 30
        |UNION ALL
        |SELECT doc_id + 20000 AS id, doc_id AS cluster FROM documents WHERE doc_id < 30
        |ORDER BY 1""".stripMargin,
    "text_repetition" ->
      """WITH arr AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a FROM documents),
        |idx AS (SELECT doc_id, a, unnest(generate_series(1, len(a)-1)) AS i FROM arr),
        |bg AS (SELECT doc_id, a[i] || ' ' || a[i+1] AS bg FROM idx),
        |bstat AS (SELECT doc_id, count(*) AS n_bg, count(DISTINCT bg) AS n_bg_d FROM bg GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(a) AS w FROM arr),
        |tf AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |tstat AS (SELECT doc_id, sum(c) AS n_tok, max(c) AS mx FROM tf GROUP BY 1)
        |SELECT t.doc_id, CAST(t.mx AS DOUBLE) / t.n_tok AS top_tok_share,
        | 1.0 - CAST(b.n_bg_d AS DOUBLE) / b.n_bg AS dup_bigram_frac
        |FROM tstat t JOIN bstat b USING (doc_id) ORDER BY 1""".stripMargin,
    "pipeline_corpus_prep" ->
      """WITH corpus AS (
        | SELECT doc_id, text, lang FROM documents
        | UNION ALL
        | SELECT doc_id + 10000, upper(text), lang FROM documents WHERE doc_id < 50),
        |q AS (
        | SELECT doc_id, text, lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tok
        | FROM corpus),
        |f AS (
        | SELECT *, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        | FROM q WHERE n_tok >= 50),
        |k AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY 1)
        |SELECT f.doc_id, f.lang, f.n_tok
        |FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.keep
        |ORDER BY f.doc_id""".stripMargin,
    // Both ANN tiers return the planted closed form (annCorpus): for
    // each query, ranks 1..10 are its ten colinear copies in id order.
    "sim_ann_lsh" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    "sim_ann_ivf" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    // PQ tiers admit the planted copies through the ADC net and rescore
    // exactly — same closed form as the other ANN tiers
    "sim_ann_pq" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    "sim_ann_ivfpq" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    // the OPQ serving path admits the planted copies through the
    // rotated ADC net and rescores exactly — same closed form as the
    // other ANN tiers
    "sim_ann_opq" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    // the stream-maintained rotated code column serves the same
    // planted closed form as the batch OPQ index
    "stream_opq_ingest" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    // OPQ emits the exact count plus structural booleans (see the key's
    // comment) — the error-bound-relation pattern of the sketch keys
    "sim_pq_opq" ->
      """SELECT count(*) AS n_vectors, TRUE AS rotation_orthonormal,
        | TRUE AS opq_no_worse
        |FROM embeddings WHERE vec_id < 100000""".stripMargin,
    // the stream-maintained term-stats store merges to EXACTLY the
    // one-shot batch aggregation (integer-exact tf/df sums)
    "stream_term_stats" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        | FROM documents)
        |SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM toks GROUP BY 1 ORDER BY tf DESC, term LIMIT 20""".stripMargin,
    // the stream-maintained PQ store answers what the batch PQ index
    // answers: the same planted closed form
    "stream_pq_ingest" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    // the stream-maintained index must answer exactly what the batch
    // index answers: the same planted closed form
    "stream_vector_ingest" ->
      """SELECT q.vec_id AS qid, CAST(g.j + 1 AS INT) AS rnk,
        | 100000 + q.vec_id * 100 + g.j AS vec_id
        |FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        |WHERE q.vec_id < 5 ORDER BY 1, 2""".stripMargin,
    "sim_cosine_topk" ->
      """SELECT qid, rnk, vec_id FROM (
        | SELECT q.vec_id AS qid, c.vec_id AS vec_id,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS INT) AS rnk
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) AS x
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """SELECT CASE WHEN len(regexp_extract_all(lower(text),
        |   '\b(the|a|an|and|of|to|in|is)\b')) >= 2
        |  THEN 'en' ELSE 'unk' END AS pred_lang, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // same dirt planted with chr(): 769 = U+0301 combining acute,
    // 7/133/127 = BEL / C1 NEL / DEL; nfc_normalize (utf8proc) then
    // composes, the RE2 class strips — validated equal to a
    // java.text.Normalizer reference implementation
    "text_nfc_clean" ->
      """WITH dirty AS (
        | SELECT doc_id,
        |  regexp_replace(text, 'a', 'a' || chr(769), 'g')
        |    || chr(7) || chr(133) || chr(127) AS d
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        | md5(regexp_replace(nfc_normalize(d), '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g')) AS chk,
        | CAST(length(regexp_replace(nfc_normalize(d), '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g')) AS INT) AS n_chars
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        | CAST(length(text) AS INT) AS n_chars_m,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tok,
        | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INT) AS n_punct,
        | CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is)\b')) AS INT) AS n_stop,
        | CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is)\b')) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(text), '\s+')) AS stop_ratio,
        | CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
        |   / length(text) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // BM25 mirrored term by term: same literals, same left-association,
    // single divisions — the float expression trees are identical, so
    // the scores agree bit for bit (round-6 guards the last ulp)
    "text_bm25" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents),
        |base AS (
        | SELECT doc_id, CAST(len(arr) AS INT) AS dl,
        |  len(list_filter(arr, x -> x = 'hash')) AS tf0,
        |  len(list_filter(arr, x -> x = 'join')) AS tf1,
        |  len(list_filter(arr, x -> x = 'scan')) AS tf2
        | FROM d),
        |stats AS (
        | SELECT count(*) AS n, sum(dl) AS sdl,
        |  count(*) FILTER (WHERE tf0 > 0) AS df0,
        |  count(*) FILTER (WHERE tf1 > 0) AS df1,
        |  count(*) FILTER (WHERE tf2 > 0) AS df2
        | FROM base)
        |SELECT doc_id, dl, round(
        |   ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * (CAST(tf0 AS DOUBLE) * 2.2)
        |     / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl * n AS DOUBLE) / sdl))
        | + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * (CAST(tf1 AS DOUBLE) * 2.2)
        |     / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl * n AS DOUBLE) / sdl))
        | + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * (CAST(tf2 AS DOUBLE) * 2.2)
        |     / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl * n AS DOUBLE) / sdl))
        | , 6) AS bm25
        |FROM base, stats ORDER BY doc_id""".stripMargin,
    // dynamic-relation BM25: identical expression tree per term as
    // text_bm25, partials summed in term_pos order both sides (Spark:
    // array_sort fold; DuckDB: list ORDER BY term_pos) — docs matching
    // no query term are absent on both sides
    "text_bm25_dynamic" -> bm25DynamicOracle,
    // BM25 served from the stream-maintained inverted index reads the
    // same integers (tf, dl, df, N, sdl) the batch formulation
    // derives, so the identical oracle applies verbatim
    "stream_bm25_serve" -> bm25DynamicOracle,
    // the LM: Laplace-smoothed bigram conditionals from the corpus's
    // own counts; lm_logprob summed in POSITION order both sides
    // (Spark: array_sort fold; DuckDB: list ORDER BY ord) so the float
    // fold rounds identically, then ROUND(6) guards the last ulp
    "text_lm_score" ->
      """WITH d AS (
        | SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS arr FROM documents),
        |idx AS (
        | SELECT doc_id, arr, unnest(range(1, len(arr))) AS ord FROM d),
        |pairs AS (
        | SELECT doc_id, CAST(ord AS INT) AS ord, arr[ord] AS w1, arr[ord + 1] AS w2 FROM idx),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM pairs GROUP BY 1, 2),
        |cu AS (SELECT w1, count(*) AS cu FROM pairs GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM (SELECT unnest(arr) AS tok FROM d) AS u),
        |lp AS (
        | SELECT p.doc_id, p.ord, cb.cb AS cbv, cu.cu AS cuv,
        |  ln((cb.cb + 1.0) / (cu.cu + v.vocab)) AS lp
        | FROM pairs p JOIN cb ON p.w1 = cb.w1 AND p.w2 = cb.w2
        |              JOIN cu ON p.w1 = cu.w1
        |              CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        | CAST(sum(cbv) AS BIGINT) AS sum_cb,
        | CAST(sum(cuv) AS BIGINT) AS sum_cu,
        | round(list_sum(list(lp ORDER BY ord)) / count(*), 6) AS lm_logprob_r
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_term_stats" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        | FROM documents WHERE doc_id < 50),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, rnk, term, tf, df FROM (
        | SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |  CAST(row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY tf.tf DESC, tf.term) AS INT) AS rnk
        | FROM tf JOIN dfreq USING (term)) AS x
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "text_word_freq" ->
      """SELECT w, count(*) AS n FROM (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
        | FROM documents)
        |GROUP BY 1 ORDER BY n DESC, w LIMIT 20""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH arr AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS a
        | FROM documents),
        |g AS (
        | SELECT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        | FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 2)) AS i
        |       FROM arr) AS x),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT DISTINCT doc_id FROM g JOIN b USING (g) ORDER BY 1""".stripMargin,
    "pipeline_token_budget" ->
      """WITH q AS (
        | SELECT doc_id, lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tok
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY lang
        |    ORDER BY n_tok DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        | FROM q)
        |SELECT doc_id, lang, n_tok, cum_tok FROM c
        |WHERE cum_tok <= 2000 ORDER BY lang, cum_tok""".stripMargin,
    "pipeline_domain_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100
        |  < CASE source WHEN 'src0' THEN 80 WHEN 'src3' THEN 50
        |                WHEN 'src7' THEN 20 ELSE -1 END
        |ORDER BY 1""".stripMargin,
    "dedup_embedding_stream" ->
      """WITH m AS (
        | SELECT vec_id AS qid, vec_id AS id FROM embeddings WHERE vec_id < 5
        | UNION ALL
        | SELECT q.vec_id AS qid, 100000 + q.vec_id * 100 + g.j AS id
        | FROM embeddings q, (SELECT unnest(generate_series(0, 9)) AS j) g
        | WHERE q.vec_id < 5)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM m a JOIN m b ON a.qid = b.qid AND a.id < b.id
        |ORDER BY 1, 2""".stripMargin,
    // each audio probe hits exactly its seeded group's 3 clips
    "multimodal_audio_probe" ->
      """SELECT p.doc_id AS probe_id,
        | 3 * (p.doc_id - 300) + g.j AS dup_id, CAST(0 AS INT) AS hamming
        |FROM documents p, (SELECT unnest(generate_series(0, 2)) AS j) g
        |WHERE p.doc_id >= 300 AND p.doc_id < 310
        |ORDER BY 1, 2""".stripMargin,
    // each probe hits exactly its seeded group's 3 members
    "multimodal_image_probe" ->
      """SELECT p.doc_id AS probe_id,
        | 3 * (p.doc_id - 300) + g.j AS dup_id, CAST(0 AS INT) AS hamming
        |FROM documents p, (SELECT unnest(generate_series(0, 2)) AS j) g
        |WHERE p.doc_id >= 300 AND p.doc_id < 310
        |ORDER BY 1, 2""".stripMargin,
    // the stream-maintained hash store serves the same closed-form
    // pair list as the batch tier
    "stream_image_ingest" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 300 AND b.doc_id < 300
        |ORDER BY 1, 2""".stripMargin,
    // within-group payloads are pixel-identical by construction, so the
    // pair list is pure doc_id arithmetic and every distance is 0;
    // cross-group pairs sit ~32 bits apart and cannot enter
    "multimodal_image_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 300 AND b.doc_id < 300
        |ORDER BY 1, 2""".stripMargin,
    // same planted contract through the PNG (DEFLATE) decode path:
    // lossless encode keeps within-group payloads bit-identical, so
    // the pair list and distances are unchanged
    "multimodal_codec_image_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 300 AND b.doc_id < 300
        |ORDER BY 1, 2""".stripMargin,
    "multimodal_binary_meta" ->
      """SELECT doc_id,
        | CAST(strlen(text) AS BIGINT) AS n_bytes,
        | CAST(64 + strlen(text) % 512 AS INT) AS width,
        | CAST(64 + (strlen(text) * 31) % 384 AS INT) AS height,
        | 'fake/raw' AS fmt,
        | md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_resize" ->
      """SELECT doc_id, CAST(128 AS INT) AS out_w, CAST(64 AS INT) AS out_h,
        | CAST(128 * 64 * 3 AS BIGINT) AS n_bytes_out
        |FROM documents ORDER BY doc_id""".stripMargin,
    // REAL P6 decode: geometry and byte size follow from the
    // synthesized 16x(4+doc_id%5) image (12-byte header + 48h
    // samples); mean_px re-derives the digest-byte mean the decoder
    // computed off the actual pixel buffer — exact dyadic rational,
    // no rounding guard
    "multimodal_ppm_decode" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(16 AS INT) AS width,
         | CAST(4 + doc_id % 5 AS INT) AS height,
         | CAST(12 + 48 * (4 + doc_id % 5) AS BIGINT) AS n_bytes,
         | ($digestSum) / 16.0 AS mean_px
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // REAL P6 frame demux: frame count / geometry follow from the
    // synthesized container; per-frame mean is the digest-byte mean
    // again (16-byte cycle divides every 48h-byte frame buffer)
    "multimodal_ppm_frames" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(16 AS INT) AS width,
         | CAST(2 + f AS INT) AS height, ($digestSum) / 16.0 AS mean_px
         |FROM (SELECT doc_id, text, unnest(range(2 + doc_id % 3)) AS f FROM documents)
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // REAL P5 decode: geometry/byte size follow from the synthesized
    // 16x(4+doc_id%5) graymap (12-byte header + 16h samples); mean_px
    // is the digest-byte mean again
    "multimodal_pgm_decode" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(16 AS INT) AS width,
         | CAST(4 + doc_id % 5 AS INT) AS height,
         | CAST(12 + 16 * (4 + doc_id % 5) AS BIGINT) AS n_bytes,
         | ($digestSum) / 16.0 AS mean_px
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // REAL P4 decode: the synthesized 32 x 4*(1+doc_id%3) bitmap packs
    // digest bytes, so the decoder's buffer popcount is exactly
    // (h/4) x popcount(digest); the oracle popcounts the same digest
    // hex-digit-wise. ones_ratio is exact-int/exact-int.
    "multimodal_pbm_decode" ->
      """WITH pc AS (
        | SELECT doc_id,
        |  CAST(4 * (1 + doc_id % 3) AS INT) AS height,
        |  list_sum([bit_count(CAST(('0x' || substr(md5(text), i, 1)) AS INT))
        |            FOR i IN range(1, 33)]) AS popcount
        | FROM documents)
        |SELECT doc_id, CAST(32 AS INT) AS width, height,
        | CAST((height // 4) * popcount AS BIGINT) AS n_ones,
        | CAST((height // 4) * popcount AS DOUBLE) / (32 * height) AS ones_ratio
        |FROM pc ORDER BY doc_id""".stripMargin,
    // REAL mixed-format demux: per-frame format from its own magic
    // (P6 even, P5 odd by construction), geometry from its own
    // header, mean the digest-byte mean for both sample layouts
    "multimodal_pnm_frames" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(f AS INT) AS frame_idx,
         | CASE WHEN f % 2 = 0 THEN 'P6' ELSE 'P5' END AS format,
         | CAST(16 AS INT) AS width, CAST(2 + f AS INT) AS height,
         | ($digestSum) / 16.0 AS mean_px
         |FROM (SELECT doc_id, text, unnest(range(2 + doc_id % 3)) AS f FROM documents)
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // REAL PCM16 WAV decode: format facts follow from the synthesized
    // clip (44-byte canonical header + 2 bytes/sample); mean_sample
    // re-derives the integer waveform's mean the decoder computed off
    // the actual PCM buffer — exact-int sum over exact-int count
    // same closed form as the image tier: within-group clips are
    // bit-identical, cross-group envelopes are independent sign flips
    "multimodal_audio_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 3 = b.doc_id // 3 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 300 AND b.doc_id < 300
        |ORDER BY 1, 2""".stripMargin,
    "multimodal_wav_decode" ->
      """WITH ks AS (
        | SELECT doc_id, unnest(range(64 + 16 * (doc_id % 50))) AS k FROM documents),
        |m AS (
        | SELECT doc_id, count(*) AS n_samples,
        |  CAST(sum((k * 2654435761 + doc_id) % 65536 - 32768) AS DOUBLE)
        |    / count(*) AS mean_sample
        | FROM ks GROUP BY 1)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        | n_samples, CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes, mean_sample
        |FROM m ORDER BY doc_id""".stripMargin,
    // real resize re-encodes an 8x8 P6: 11-byte header + 192 samples
    "multimodal_ppm_resize" ->
      """SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
        | CAST(203 AS BIGINT) AS n_bytes_out
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_frames" ->
      """SELECT doc_id, CAST(u AS INT) AS frame_idx,
        | CAST(least(256, strlen(text) - u * 256) AS INT) AS frame_len
        |FROM (
        | SELECT doc_id, text,
        |  unnest(generate_series(0, CAST(ceil(strlen(text) / 256.0) AS INT) - 1, 2)) AS u
        | FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "multimodal_features" ->
      """SELECT doc_id, CAST(8 AS INT) AS dim,
        | CAST(strlen(text) * 1 % 1024 AS DOUBLE) / 1024.0 AS f1,
        | CAST(strlen(text) * 8 % 1024 AS DOUBLE) / 1024.0 AS f8
        |FROM documents ORDER BY doc_id""".stripMargin,
    // REAL PNG decode (the JDK's DEFLATE codec): format sniffed off
    // the magic, geometry off the decoded image, and — PNG being
    // byte-lossless — the decoded-raster mean is the exact
    // digest-sum/16 dyadic rational again
    "multimodal_png_decode" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, 'png' AS format, CAST(16 AS INT) AS width,
         | CAST(4 + doc_id % 5 AS INT) AS height,
         | ($digestSum) / 16.0 AS mean_px
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // REAL JPEG decode (lossy): format + geometry exact; the decoded
    // mean enters as an error-bound relation (within_bound pinned
    // literal TRUE), the sketch keys' pattern — bit-exactness is not
    // a property JPEG has
    "multimodal_jpeg_decode" ->
      """SELECT doc_id, 'jpeg' AS format, CAST(16 AS INT) AS width,
        | CAST(4 + doc_id % 5 AS INT) AS height, TRUE AS within_bound
        |FROM documents ORDER BY doc_id""".stripMargin,
    // REAL codec resize chain: the resampled raster is closed-form
    // (floor-index NN over the digest cycle: target (x,y,c) reads
    // digest[(((y*h//8)*16 + 2x)*3 + c) % 16]), so the mean is exact;
    // roundtrip_ok (re-encode decodes back bit-identical) pins TRUE
    "multimodal_codec_resize" ->
      """WITH yy AS (
        | SELECT doc_id, text, 4 + doc_id % 5 AS h, unnest(range(8)) AS y FROM documents),
        |xx AS (SELECT doc_id, text, h, y, unnest(range(8)) AS x FROM yy),
        |cc AS (SELECT doc_id, text, ((y * h // 8) * 16 + 2 * x) * 3 AS base,
        |       unnest(range(3)) AS c FROM xx),
        |b AS (SELECT doc_id,
        |      CAST(('0x' || substr(md5(text), 1 + 2 * ((base + c) % 16), 2)) AS INT) AS v
        |      FROM cc)
        |SELECT doc_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
        | CAST(sum(v) AS DOUBLE) / 192.0 AS mean_px, TRUE AS roundtrip_ok
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // REAL animated-GIF demux/decode (LZW, lossless on 8-bit gray):
    // frame count off the container, geometry off each frame, and
    // each frame's mean the digest-sum/16 of ITS OWN per-frame digest
    "multimodal_gif_frames" -> {
      val digestSum = (0 until 16)
        .map(i => s"CAST(('0x' || substr(md5(text || ':' || CAST(f AS VARCHAR)), ${2 * i + 1}, 2)) AS INT)")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(f AS INT) AS frame_idx, 'gif' AS format,
         | CAST(16 AS INT) AS width, CAST(6 AS INT) AS height,
         | ($digestSum) / 16.0 AS mean_px
         |FROM (SELECT doc_id, text, unnest(range(2 + doc_id % 3)) AS f FROM documents)
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // REAL G.711 mu-law decode: the oracle re-derives the spec's
    // segment expansion in SQL (v = bit-complement of the code;
    // magnitude = ((mant*8 + 132) << exp) - 132, sign from bit 7) —
    // exact because the JDK codec's table equals this closed form on
    // all 256 codes (IngestSpec sweeps them)
    "multimodal_ulaw_decode" ->
      """WITH ks AS (
        | SELECT doc_id, unnest(range(64 + 8 * (doc_id % 50))) AS k FROM documents),
        |dec AS (
        | SELECT doc_id, 255 - ((k * 37 + doc_id) % 256) AS v FROM ks),
        |lin AS (
        | SELECT doc_id,
        |  (CASE WHEN v >= 128 THEN -1 ELSE 1 END) *
        |   (((v % 16) * 8 + 132) * CAST(power(2, (v // 16) % 8) AS BIGINT) - 132) AS s
        | FROM dec)
        |SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        | count(*) AS n_samples, CAST(44 + count(*) AS BIGINT) AS n_bytes,
        | CAST(sum(s) AS DOUBLE) / count(*) AS mean_sample
        |FROM lin GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
