package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`,
  * north-star ExtOp).
  *
  * Two tiers:
  *  - [[cosineTopK]]: brute force — broadcast the (small) query set,
  *    scan the corpus once, per-partition cosine + global top-k. Exact;
  *    linear in corpus size; the right baseline and the correctness
  *    oracle for the approximate tier.
  *  - [[annTopK]]: LSH-bucketed approximate — random-hyperplane
  *    buckets prune the corpus so each query compares against a slice.
  *    Sub-linear; the 100 TB path. Recall vs [[cosineTopK]] is the
  *    quality gate (VectorsSpec).
  *
  * Cosine math runs on the native vector expressions of
  * [[graft.functions.VectorExprs]] over the raw arrays — no per-row JVM
  * UDF boxing, no mllib Vector conversion on the hot path.
  */
object Vectors {

  /** Sequential left-to-right double accumulation — deterministic.
    * Native codegen expression (graft.functions.DotProduct): a tight
    * primitive loop over ArrayData, bit-identical to the
    * higher-order-function fold it replaces (VectorsSpec pins the two
    * equal) but allocation-free and whole-stage-codegen'd — the
    * difference is ~5x on the similarity self-join hot path. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def l2norm(a: Column): Column = graft.functions.VectorExprs.l2norm(a)

  /** Null for zero vectors (nullif guard) instead of a NaN/ANSI error;
    * the rank step drops null cosines, so zero vectors simply never
    * rank. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2norm(a) * l2norm(b), lit(0.0))

  /** L2-normalize an array column — the codegen
    * [[graft.functions.L2Normalize]] expression (optimization round
    * 21). The previous `when(n.isNotNull, transform(vec, x => x / n))`
    * formulation embedded the norm subtree inside the transform
    * LAMBDA, and higher-order lambdas get no common-subexpression
    * elimination: Catalyst re-evaluated the whole child per element —
    * O(d²) interpreted work on plain columns, and ~d full UDF
    * invocations per row when composed over one (the OPQ rotate path
    * measured ~1 ms/row from exactly this). One expression = child
    * once, norm once, one divide pass; bit-identical values and null
    * semantics (zero vectors and null-element vectors normalize to a
    * NULL ARRAY, filtered by callers' isNotNull guards — the
    * round-15 drop-degenerates contract; VectorsSpec pins the
    * equivalence). */
  private[graft] def normalized(vec: Column): Column =
    graft.functions.VectorExprs.normalize(vec)

  /** Per-query top-k rank via the map-side-truncating [[TopKByValue]]
    * aggregator — the scale-correct replacement for
    * `row_number().over(Window.partitionBy(qid))`: a qid-partitioned
    * window shuffles EVERY candidate of a query to one reducer (a
    * corpus-sized, skew-prone shuffle when queries are few), while the
    * aggregator's partial aggregation truncates each map partition to
    * k rows per query BEFORE the shuffle, so only O(queries x k)
    * travels. Identical answer and tiebreak (value desc, id asc); rows
    * with a null value are dropped (they could only ever rank when a
    * query has < k candidates, and "never rank" is the documented
    * contract for degenerate vectors).
    *
    * The aggregator buffer is (Double, Long), so integral ids take the
    * aggregate path (output cast back to the source type); any other
    * id type keeps the window formulation as a correctness fallback.
    * Null-id rows are dropped on BOTH paths (a null id is an
    * unanswerable result row; the aggregate's non-nullable tuple
    * encoder would otherwise crash where the old window merely ranked
    * garbage). */
  private def topKPerGroup(scored: DataFrame, group: String, value: String,
                           idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = scored.schema(idCol).dataType
    // NaN scores drop with nulls (round-15 review): NaN is not null,
    // and feeding it to the aggregate's sortWith gives an
    // intransitive comparator (TimSort can throw) while the window
    // path ranks NaN FIRST — both paths must agree that a
    // not-a-number score never ranks
    val clean = scored.filter(col(value).isNotNull && col(idCol).isNotNull &&
      !isnan(col(value).cast("double")))
    idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val fn = graft.functions.TopKByValue.topK(k)
        clean
          .groupBy(col(group))
          .agg(fn(col(value), col(idCol).cast("long")).as("__top"))
          .select(col(group), posexplode(col("__top")).as(Seq("__i", "__t")))
          .select(col(group), (col("__i") + 1).as("rnk"),
            col("__t._2").cast(idType).as(idCol))
      case _ =>
        val w = Window.partitionBy(col(group)).orderBy(col(value).desc, col(idCol).asc)
        clean
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col(group), col("rnk"), col(idCol))
    }
  }

  /** Exact cosine top-k of every corpus vector against each query
    * vector. Queries are broadcast (dimension-sized); the corpus is
    * scanned once; the per-query rank is the map-side-truncating
    * [[topKPerGroup]] aggregation — at 1000 executors each holds
    * corpus/1000, truncates its slice to k rows per query locally, and
    * the shuffle moves only O(queries x k) triples (a qid window here
    * would move the whole scored corpus to one reducer per query). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, id: String,
                 vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("qid"), col(vec).as("__qv"))
    val scored = corpus.join(broadcast(q), col(id) =!= col("qid"))
      .withColumn("__cos", cosine(col("__qv"), col(vec)))
    topKPerGroup(scored, "qid", "__cos", id, k)
  }

  /** Dimensionality of the first non-null vector; None when the corpus
    * is empty or every vector is null — callers fold that to an empty
    * result instead of throwing on `.head()`. */
  private def headDim(df: DataFrame, vec: String): Option[Int] =
    df.select(size(col(vec)).as("__d")).filter(col("__d").isNotNull)
      .take(1).headOption.map(_.getInt(0))

  /** Per-band collision probability of two vectors at cosine `sim`
    * under `bits` sign-random-projections: (1 - θ/π)^bits with
    * θ = acos(sim) — the Goemans–Williamson hyperplane bound, exact
    * for independent Gaussian planes. */
  def srpBandCollisionProb(sim: Double, bits: Int): Double = {
    val theta = math.acos(math.max(-1.0, math.min(1.0, sim)))
    math.pow(1.0 - theta / math.Pi, bits)
  }

  /** Probability a pair at cosine `sim` collides in AT LEAST one of
    * `bands` independent bands — the recall of the banded-SRP
    * candidate net for pairs at that similarity level. */
  def srpRecall(sim: Double, bits: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - srpBandCollisionProb(sim, bits), bands)

  /** Derive (bits, bands) instead of hand-tuning them: bits ≈
    * log2(corpus) holds expected bucket occupancy constant as the
    * corpus grows (the standard n^ρ LSH scaling), then bands is the
    * smallest count whose [[srpRecall]] meets `targetRecall` at the
    * similarity level `sim` that must be recalled — for near-dup
    * mining that is the dedup threshold; for top-k search, the
    * similarity of the k-th true neighbor (measure it on a sample).
    * `maxBands` caps the cost blow-up of asking for high recall at
    * low similarity, where LSH fundamentally degrades to a scan —
    * hitting the cap means the operating point is wrong for LSH, and
    * the computed recall is whatever [[srpRecall]] reports at the cap.
    * VectorsSpec property-tests measured recall@10 >= target across
    * corpus sizes with exactly these parameters. */
  def srpParams(corpusSize: Long, sim: Double, targetRecall: Double = 0.9,
                minBits: Int = 4, maxBands: Int = 4096): (Int, Int) = {
    require(corpusSize > 0, "corpusSize must be positive")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      "targetRecall must be in (0, 1)")
    val bits = math.min(30, math.max(minBits,
      math.ceil(math.log(corpusSize.toDouble) / math.log(2.0)).toInt))
    val p = srpBandCollisionProb(sim, bits)
    val bands =
      if (p >= 1.0) 1
      else if (p <= 0.0) maxBands
      else math.min(maxBands, math.max(1,
        math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt))
    (bits, bands)
  }

  /** Seeded Gaussian hyperplanes for banded SRP signatures, indexed
    * `planes(band * bits + j)(d)`. */
  private def srpPlanes(dim: Int, bits: Int, bands: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bands * bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** The banded SRP signature column for a FIXED (dim, bits, bands,
    * seed) — the ingest-time index column. Freezing the parameters at
    * bootstrap is what lets a streaming maintenance loop
    * ([[graft.streaming.VectorIngest]]) compute signatures batch by
    * batch that are bit-identical to a one-shot batch build over the
    * same rows. Scan-local codegen; no fit step. */
  def srpSignatureCol(vec: Column, dim: Int, bits: Int = 12, bands: Int = 8,
                      seed: Long = 42L): Column =
    graft.functions.VectorExprs.srpBandKeys(
      vec, srpPlanes(dim, bits, bands, seed), bits, bands)

  /** ANN candidate (qid, cid) pairs from banded SRP signatures: corpus
    * and queries are projected onto the SAME seeded hyperplanes
    * (scan-local codegen, no fit step, no driver-side model); a corpus
    * vector is a candidate for a query iff they share a (band, key)
    * bucket in any band. Only ids travel through the bucket join — the
    * query signature relation is tiny and broadcast, so candidate
    * generation is one scan of the corpus plus a broadcast probe.
    * This is the one band join outside [[Bands]]: its queries are a
    * handful of rows that are also corpus rows (hence `qid =!= cid`),
    * broadcast whole with no size check, where [[Bands.probeJoin]]
    * would add a [[Dedup.maybeBroadcast]] count job to every search.
    *
    * Exposed to the spec so "how many candidates did the buckets
    * admit?" is directly assertable (the pruning gate). */
  private[graft] def annCandidates(corpus: DataFrame, queries: DataFrame,
                                   id: String, vec: String, bits: Int,
                                   bands: Int, seed: Long): DataFrame = {
    headDim(corpus, vec).fold(
        corpus.select(col(id).as("qid"), col(id).as("cid")).where(lit(false))) { dim =>
      val keysCol = graft.functions.VectorExprs.srpBandKeys(
        col(vec), srpPlanes(dim, bits, bands, seed), bits, bands)
      def sigs(df: DataFrame, outId: String): DataFrame =
        df.select(col(id).as(outId), posexplode(keysCol).as(Seq("__band", "__key")))
      sigs(corpus, "cid").join(broadcast(sigs(queries, "qid")), Seq("__band", "__key"))
        .filter(col("qid") =!= col("cid"))
        // a pair colliding in several bands appears once per collision;
        // id-keyed dedup before the (more expensive) exact rescore
        .dropDuplicates("qid", "cid")
        .select(col("qid"), col("cid"))
    }
  }

  /** Approximate NN via banded sign-random-projection LSH: bucket
    * collisions on seeded hyperplane sign signatures generate the
    * candidates (see [[annCandidates]]), and every candidate is EXACTLY
    * rescored with [[cosine]] before the per-query top-k window — so
    * ranking among admitted candidates is exact and bands/bits only
    * tune recall vs candidate volume.
    *
    * Parameter physics (uniform random vectors are LSH's worst case —
    * no cluster structure): per-band collision probability at angle θ
    * is (1-θ/π)^bits, so recall at the top-k similarity level (~0.3
    * cosine on the 64-d test corpus) needs many narrow bands while
    * random pairs (cosine ~0, collision 2^-bits per band) stay pruned.
    * The defaults (6 bits x 32 bands) measure ~0.75 recall@10 at ~40%
    * candidate volume on the test corpus; at the high-similarity
    * near-dup regime the same machinery prunes to near-zero
    * ([[srpNearDups]]). Scale bits ~ log2(corpus) to hold per-bucket
    * occupancy constant as the corpus grows, spending recall per the
    * standard n^ρ LSH tradeoff. Seeded, deterministic; zero/null
    * vectors rescore to null cosine and never rank. */
  def annTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, k: Int, bits: Int = 6, bands: Int = 32,
              seed: Long = 42L): DataFrame = {
    val cand = annCandidates(corpus, queries, id, vec, bits, bands, seed)
    val qv = queries.select(col(id).as("qid"), col(vec).as("__qv"))
    val cv = corpus.select(col(id).as("cid"), col(vec).as("__cv"))
    val scored = cand.join(broadcast(qv), Seq("qid")).join(cv, Seq("cid"))
      .withColumn("__cos", cosine(col("__qv"), col("__cv")))
    topKPerGroup(scored, "qid", "__cos", "cid", k)
      .withColumnRenamed("cid", "vec_id")
  }

  /** Exact near-duplicate pairs by embedding cosine >= simThreshold,
    * via the upper-triangle self-join with pre-normalized vectors (the
    * norm is computed once per row, the per-pair work is one dot
    * product). O(n^2) pairs — the exact baseline and the correctness
    * oracle for [[srpNearDups]]; at corpus scale use that LSH path,
    * which trades recall for sub-linear candidates. */
  def cosineNearDupsExact(df: DataFrame, id: String, vec: String,
                          simThreshold: Double): DataFrame = {
    val normed = df.select(col(id), normalized(col(vec)).as("__nv"))
      .filter(col("__nv").isNotNull)
    val a = normed.select(col(id).as("id_a"), col("__nv").as("__na"))
    val b = normed.select(col(id).as("id_b"), col("__nv").as("__nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("__na"), col("__nb")))
      .filter(col("cos_sim") >= simThreshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Embedding near-duplicate pairs via banded sign-random-projection
    * (SRP) LSH — the 100 TB near-dup path. Each vector gets `bands`
    * signature keys, each key the `bits` sign bits of seeded Gaussian
    * hyperplane projections; two vectors are CANDIDATES iff they share
    * a (band, key) bucket, and every candidate is EXACTLY rescored with
    * [[cosine]], so the output has no false positives at any parameter
    * setting — bands/bits only tune recall.
    *
    * Why this shape scales: signatures are a scan-local projection
    * (codegen dot products against literal hyperplanes — no fit step,
    * no driver-side model); the only shuffle is the bucket join, whose
    * key cardinality grows with the corpus (2^bits per band), so
    * buckets stay small and candidates stay near-linear. Recall math
    * lives in [[srpRecall]]: at the default bits=12 / bands=8 it is
    * 0.74 for pairs exactly at sim 0.9 and 0.93 at sim 0.95, while
    * colinear vectors (exact or scaled copies, cos = 1) collide in
    * EVERY band, so recall on true duplicates is 1 by construction —
    * derive parameters for a different operating point with
    * [[srpParams]].
    *
    * Signatures are scale-invariant (sign(p·v) == sign(p·λv) for λ>0),
    * so no normalization pass is needed; zero vectors rescore to null
    * cosine and drop. */
  def srpNearDups(df: DataFrame, id: String, vec: String,
                  simThreshold: Double, bits: Int = 12, bands: Int = 8,
                  seed: Long = 42L): DataFrame = {
    require(bits >= 1 && bits <= 30, "bits must be in [1, 30]")
    headDim(df, vec).fold(df.select(col(id).as("id_a"), col(id).as("id_b"),
        lit(0.0).as("cos_sim")).where(lit(false))) { dim =>
      // ONE native expression for all bands*bits sign projections — the
      // composed per-plane form (96 dot exprs) generates a whole-stage
      // method past HotSpot's compile limit and runs as interpreted
      // bytecode (measured ~100x on this path)
      val withSig = df.select(col(id), col(vec),
        srpSignatureCol(col(vec), dim, bits, bands, seed).as("__sig"))
      srpNearDupsOnSigs(withSig, id, "__sig", vec, simThreshold)
    }
  }

  /** [[srpNearDups]] over PRE-COMPUTED signatures — the form that
    * consumes an ingest-time `__sig` column (e.g. the one a streaming
    * maintenance loop keeps appending, [[graft.streaming.VectorIngest]])
    * instead of re-projecting the corpus. Same candidate generation and
    * exact rescore; `vec` may be the raw embedding or the stored
    * normalized copy (cosine is scale-invariant). */
  def srpNearDupsOnSigs(withSig: DataFrame, id: String, sig: String,
                        vec: String, simThreshold: Double): DataFrame = {
    // the deduped candidate pair list re-joins the corpus to fetch the
    // two vectors exactly once per pair for the rescore. The signature
    // relation PERSISTS across its four appearances (two band-join
    // sides, two rescore joins — round 15: the siblings measured
    // exchange reuse failing on exactly this shape and pinned persist +
    // eager candidate checkpoint).
    val sigRel = withSig.select(col(id), col(sig).as("__sig"), col(vec).as("__v"))
      .persist()
    try {
      val (cands, candRows) = graft.Metrics.counted(Bands.selfJoin(
        sigRel.select(col(id), posexplode(col("__sig")).as(Seq("__band", "__key"))), id))
      graft.Metrics.record("srp_neardup_candidates", candRows)
      cands
        .join(sigRel.select(col(id).as("id_a"), col("__v").as("__va")), Seq("id_a"))
        .join(sigRel.select(col(id).as("id_b"), col("__v").as("__vb")), Seq("id_b"))
        .withColumn("cos_sim", cosine(col("__va"), col("__vb")))
        .filter(col("cos_sim") >= simThreshold)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .localCheckpoint(true)
    } finally { sigRel.unpersist(); () }
  }

  /** One-sided SRP PROBE — the incremental-ingest shape of embedding
    * near-dup (the sibling of the text/media probes): the NEW vectors'
    * band signatures collide one-way against the corpus's (at
    * production scale the ingest-time `__sig` column a streaming
    * maintainer keeps, [[graft.streaming.VectorIngest]]), and every
    * candidate is exactly rescored — the corpus is never self-paired.
    * Colinear copies (cos = 1) collide in every band, so recall on
    * true duplicates is 1 by construction; ids must be disjoint
    * across the two sides. Output (probe_id, dup_id, cos_sim). */
  def srpProbe(corpus: DataFrame, probes: DataFrame, id: String, vec: String,
               simThreshold: Double, bits: Int = 12, bands: Int = 8,
               seed: Long = 42L): DataFrame = {
    require(bits >= 1 && bits <= 30, "bits must be in [1, 30]")
    headDim(corpus, vec).fold(corpus.select(col(id).as("probe_id"), col(id).as("dup_id"),
        lit(0.0).as("cos_sim")).where(lit(false))) { dim =>
      def sigs(df: DataFrame) = df.select(col(id), col(vec),
        srpSignatureCol(col(vec), dim, bits, bands, seed).as("__sig"))
      srpProbeOnSigs(sigs(corpus), sigs(probes), id, "__sig", vec, simThreshold)
    }
  }

  /** [[srpProbe]] over a PRE-COMPUTED corpus signature column — the
    * store-servable form of the embedding probe: the corpus side's
    * `sig`/`vec` columns come from an ingest-time store (e.g. the
    * `__sig`/`__cv` columns [[graft.streaming.VectorIngest]] maintains),
    * so probing a 100 TB corpus costs one scan of the (ids, sigs,
    * vectors) store and zero re-projection — the text/media probes'
    * serve-off-the-store shape ([[graft.streaming.DedupIngest]]),
    * completed for embeddings. Probes must arrive ALREADY SIGNED with
    * the store's geometry under the SAME (id, sig, vec) column names
    * ([[graft.streaming.VectorIngest.srpProbeFromStore]] enforces that
    * via the persisted params sidecar); `vec` may be raw or normalized
    * on either side (cosine is scale-invariant). One-way: the corpus is
    * never self-paired. Output (probe_id, dup_id, cos_sim). */
  def srpProbeOnSigs(corpusWithSig: DataFrame, probesWithSig: DataFrame,
                     id: String, sig: String, vec: String,
                     simThreshold: Double): DataFrame =
    srpProbeOnSigs(corpusWithSig.select(col(id), col(sig)),
      corpusWithSig.select(col(id), col(vec)),
      probesWithSig, id, sig, vec, simThreshold)

  /** The split-corpus form: the band join consumes `corpusSigs`
    * (id, sig) and the rescore consumes `corpusVecs` (id, vec) as two
    * INDEPENDENT relations. For a lazily-signed corpus the two-frame
    * split is what column pruning derives anyway, but when the corpus
    * arrives through a shuffle Catalyst cannot prune through — e.g. the
    * store reader's per-cid newest-version aggregate
    * ([[graft.streaming.VectorIngest.srpProbeFromStore]]) — passing
    * separately-folded narrow relations keeps the band join's shuffle
    * at signature width instead of dragging every corpus vector through
    * it unused. */
  def srpProbeOnSigs(corpusSigs: DataFrame, corpusVecs: DataFrame,
                     probesWithSig: DataFrame, id: String, sig: String,
                     vec: String, simThreshold: Double): DataFrame = {
    // eagerly reduced to the tiny (probe_id, dup_id) list before the
    // two rescore joins; candidate volume — THE scale variable of a
    // banded probe — lands in the bench counters instead of hiding
    // inside wall clock (the jaccard/minhash counter discipline). The
    // band join runs AFTER the caller's newest-version fold, which must
    // see every version of a cid to pick the newest.
    val pBands = probesWithSig
      .select(col(id).as("probe_id"), posexplode(col(sig)).as(Seq("__band", "__key")))
      .localCheckpoint(true)
    val cBands = corpusSigs
      .select(col(id).as("dup_id"), posexplode(col(sig)).as(Seq("__band", "__key")))
    val (cands, candRows) = graft.Metrics.counted(Bands.probeJoin(pBands, cBands))
    graft.Metrics.record("srp_probe_candidates", candRows)
    cands
      .join(probesWithSig.select(col(id).as("probe_id"), col(vec).as("__va")), Seq("probe_id"))
      .join(corpusVecs.select(col(id).as("dup_id"), col(vec).as("__vb")), Seq("dup_id"))
      .withColumn("cos_sim", cosine(col("__va"), col("__vb")))
      .filter(col("cos_sim") >= simThreshold)
      .select(col("probe_id"), col("dup_id"), col("cos_sim"))
  }

  /** A prebuilt IVF index. `cells` carries each corpus vector's coarse-
    * quantizer cell id and normalized components — at production scale
    * this is a `__cell` column WRITTEN WITH THE TABLE at ingest, so no
    * query ever pays the quantizer fit. `centroids` is the nlist-row
    * routing relation, broadcast at search time; `centroidArr` the same
    * centroids as the raw driver-side array, for streaming maintenance
    * (assigning NEW batches needs the frozen quantizer, not the routing
    * relation). */
  final case class IvfIndexData(cells: DataFrame, centroids: DataFrame,
                                centroidArr: Array[Array[Double]])

  /** Plain Lloyd k-means over a driver-held sample: seeded init from
    * shuffled sample points, squared-euclidean assignment, empty cells
    * keep their centroid. Deterministic. The O(n·k·d·iters) work runs
    * in tight primitive loops — for the bounded samples a coarse
    * quantizer needs (≤ ~100k points), milliseconds, with zero Spark
    * job scheduling. */
  private def lloydFit(points: Array[Array[Double]], k: Int, iters: Int,
                       seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot fit a quantizer on an empty sample")
    val n = points.length
    val dim = points(0).length
    val kk = math.min(k, n)
    val rnd = new scala.util.Random(seed)
    var centroids = rnd.shuffle(points.indices.toVector).take(kk)
      .map(points(_).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val p = points(i)
        val best = nearestCentroid(p, centroids)
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c).toDouble)
      }
    }
    centroids
  }

  /** Fit the coarse quantizer DRIVER-SIDE on a bounded seeded sample
    * ([[lloydFit]]) — at 100 TB the fit must not scan the full table,
    * and cell QUALITY needs only a representative sample (the faiss
    * design); a distributed k-means would spend multiple scheduled
    * jobs to compute what a driver loop over ≤100k points does in
    * milliseconds. Exposed separately from [[ivfIndex]] so a stream
    * bootstrap or a caller holding its own centroids can derive the
    * index via [[ivfIndexFrom]]. */
  def fitQuantizer(corpus: DataFrame, vec: String, nlist: Int = 16,
                   sampleFraction: Double = 1.0, seed: Long = 42L,
                   maxSamples: Int = 100000, iters: Int = 10): Array[Array[Double]] =
    lloydFit(normalizedSample(corpus, vec, sampleFraction, seed, maxSamples),
      nlist, iters, seed)

  /** Bounded seeded driver-side sample of normalized vectors — the
    * shared fit input for the coarse quantizer and the PQ codebooks.
    *
    * With the default `sampleFraction = 1.0` the fraction is DERIVED
    * (round 11): one cheap count of the non-zero-norm corpus, and when
    * it exceeds `maxSamples` the fraction targets a mean of
    * `maxSamples - 5*sqrt(maxSamples)` — a seeded Bernoulli sample
    * over the WHOLE corpus instead of a partition-order `limit`
    * prefix, which on a clustered layout (time-ordered ingest, sorted
    * parquet) would feed the quantizer only the first cluster(s). The
    * margin scales with the binomial sd (~sqrt(mean)), so the `limit`
    * guard stays a >5-sigma event at ANY cap — a fixed 0.95 factor
    * left small caps (maxSamples=100: mean 95, sd ~10) truncating with
    * ~30% probability, quietly reinstating the prefix bias this path
    * exists to remove. An explicit `sampleFraction < 1.0` skips the
    * count and is used verbatim, as before. */
  private[graft] def normalizedSample(corpus: DataFrame, vec: String,
                               sampleFraction: Double, seed: Long,
                               maxSamples: Int): Array[Array[Double]] = {
    val cn = nonDegenerate(corpus, vec).select(normalized(col(vec)).as("__na"))
    val frac =
      if (sampleFraction < 1.0) sampleFraction
      else {
        val n = cn.count()
        // floor at half the cap: for small caps the 5-sigma margin
        // would otherwise eat the whole sample (maxSamples=25 ->
        // target 0 -> a ~Poisson(1) draw that is EMPTY 37% of the
        // time and crashes the fit); half the cap keeps the empty
        // probability negligible at every cap while the sd-scaled
        // margin governs all realistic ones
        val target = math.max(maxSamples / 2.0,
          maxSamples - 5.0 * math.sqrt(maxSamples.toDouble))
        if (n <= maxSamples) 1.0 else target / n
      }
    val sampled =
      if (frac < 1.0) cn.sample(withReplacement = false, frac, seed)
      else cn
    val sample = sampled.limit(maxSamples)
      .collect().map(_.getSeq[Double](0).toArray)
    if (sample.length == maxSamples) {
      // the cap bound: an explicit fraction leaving > maxSamples
      // survivors, or (derived path) a >5-sigma binomial draw — either
      // way the residue is a partition-order prefix, so say so
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"quantizer sample truncated at maxSamples=$maxSamples " +
          "in partition order; lower sampleFraction (or rely on the " +
          "derived default) for an unbiased seeded sample.")
    }
    sample
  }

  /** Nearest-centroid assignment as a scan-local pass against the
    * broadcast centroid array, returning the cell id
    * ([[nearestCentroid]] per row).
    * A JVM function (udf) rather than a composed per-centroid
    * expression — nlist dot expressions would bloat the codegen method
    * (the SrpBandKeys lesson), and this is a once-per-ingest pass, not
    * a query path. Shared by the batch index build and the streaming
    * maintenance loop so their cells agree by construction.
    *
    * The centroid broadcast is created HERE, once per assigner — build
    * the assigner once and reuse it across calls (the streaming
    * maintenance loop does exactly this) rather than re-invoking this
    * per micro-batch, which would pile up one broadcast per batch on a
    * long-lived stream until the ContextCleaner lazily reclaims them. */
  private[graft] def cellAssigner(spark: org.apache.spark.sql.SparkSession,
                                  centroidArr: Array[Array[Double]]): Column => Column = {
    val bc = spark.sparkContext.broadcast(centroidArr)
    // unbox ONCE (optimization round 21): Seq[Double].apply boxes per
    // access, and the assignment loop indexes nlist*d times per row —
    // one primitive copy up front keeps the hot loop box-free
    val assign = udf((vs: Seq[Double]) => nearestCentroid(vs.toArray, bc.value))
    v => assign(v)
  }

  /** `df` without its degenerate `vec` rows — the one gate every
    * index build, fit sample and query side of the vector tier passes
    * through. Null, zero and null-element vectors all drop here, before
    * any driver unboxing, assignment or encode loop can NPE on them:
    * a zero vector normalizes to an array of NULL ELEMENTS (a non-null
    * array, so `IS NOT NULL` on the normalized column would let it
    * through), while the norm is null for all three alike. */
  private[graft] def nonDegenerate(df: DataFrame, vec: String): DataFrame =
    df.filter(nullif(l2norm(col(vec)), lit(0.0)).isNotNull)

  /** The per-row index-column projection: (cid, __cell, __cv) for
    * every non-degenerate vector ([[nonDegenerate]]) — identical for a
    * static corpus and a streaming micro-batch, which is what makes
    * stream-maintained cells provably equal to a batch build. */
  private[graft] def cellColumns(df: DataFrame, id: String, vec: String,
                                 centroidArr: Array[Array[Double]]): DataFrame = {
    val assign = cellAssigner(df.sparkSession, centroidArr)
    nonDegenerate(df, vec)
      .select(col(id).as("cid"), normalized(col(vec)).as("__na"))
      .withColumn("__a", assign(col("__na")))
      .select(col("cid"), col("__a").as("__cell"), col("__na").as("__cv"))
  }

  /** The nlist-row routing relation for a centroid array — broadcast
    * at search time to route each query to its nprobe nearest cells.
    * Routing must use the SAME metric cells were assigned with
    * (euclidean): centroids are means of unit vectors so their norms
    * differ, and raw dot(q,c) would rank cells differently from
    * argmin ||q-c||^2. For unit q, ||q-c||^2 = 1 - 2 dot(q,c) +
    * ||c||^2, so maximize dot(q,c) - ||c||^2 / 2. */
  private[graft] def centroidRelation(spark: org.apache.spark.sql.SparkSession,
                                      centroidArr: Array[Array[Double]]): DataFrame =
    spark.createDataFrame(
      centroidArr.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum) })
      .toDF("__cell", "__centroid", "__cn2")

  /** Derive the full index from a corpus and an ALREADY-FIT quantizer
    * — what [[ivfIndex]] runs after its fit, and the handle for
    * building an index over one distribution with another's centroids.
    * Cell assignment is the one genuinely data-sized step: a single
    * scan-local pass.
    * The cells relation is eagerly materialized (`localCheckpoint`) —
    * the in-session analog of persisting a `__cell` column with the
    * table — so searches never re-run the fit or the normalization
    * scan. */
  def ivfIndexFrom(corpus: DataFrame, id: String, vec: String,
                   centroidArr: Array[Array[Double]]): IvfIndexData = {
    val cells = cellColumns(corpus, id, vec, centroidArr).localCheckpoint(true)
    IvfIndexData(cells, centroidRelation(corpus.sparkSession, centroidArr), centroidArr)
  }

  /** Build an IVF index ONCE per corpus: [[fitQuantizer]] on a bounded
    * seeded sample, then [[ivfIndexFrom]]. */
  def ivfIndex(corpus: DataFrame, id: String, vec: String, nlist: Int = 16,
               sampleFraction: Double = 1.0, seed: Long = 42L,
               maxSamples: Int = 100000, iters: Int = 10): IvfIndexData =
    ivfIndexFrom(corpus, id, vec,
      fitQuantizer(corpus, vec, nlist, sampleFraction, seed, maxSamples, iters))

  /** Queries as (qid, __qv) with __qv normalized to unit length —
    * degenerate (zero/null) query vectors are dropped, not scored. */
  private def normalizedQueries(queries: DataFrame, id: String,
                                vec: String): DataFrame =
    queries.select(col(id), normalized(col(vec)).as("__na"))
      .filter(col("__na").isNotNull)
      .select(col(id).as("qid"), col("__na").cast("array<double>").as("__qv"))

  /** Route each (qid, __qv) query to its `nprobe` nearest cells via the
    * broadcast centroid relation → (qid, __qv, __cell). Uses the same
    * map-side-truncating aggregator as the rank step (cell asc
    * tiebreak); __qv is constant per qid so first() carries it through
    * without a second join. */
  private def probeCells(centroids: DataFrame, qn: DataFrame,
                         nprobe: Int): DataFrame = {
    val routed = qn.join(broadcast(centroids))
      .withColumn("__cscore", dot(col("__qv"), col("__centroid")) - col("__cn2") / 2.0)
    val topNprobe = graft.functions.TopKByValue.topK(nprobe)
    routed
      .groupBy(col("qid"))
      .agg(topNprobe(col("__cscore"), col("__cell").cast("long")).as("__pc"),
        first(col("__qv")).as("__qv"))
      .select(col("qid"), col("__qv"), explode(col("__pc")).as("__t"))
      .select(col("qid"), col("__qv"), col("__t._2").cast("integer").as("__cell"))
  }

  /** Search a prebuilt IVF index: route each query to its nprobe
    * nearest cells via the broadcast centroid relation, then score only
    * the vectors in those cells — an equi-join on cell id (partitioned,
    * skew-handled by AQE, no all-pairs anywhere). Pure search: no fit,
    * no corpus scan beyond the probed cells. */
  def ivfSearch(index: IvfIndexData, queries: DataFrame, id: String,
                vec: String, k: Int, nprobe: Int = 4): DataFrame = {
    val qn = normalizedQueries(queries, id, vec)
    val scored = probeCells(index.centroids, qn, nprobe).join(index.cells, Seq("__cell"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__cos", dot(col("__qv"), col("__cv")))
    topKPerGroup(scored, "qid", "__cos", "cid", k)
      .withColumnRenamed("cid", "vec_id")
  }

  // ------------------- product quantization (PQ) -------------------

  /** Driver-fit PQ codebooks (Jégou et al., TPAMI 2011): the
    * (normalized) d-dim space splits into `m` contiguous `dsub`-dim
    * subspaces, each with its own `ksub`-centroid codebook; a vector's
    * code is its nearest centroid index per subspace — m BYTES standing
    * in for d floats. `flat` is the concatenated codebook matrix,
    * indexed `((s * ksub + c) * dsub + j)`. */
  final case class PqCodebooks(m: Int, ksub: Int, dsub: Int,
                               flat: Array[Double]) {
    def dim: Int = m * dsub
  }

  /** Fit PQ codebooks DRIVER-SIDE on the same bounded seeded sample the
    * coarse quantizer uses — per subspace an independent [[lloydFit]]
    * (seed offset by subspace so codebooks differ). When the sample is
    * smaller than `ksub` the fitted centroid set is cycled to fill the
    * codebook: every code stays in [0, ksub) and encoding (strict
    * nearest-first) never selects a repeated tail entry, so tiny test
    * corpora degrade gracefully instead of throwing. */
  def pqFit(corpus: DataFrame, vec: String, m: Int = 8, ksub: Int = 64,
            sampleFraction: Double = 1.0, seed: Long = 42L,
            maxSamples: Int = 100000, iters: Int = 10): PqCodebooks =
    pqFitOnPoints(normalizedSample(corpus, vec, sampleFraction, seed, maxSamples),
      m, ksub, seed, iters)

  /** The driver-side codebook fit over already-collected points —
    * shared by the vector-space fit ([[pqFit]]) and the residual fit
    * ([[ivfPqIndex]], where the points are v − centroid(cell)). */
  private def pqFitOnPoints(sample: Array[Array[Double]], m: Int, ksub: Int,
                            seed: Long, iters: Int): PqCodebooks = {
    require(m >= 1, "m must be positive")
    require(ksub >= 1 && ksub <= 256, "ksub must fit one unsigned byte: [1, 256]")
    require(sample.nonEmpty, "cannot fit PQ codebooks on an empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide evenly into m=$m subspaces")
    val dsub = dim / m
    val flat = new Array[Double](m * ksub * dsub)
    var s = 0
    while (s < m) {
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      val cents = lloydFit(sub, ksub, iters, seed + s)
      var c = 0
      while (c < ksub) {
        System.arraycopy(cents(c % cents.length), 0, flat, (s * ksub + c) * dsub, dsub)
        c += 1
      }
      s += 1
    }
    PqCodebooks(m, ksub, dsub, flat)
  }

  /** Scan-local PQ encoder against the broadcast codebooks → m-byte
    * BinaryType code. Like [[cellAssigner]] this is a JVM function,
    * not a composed expression (a once-per-ingest pass, m*ksub dot
    * loops), and the broadcast is created once per encoder — reuse the
    * encoder across calls rather than rebuilding per batch. */
  private[graft] def pqEncoder(spark: org.apache.spark.sql.SparkSession,
                               cb: PqCodebooks): Column => Column = {
    val bc = spark.sparkContext.broadcast(cb)
    // unbox ONCE (optimization round 21): the encode loop indexes the
    // vector m*ksub*dsub times per row, and Seq.apply boxes per access
    val enc = udf((vs: Seq[Double]) => pqEncode(bc.value, vs.toArray))
    v => enc(v)
  }

  /** Squared distance from `v`'s subvector `s` to codeword `c` of
    * subspace `s` — one accumulation order for every PQ path. */
  private def codewordDist(cb: PqCodebooks, s: Int, c: Int, v: Array[Double]): Double = {
    val base = (s * cb.ksub + c) * cb.dsub
    var d = 0.0
    var j = 0
    while (j < cb.dsub) { val t = v(s * cb.dsub + j) - cb.flat(base + j); d += t * t; j += 1 }
    d
  }

  /** The codeword of subspace `s` nearest to `v`, the first minimum
    * winning — the one quantizer search behind encode ([[pqEncode]]),
    * residual encode ([[ivfPqIndex]]) and reconstruction
    * ([[pqReconstructInto]]), so fit-time and scan-time codes agree. */
  private def nearestCodeword(cb: PqCodebooks, s: Int, v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cb.ksub) {
      val d = codewordDist(cb, s, c, v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** `v`'s m-byte PQ code: its nearest codeword per subspace. */
  private def pqEncode(cb: PqCodebooks, v: Array[Double]): Array[Byte] =
    Array.tabulate(cb.m)(s => nearestCodeword(cb, s, v).toByte)

  /** The per-row PQ projection: (cid, __code, __cv) for every
    * non-degenerate vector ([[nonDegenerate]]), like [[cellColumns]].
    * __cv (the normalized vector) rides along for the exact rescore;
    * at production scale the code column is the compact one persisted
    * hot and the rescore joins back to the base table. */
  private[graft] def pqCodeColumns(df: DataFrame, id: String, vec: String,
                                   cb: PqCodebooks): DataFrame = {
    val enc = pqEncoder(df.sparkSession, cb)
    nonDegenerate(df, vec)
      .select(col(id).as("cid"), normalized(col(vec)).as("__cv"))
      .withColumn("__code", enc(col("__cv")))
      .select(col("cid"), col("__code"), col("__cv"))
  }

  /** A prebuilt PQ index: the m-byte-per-vector code relation (plus the
    * normalized vectors for rescoring) and the codebooks that encode /
    * score against it. Build once per corpus like [[IvfIndexData]]. */
  final case class PqIndexData(codes: DataFrame, cb: PqCodebooks)

  def pqIndex(corpus: DataFrame, id: String, vec: String, m: Int = 8,
              ksub: Int = 64, sampleFraction: Double = 1.0, seed: Long = 42L,
              maxSamples: Int = 100000, iters: Int = 10): PqIndexData = {
    val cb = pqFit(corpus, vec, m, ksub, sampleFraction, seed, maxSamples, iters)
    PqIndexData(pqCodeColumns(corpus, id, vec, cb).localCheckpoint(true), cb)
  }

  /** Per-query ADC lookup table: lut[s*ksub + c] = dot(q_s,
    * codebook_s[c]), flattened — computed once per QUERY (tiny), so the
    * per-corpus-row score is m array reads ([[graft.functions.PqAdcScore]]). */
  private def pqLutUdf(spark: org.apache.spark.sql.SparkSession,
                       cb: PqCodebooks): Column => Column = {
    val bc = spark.sparkContext.broadcast(cb)
    val mk = udf { (q: Seq[Double]) =>
      val b = bc.value
      val lut = new Array[Double](b.m * b.ksub)
      var s = 0
      while (s < b.m) {
        var c = 0
        while (c < b.ksub) {
          val base = (s * b.ksub + c) * b.dsub
          var d = 0.0
          var j = 0
          while (j < b.dsub) { d += q(s * b.dsub + j) * b.flat(base + j); j += 1 }
          lut(s * b.ksub + c) = d
          c += 1
        }
        s += 1
      }
      lut
    }
    q => mk(q)
  }

  /** Exact-cosine rescore of ADC candidates + final top-k: candidates
    * re-join the stored normalized vectors once per pair, so ranking
    * among admitted candidates is exact and PQ only tunes which
    * candidates are admitted (the same no-false-ranking contract as the
    * LSH tiers). */
  private def pqRescore(codes: DataFrame, qn: DataFrame, cands: DataFrame,
                        k: Int): DataFrame = {
    val scored = cands.select(col("qid"), col("cid"))
      .join(broadcast(qn.select(col("qid"), col("__qv"))), Seq("qid"))
      .join(codes.select(col("cid"), col("__cv")), Seq("cid"))
      .withColumn("__cos", dot(col("__qv"), col("__cv")))
    topKPerGroup(scored, "qid", "__cos", "cid", k)
      .withColumnRenamed("cid", "vec_id")
  }

  /** Compressed-domain ANN scan: score EVERY corpus code against each
    * query's ADC lookup table (m byte-reads + m adds per row — the
    * corpus bytes touched are m/(4·d) of a float scan, ~1/32 at the
    * defaults), keep the top `rescoreK` ADC candidates per query with
    * the map-side-truncating aggregator, then exact-rescore. Linear in
    * corpus size like [[cosineTopK]] but reading 8 bytes instead of
    * 256+ per vector — the memory-bandwidth-optimal exhaustive tier; at
    * 100 TB pair it with IVF routing ([[ivfPqSearchResidual]]) so the
    * scan touches only probed cells. */
  def pqTopK(index: PqIndexData, queries: DataFrame, id: String,
             vec: String, k: Int, rescoreK: Int = 0): DataFrame =
    adcTopK(index.codes, index.cb, queries, id, vec, k, rescoreK) { qn =>
      index.codes
        .join(broadcast(qn.select(col("qid"), col("__lut"))), col("cid") =!= col("qid"))
        .withColumn("__adc", graft.functions.VectorExprs.pqAdc(
          col("__code"), col("__lut"), index.cb.ksub))
    }

  /** The search body every ADC tier shares: the queries are normalized
    * ([[normalizedQueries]]) and given their lookup table, `score`
    * joins those (qid, __qv, __lut) rows to the codes it reads and
    * yields each candidate's `__adc` score as (qid, cid, __adc), the
    * top `rescoreK` (default 4k) per query survive, and
    * [[pqRescore]] ranks them exactly. */
  private def adcTopK(codes: DataFrame, cb: PqCodebooks, queries: DataFrame,
                      id: String, vec: String, k: Int, rescoreK: Int)(
                       score: DataFrame => DataFrame): DataFrame = {
    val rk = if (rescoreK > 0) rescoreK else 4 * k
    val lut = pqLutUdf(queries.sparkSession, cb)
    val qn = normalizedQueries(queries, id, vec)
      .withColumn("__lut", lut(col("__qv")))
    val cands = topKPerGroup(score(qn).select(col("qid"), col("cid"), col("__adc")),
      "qid", "__adc", "cid", rk)
    pqRescore(codes, qn, cands, k)
  }

  // ------------- optimized product quantization (OPQ) -------------

  /** OPQ pre-transform (Ge et al., CVPR 2013, "Optimized Product
    * Quantization", non-parametric alternating solution — the faiss
    * `OPQMatrix` design): an orthonormal d×d rotation learned so the
    * ROTATED space splits into subspaces PQ quantizes with less error.
    * PQ's per-subspace independence assumption is only as good as the
    * coordinate split; a rotation aligns the split with the data's
    * principal structure and balances variance across subspaces.
    * `rotation` is row-major (y_j = Σ_i x_i·R[i,j]); encode = rotate,
    * then PQ in the rotated space. Rotation preserves inner products,
    * so ADC scores in rotated space estimate the ORIGINAL-space dot —
    * search quality improves with no change to the search machinery. */
  final case class OpqModel(dim: Int, rotation: Array[Double], cb: PqCodebooks) {
    /** max |R·Rᵀ − I| over all entries — 0 for an exactly orthonormal
      * rotation; the SVD-factor product lands ~1e-15. */
    def orthonormalityError: Double = {
      val d = dim
      var worst = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          var s = 0.0
          var k = 0
          while (k < d) { s += rotation(i * d + k) * rotation(j * d + k); k += 1 }
          val e = math.abs(s - (if (i == j) 1.0 else 0.0))
          if (e > worst) worst = e
          j += 1
        }
        i += 1
      }
      worst
    }
  }

  /** y ← xᵀ·R (row-major R). With R = I this reproduces x bit-for-bit
    * (the identity row contributes the exact value, zero rows add
    * ±0.0), so the identity model is the EXACT plain-PQ baseline
    * through the same code path. */
  private def rotateInto(v: Array[Double], r: Array[Double], d: Int,
                         out: Array[Double]): Unit = {
    var j = 0
    while (j < d) {
      var s = 0.0
      var i = 0
      while (i < d) { s += v(i) * r(i * d + j); i += 1 }
      out(j) = s
      j += 1
    }
  }

  /** Nearest-codeword reconstruction of `y` into `out`; returns the
    * squared reconstruction error. The same [[nearestCodeword]] search
    * as [[pqEncode]], kept driver/executor-shared so fit-time and
    * scan-time errors agree exactly. */
  private def pqReconstructInto(y: Array[Double], b: PqCodebooks,
                                out: Array[Double]): Double = {
    var err = 0.0
    var s = 0
    while (s < b.m) {
      val best = nearestCodeword(b, s, y)
      System.arraycopy(b.flat, (s * b.ksub + best) * b.dsub, out, s * b.dsub, b.dsub)
      err += codewordDist(b, s, best, y)
      s += 1
    }
    err
  }

  /** Solve the orthogonal Procrustes problem min_R ‖X·R − Ŷ‖_F over
    * orthonormal R: R = U·Vᵀ for SVD(Xᵀ·Ŷ) = U·Σ·Vᵀ (Schönemann 1966;
    * the rotation-update step of Ge et al. §4.2). d×d SVD via breeze
    * on the driver — d is an embedding dim (64 here), microseconds. */
  private def procrustesRotation(xs: Array[Array[Double]],
                                 recon: Array[Array[Double]], d: Int): Array[Double] = {
    val mData = new Array[Double](d * d) // column-major for breeze
    var p = 0
    while (p < xs.length) {
      val x = xs(p)
      val yh = recon(p)
      var i = 0
      while (i < d) {
        val xi = x(i)
        var j = 0
        while (j < d) { mData(j * d + i) += xi * yh(j); j += 1 }
        i += 1
      }
      p += 1
    }
    val m = new breeze.linalg.DenseMatrix(d, d, mData)
    val f = breeze.linalg.svd(m)
    val r = f.U * f.Vt
    val out = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { out(i * d + j) = r(i, j); j += 1 }
      i += 1
    }
    out
  }

  /** The parametric OPQ initialization (Ge et al. §5, "eigenvalue
    * allocation"): eigendecompose the sample covariance and deal the
    * eigenvectors onto subspaces so each subspace's eigenvalue PRODUCT
    * is balanced (greedy min-log-sum bin packing, descending λ) —
    * under a Gaussian model this minimizes the quantization-error
    * bound. It is also exactly the init the alternating solution
    * needs: starting from R = I, Procrustes updates can only align
    * WITHIN the split it was given (reconstructions live in the data's
    * own subspaces), so an identity start is a stationary point on
    * variance-imbalanced data; the eigen allocation starts on the
    * other side of that barrier. */
  private def eigenAllocationRotation(sample: Array[Array[Double]], d: Int,
                                      m: Int): Array[Double] = {
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    locally { var i = 0; while (i < d) { mean(i) /= n; i += 1 } }
    val cov = new Array[Double](d * d) // column-major (symmetric, so moot)
    sample.foreach { v =>
      var i = 0
      while (i < d) {
        val ci = v(i) - mean(i)
        var j = 0
        while (j < d) { cov(j * d + i) += ci * (v(j) - mean(j)); j += 1 }
        i += 1
      }
    }
    locally { var i = 0; while (i < d * d) { cov(i) /= n; i += 1 } }
    val es = breeze.linalg.eigSym(new breeze.linalg.DenseMatrix(d, d, cov))
    // Snake-deal the eigenvectors across subspaces in descending-λ
    // order (round r assigns forward, round r+1 backward), NOT the
    // paper's min-product greedy: on unit-normalized vectors every
    // eigenvalue is < 1 (Σλ ≤ E‖x‖² = 1), so each assignment SHRINKS
    // the min-product bucket and the greedy stuffs the first dsub
    // eigendirections into one subspace — reproducing exactly the
    // variance imbalance the allocation exists to fix. The snake deal
    // is sign-robust and lands within a few percent of the balanced
    // optimum (it alternates large against small by construction).
    val order = (0 until d).sortBy(i => -es.eigenvalues(i))
    val dsub = d / m
    val buckets = Array.fill(m)(new scala.collection.mutable.ArrayBuffer[Int](dsub))
    for ((e, k) <- order.zipWithIndex) {
      val r = k / m
      val pos = k % m
      val b = if (r % 2 == 0) pos else m - 1 - pos
      buckets(b) += e
    }
    val rot = new Array[Double](d * d) // row-major; column j = allocated eigvec
    var j = 0
    for (b <- 0 until m; e <- buckets(b)) {
      var i = 0
      while (i < d) { rot(i * d + j) = es.eigenvectors(i, e); i += 1 }
      j += 1
    }
    rot
  }

  /** Fit an OPQ rotation + codebooks on the bounded seeded sample:
    * eigenvalue-allocation init ([[eigenAllocationRotation]]), then
    * alternating refinement (fit codebooks in the rotated space,
    * reconstruct, Procrustes-update the rotation). The identity
    * rotation is ALSO evaluated with the same seed as [[pqFit]] — its
    * codebooks ARE the plain-PQ codebooks — and the returned model is
    * the argmin over all evaluated (rotation, codebooks) pairs by
    * training MSE, so OPQ is NEVER WORSE than plain PQ on the fit
    * sample by construction, not by hope. (The argmin also sidesteps
    * the non-monotonicity of refitting k-means from a fresh seeding
    * each round.)
    *
    * Returns (optimized, plain-PQ baseline as an identity model) — the
    * identity evaluation happens inside the fit anyway (it anchors the
    * never-worse guarantee), so callers comparing optimized vs plain
    * ([[opqDistortion]] on each) get the baseline without paying a
    * second codebook fit. */
  def opqFitWithBaseline(corpus: DataFrame, vec: String, m: Int = 8, ksub: Int = 64,
                         sampleFraction: Double = 1.0, seed: Long = 42L,
                         maxSamples: Int = 100000, iters: Int = 10,
                         opqIters: Int = 6): (OpqModel, OpqModel) = {
    val sample = normalizedSample(corpus, vec, sampleFraction, seed, maxSamples)
    require(sample.nonEmpty, "cannot fit OPQ on an empty sample")
    val d = sample(0).length
    val n = sample.length

    // fit + evaluate one rotation; returns (mse, codebooks, reconstructions)
    def eval(rot: Array[Double]): (Double, PqCodebooks, Array[Array[Double]]) = {
      val ys = new Array[Array[Double]](n)
      var i = 0
      while (i < n) {
        val o = new Array[Double](d)
        rotateInto(sample(i), rot, d, o)
        ys(i) = o
        i += 1
      }
      val cb = pqFitOnPoints(ys, m, ksub, seed, iters)
      val recon = new Array[Array[Double]](n)
      var sse = 0.0
      i = 0
      while (i < n) {
        val o = new Array[Double](d)
        sse += pqReconstructInto(ys(i), cb, o)
        recon(i) = o
        i += 1
      }
      (sse / n, cb, recon)
    }

    val idRot = Array.tabulate(d * d)(ix => if (ix / d == ix % d) 1.0 else 0.0)
    val (mseId, cbId, _) = eval(idRot)
    var bestMse = mseId
    var bestRot = idRot
    var bestCb = cbId
    var rot = eigenAllocationRotation(sample, d, m)
    var it = 0
    while (it < opqIters) {
      val (mse, cb, recon) = eval(rot)
      if (mse < bestMse) { bestMse = mse; bestRot = rot; bestCb = cb }
      if (it < opqIters - 1) rot = procrustesRotation(sample, recon, d)
      it += 1
    }
    (OpqModel(d, bestRot, bestCb), OpqModel(d, idRot, cbId))
  }

  /** The bare rotation as a scan-local UDF over an ALREADY-normalized
    * double array (one model broadcast per call — build once, reuse
    * per batch, the [[pqEncoder]] discipline). */
  private[graft] def opqRotateRaw(spark: org.apache.spark.sql.SparkSession,
                                  model: OpqModel): Column => Column = {
    val bc = spark.sparkContext.broadcast(model)
    val u = udf { (v: Seq[Double]) =>
      val mdl = bc.value
      val y = new Array[Double](mdl.dim)
      rotateInto(v.toArray, mdl.rotation, mdl.dim, y)
      y
    }
    c => u(c)
  }

  /** Scan-local normalize-then-rotate against the broadcast model —
    * the shared front door of the OPQ index build and query side, so
    * corpus and queries land in the SAME rotated frame. Unit norm is
    * preserved by the rotation, and so are inner products: cosines
    * computed in the rotated frame ARE the original-space cosines. */
  private def opqRotator(spark: org.apache.spark.sql.SparkSession,
                         model: OpqModel): Column => Column = {
    val raw = opqRotateRaw(spark, model)
    c => raw(normalized(c))
  }

  /** OPQ code for an ALREADY-normalized vector column: rotate, then
    * the exact [[pqCodeColumns]] encode path (its re-normalization
    * included), so a streaming maintainer computing codes off its
    * normalized `__cv` column lands BIT-IDENTICAL to a batch
    * [[opqIndex]] build over the same rows. */
  private[graft] def opqCodeColumn(spark: org.apache.spark.sql.SparkSession,
                                   model: OpqModel): Column => Column = {
    val raw = opqRotateRaw(spark, model)
    val enc = pqEncoder(spark, model.cb)
    c => enc(normalized(raw(c)))
  }

  /** Build a PQ code relation in the OPQ-rotated space: same shape as
    * [[pqIndex]] (so every downstream PQ path applies unchanged), but
    * codes quantize R·v against the codebooks that were FIT in that
    * rotated space — the whole point of the rotation. At production
    * scale the rotated code column is written with the table at ingest
    * next to the model's codebooks. */
  def opqIndex(corpus: DataFrame, id: String, vec: String,
               model: OpqModel): PqIndexData = {
    val rot = opqRotator(corpus.sparkSession, model)
    val rotated = nonDegenerate(corpus, vec).select(col(id), rot(col(vec)).as("__rvec"))
    PqIndexData(pqCodeColumns(rotated, id, "__rvec", model.cb)
      .localCheckpoint(true), model.cb)
  }

  /** ANN top-k through the OPQ rotation: rotate the queries with the
    * index's model and run the standard compressed-domain ADC scan +
    * exact rescore ([[pqTopK]]) in the rotated frame. Because rotation
    * preserves inner products, the exact rescore ranks by TRUE
    * original-space cosine — OPQ only improves which candidates the
    * ADC net admits (the same contract as every other ANN tier). */
  def opqTopK(index: PqIndexData, model: OpqModel, queries: DataFrame,
              id: String, vec: String, k: Int, rescoreK: Int = 0): DataFrame = {
    val rot = opqRotator(queries.sparkSession, model)
    val rq = nonDegenerate(queries, vec).select(col(id), rot(col(vec)).as(vec))
    pqTopK(index, rq, id, vec, k, rescoreK)
  }

  /** Mean squared PQ reconstruction error of the (normalized) corpus
    * under `model` — rotate, encode, reconstruct, ‖y − ŷ‖², one
    * scan-local pass against the broadcast model; None for an
    * empty/degenerate corpus. The fit-quality judge: the two models of [[opqFitWithBaseline]] on the same corpus
    * measure exactly what the rotation bought. */
  def opqDistortion(corpus: DataFrame, vec: String, model: OpqModel): Option[Double] = {
    val bc = corpus.sparkSession.sparkContext.broadcast(model)
    val errU = udf { (v: Seq[Double]) =>
      val mdl = bc.value
      val y = new Array[Double](mdl.dim)
      rotateInto(v.toArray, mdl.rotation, mdl.dim, y)
      pqReconstructInto(y, mdl.cb, new Array[Double](mdl.dim))
    }
    // the eager take(1) is the broadcast's last reader
    try nonDegenerate(corpus, vec)
      .select(errU(normalized(col(vec))).as("__e"))
      .agg(avg(col("__e")).as("__mse"))
      .take(1).headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    finally bc.destroy()
  }

  // ------------- residual-encoded IVF-PQ (faiss IVFPQ) -------------

  /** An IVF-PQ index with RESIDUAL encoding: `codes` carries
    * (cid, __cell, __code, __cv) where __code product-quantizes
    * r = v_norm − centroid(cell), not the vector itself. Residuals are
    * what's left after the coarse quantizer explains the cluster
    * structure, so they are smaller and more isotropic than raw
    * vectors — the same codebook budget buys a finer quantization
    * (Jégou et al., TPAMI 2011, §IV). */
  final case class IvfPqIndexData(codes: DataFrame, cb: PqCodebooks,
                                  centroids: DataFrame,
                                  centroidArr: Array[Array[Double]])

  /** Nearest centroid of a point by squared euclidean distance, the
    * first minimum winning — shared by the driver-side sample fits and
    * the distributed [[cellAssigner]], so their cells agree. */
  private def nearestCentroid(p: Array[Double],
                              cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val ce = cs(c)
      var d = 0.0
      var j = 0
      while (j < ce.length) { val t = p(j) - ce(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The cell of `p`'s nearest centroid and `p`'s residual from it —
    * the one subtraction of the driver-side codebook fit and the
    * distributed encoder, so both quantize the same residuals. */
  private def residual(p: Array[Double],
                       cs: Array[Array[Double]]): (Int, Array[Double]) = {
    val cell = nearestCentroid(p, cs)
    val ce = cs(cell)
    (cell, Array.tabulate(p.length)(j => p(j) - ce(j)))
  }

  /** Build the residual IVF-PQ index: coarse quantizer fit, residual
    * codebook fit (both on the same bounded driver sample), then ONE
    * scan-local pass computing (cell, residual code) per vector —
    * assignment, subtraction, and encoding fused in a single udf
    * against the broadcast centroids + codebooks. */
  def ivfPqIndex(corpus: DataFrame, id: String, vec: String,
                 nlist: Int = 16, m: Int = 8, ksub: Int = 64,
                 sampleFraction: Double = 1.0, seed: Long = 42L,
                 maxSamples: Int = 100000, iters: Int = 10): IvfPqIndexData = {
    val sample = normalizedSample(corpus, vec, sampleFraction, seed, maxSamples)
    val centroidArr = lloydFit(sample, nlist, iters, seed)
    val cb = pqFitOnPoints(sample.map(residual(_, centroidArr)._2), m, ksub, seed, iters)
    val spark = corpus.sparkSession
    val bcC = spark.sparkContext.broadcast(centroidArr)
    val bcB = spark.sparkContext.broadcast(cb)
    val assignEncode = udf { (v: Seq[Double]) =>
      val (cell, r) = residual(v.toArray, bcC.value)
      (cell, pqEncode(bcB.value, r))
    }
    val codes = nonDegenerate(corpus, vec)
      .select(col(id).as("cid"), normalized(col(vec)).as("__cv"))
      .withColumn("__a", assignEncode(col("__cv")))
      .select(col("cid"), col("__a._1").as("__cell"), col("__a._2").as("__code"),
        col("__cv"))
      .localCheckpoint(true)
    IvfPqIndexData(codes, cb, centroidRelation(spark, centroidArr), centroidArr)
  }

  /** Exhaustive compressed-domain scan over the RESIDUAL code column —
    * [[pqTopK]]'s full-corpus tier reading the same codes the routed
    * [[ivfPqSearchResidual]] probes, so ONE stored code column serves
    * both search modes. The inner-product decomposition makes the full
    * scan cheap despite residual encoding: score = dot(q, centroid of
    * the row's cell) + residual ADC, where the per-(query, cell)
    * centroid dots are a (queries × nlist) broadcast-sized relation
    * computed once — per corpus row it is still m byte-reads + m adds
    * + one scalar add. Exact rescore as everywhere in the family. */
  def pqTopKResidual(idx: IvfPqIndexData, queries: DataFrame, id: String,
                     vec: String, k: Int, rescoreK: Int = 0): DataFrame =
    adcTopK(idx.codes, idx.cb, queries, id, vec, k, rescoreK) { qn =>
      val qc = qn.select(col("qid"), col("__qv"))
        .crossJoin(broadcast(idx.centroids))
        .withColumn("__qc", dot(col("__qv"), col("__centroid")))
        .select(col("qid"), col("__cell"), col("__qc"))
      idx.codes.select(col("cid"), col("__cell"), col("__code"))
        .join(broadcast(qc), Seq("__cell"))
        .join(broadcast(qn.select(col("qid"), col("__lut"))), Seq("qid"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("__adc", col("__qc") + graft.functions.VectorExprs.pqAdc(
          col("__code"), col("__lut"), idx.cb.ksub))
    }

  /** Search the residual index — IVF routing + PQ compressed-domain
    * scoring + exact rescore, the full 100 TB composition: the coarse
    * quantizer prunes the corpus to nprobe cells, ADC scores only
    * those cells' m-byte codes, and the top rescoreK candidates per
    * query are exactly rescored. For the inner-product metric the ADC
    * decomposes: dot(q, centroid + recon(r)) = dot(q, centroid) +
    * dot(q, recon(r)) — so ONE query LUT (against the residual
    * codebooks) serves every probed cell, plus a per-(query, cell)
    * scalar dot(q, centroid) that rides out of the routing relation.
    * No per-cell lookup tables. */
  def ivfPqSearchResidual(idx: IvfPqIndexData, queries: DataFrame,
                          id: String, vec: String, k: Int, nprobe: Int = 4,
                          rescoreK: Int = 0): DataFrame =
    adcTopK(idx.codes, idx.cb, queries, id, vec, k, rescoreK) { qn =>
      probeCells(idx.centroids, qn.select(col("qid"), col("__qv")), nprobe)
        .join(broadcast(idx.centroids), Seq("__cell"))
        .withColumn("__qc", dot(col("__qv"), col("__centroid")))
        .select(col("qid"), col("__cell"), col("__qc"))
        .join(broadcast(qn.select(col("qid"), col("__lut"))), Seq("qid"))
        .join(idx.codes.select(col("cid"), col("__cell"), col("__code")), Seq("__cell"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("__adc", col("__qc") + graft.functions.VectorExprs.pqAdc(
          col("__code"), col("__lut"), idx.cb.ksub))
    }
}
