package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Vectors

/** Streaming maintenance of ANN index columns (SURVEY.md §9): as an
  * embedding corpus streams in, every micro-batch gets its banded SRP
  * signature and IVF cell computed with the SAME frozen parameters
  * (hyperplane seed, coarse-quantizer centroids) the batch index uses,
  * and appended to the index store — so near-dup / ANN state stays
  * queryable mid-stream and the final store is provably identical to a
  * one-shot batch build over the same rows (StreamingSpec pins this).
  *
  * Scale posture: the maintenance path is pure per-row projection
  * against broadcast constants — no shuffle, no state store, no fit
  * step per batch — so ingest throughput scales with source
  * parallelism, and the store append is the same partitioned write the
  * table itself uses at production (the `__cell`/`__sig` columns
  * written WITH the table).
  *
  * Every parameter stays frozen for the store's whole life, the IVF
  * quantizer included: a shifted distribution can cost IVF recall at
  * low nprobe, never correctness of the stored columns. A corpus that
  * has outgrown its quantizer gets a new store from a fresh bootstrap
  * ([[Vectors.fitQuantizer]] on a current sample; VectorsSpec shows a
  * fresh fit beating a stale one on a shifted corpus).
  */
object VectorIngest {

  /** The frozen index parameters a maintenance loop needs: SRP
    * geometry (dim/bits/bands/seed), the fitted coarse quantizer, and
    * optionally the PQ codebooks (compressed-domain codes maintained
    * with the same freeze discipline — codebooks never change
    * mid-stream, exactly like the hyperplanes and the quantizer).
    * Freezing these at bootstrap is what makes per-batch columns
    * bit-identical to a batch build. */
  final case class IndexBootstrap(dim: Int, centroids: Array[Array[Double]],
                                  bits: Int = 12, bands: Int = 8,
                                  seed: Long = 42L,
                                  pq: Option[Vectors.PqCodebooks] = None,
                                  opq: Option[Vectors.OpqModel] = None)

  /** Bootstrap from a batch-built index (the ingest-time fit). */
  def bootstrapFrom(index: Vectors.IvfIndexData, dim: Int,
                    bits: Int = 12, bands: Int = 8,
                    seed: Long = 42L): IndexBootstrap =
    IndexBootstrap(dim, index.centroidArr, bits, bands, seed)

  /** The per-batch index-column projection, identical for static and
    * streaming frames: (cid, __sig, __cell, __cv[, __code][, __ocode]).
    * `__sig` is the banded SRP signature array (near-dup bucketing),
    * `__cell` the IVF routing cell, `__cv` the normalized vector the
    * searcher scores against, `__code` the m-byte PQ code when the
    * bootstrap carries codebooks, `__ocode` the OPQ code when it
    * carries an OPQ model. */
  def indexColumns(df: DataFrame, id: String, vec: String,
                   b: IndexBootstrap): DataFrame =
    indexColumns(df, id, vec, b,
      Vectors.cellAssigner(df.sparkSession, b.centroids),
      b.pq.map(cb => Vectors.pqEncoder(df.sparkSession, cb)),
      b.opq.map(m => Vectors.opqCodeColumn(df.sparkSession, m)))

  /** The assigner/encoder-supplied form: [[maintainIndex]] builds both
    * (and their broadcasts) ONCE at stream start and reuses them every
    * micro-batch — re-deriving per batch would leak one broadcast per
    * batch on a long-lived ProcessingTime stream. */
  private def indexColumns(df: DataFrame, id: String, vec: String,
                           b: IndexBootstrap, assign: Column => Column,
                           encode: Option[Column => Column],
                           oEncode: Option[Column => Column]): DataFrame = {
    // ONE projection — signature, normalization, assignment, and PQ
    // encoding all scan-local; a join-shaped formulation would put a
    // shuffle in every micro-batch for nothing
    val base = Vectors.nonDegenerate(df, vec)
      .select(col(id).as("cid"),
        Vectors.srpSignatureCol(col(vec), b.dim, b.bits, b.bands, b.seed)
          .as("__sig"),
        Vectors.normalized(col(vec)).as("__na"))
      .withColumn("__a", assign(col("__na")))
    val cols = Seq(col("cid"), col("__sig"), col("__a").as("__cell"),
      col("__na").as("__cv")) ++
      encode.map(enc => enc(col("__na")).as("__code")) ++
      oEncode.map(enc => enc(col("__na")).as("__ocode"))
    base.select(cols: _*)
  }

  /** The SRP signature geometry pinned beside the store
    * ([[BatchStore.pinFields]]): band keys are only comparable between
    * relations signed with the SAME (dim, bits, bands, seed). */
  private def srpParamsFile(storeDir: String): String =
    s"$storeDir/_srp_params/params.txt"

  private def saveSrpParams(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, b: IndexBootstrap): Unit =
    BatchStore.pinFields(spark, srpParamsFile(storeDir),
      "dim" -> b.dim, "bits" -> b.bits, "bands" -> b.bands, "seed" -> b.seed)

  private def loadSrpParams(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String): Option[(Int, Int, Int, Long)] =
    BatchStore.readFields(spark, srpParamsFile(storeDir), "dim", "bits", "bands", "seed")
      .map(v => (v(0).toInt, v(1).toInt, v(2).toInt, v(3).toLong))

  /** Fold every batch partition strictly below `upToBatch` (including
    * a previous compacted partition) into the single reserved
    * `__batch=-1` partition ([[BatchStore.fold]]) — the maintenance
    * that keeps a long-lived [[maintainIndex]] store from accumulating
    * one small parquet partition per micro-batch. The fold keeps the
    * NEWEST version of each cid (max `__batch`): a cid re-ingested
    * with an updated vector survives compaction as its latest copy,
    * not whichever row a partition scan sees first — which also makes
    * the fold idempotent over the compaction crash window. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                   upToBatch: Long): Unit =
    BatchStore.fold(spark, storeDir, upToBatch) { read =>
      newest(read, read.columns.toSeq.filter(c => c != "__batch" && c != "cid"))
    }

  /** Run the maintenance loop over a streaming frame: write index
    * columns for every arriving micro-batch to the parquet store, with
    * the bootstrap's frozen parameters. Returns the started query;
    * callers await it. AvailableNow by default so a bounded source
    * drains and stops — pass ProcessingTime for a long-lived feed.
    *
    * Exactly-once store contents: each batch lands in its own
    * `__batch=<id>` partition via DYNAMIC partition overwrite, so a
    * micro-batch replayed after a failure REPLACES its own partition
    * instead of appending duplicate cid rows (a blind append would give
    * at-least-once store semantics — duplicate top-k ids out of
    * ivfSearch, duplicate pairs out of srpNearDupsOnSigs). With that,
    * the final store really is row-identical to a one-shot batch build
    * on failure-free AND replayed runs (StreamingSpec pins both).
    *
    * `compactEvery` > 0 bounds the store's partition count: whenever
    * the store reaches that many batch partitions, committed ones fold
    * into the reserved compacted partition ([[compactStore]]). */
  def maintainIndex(stream: DataFrame, id: String, vec: String,
                    b: IndexBootstrap, storeDir: String,
                    trigger: Trigger = Trigger.AvailableNow(),
                    compactEvery: Int = 0): StreamingQuery = {
    val spark = stream.sparkSession
    // pin the SRP geometry beside the store before any batch lands, so
    // every later probe signs with the store's parameters, not its own
    saveSrpParams(spark, storeDir, b)
    // the quantizer, PQ codebooks and OPQ rotation are frozen like the
    // hyperplanes: one assigner/encoder (= one broadcast each) for the
    // stream's whole life
    val assign = Vectors.cellAssigner(spark, b.centroids)
    val encode = b.pq.map(cb => Vectors.pqEncoder(spark, cb))
    val oEncode = b.opq.map(m => Vectors.opqCodeColumn(spark, m))
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      BatchStore.overwritePartitions(
        indexColumns(batch, id, vec, b, assign, encode, oEncode)
          .withColumn("__batch", lit(batchId)), storeDir)
      if (BatchStore.compactDue(spark, storeDir, compactEvery))
        compactStore(spark, storeDir, upToBatch = batchId)
    }
  }

  /** One-way embedding probe served OFF THE STORE — the last cell of
    * the probe × modality matrix: new vectors collide against the
    * store's persisted `__sig` band signatures and rescore against its
    * stored normalized vectors, so the corpus is NEVER re-signed and
    * never rescanned beyond the (cid, __sig, __cv) columns — exactly
    * how the text and media stores serve ([[DedupIngest
    * .jaccardProbeFromStore]], [[MediaIngest]]). Probes are signed with
    * the geometry from the store's `_srp_params` sidecar (falling back
    * to the caller's bootstrap for stores written before the sidecar
    * existed) — signing with anything else would be the silent
    * recall-0 join the sidecar exists to prevent. The per-cid
    * newest-version fold (max `__batch`, [[compactStore]]'s own
    * semantics) is doing double duty: it is the compaction-crash-window
    * guard every store reader carries, AND it makes a cid re-ingested
    * with an updated vector probe against its LATEST version while both
    * versions still sit in their batch partitions — an arbitrary-row
    * dropDuplicates could silently match a stale embedding there.
    * Probe ids must be disjoint from stored cids.
    * Output (probe_id, dup_id, cos_sim). */
  def srpProbeFromStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                        probes: DataFrame, id: String, vec: String,
                        b: IndexBootstrap, simThreshold: Double): DataFrame = {
    val (dim, bits, bands, seed) =
      loadSrpParams(spark, storeDir).getOrElse((b.dim, b.bits, b.bands, b.seed))
    // two NARROW newest-version folds, one per consumer: the band join
    // shuffles (cid, __sig) only, the rescore (cid, __cv) only —
    // Catalyst cannot prune struct fields through the fold's aggregate,
    // so a combined fold would drag every corpus vector through the
    // band join's shuffle unused
    val corpusSigs = newestRows(spark, storeDir, Seq("__sig"))
    val corpusVecs = newestRows(spark, storeDir, Seq("__cv"))
    // normalized like the store's __cv — same element type (double)
    // for the rescore's dot, same cosine pairs (scale-invariance)
    val signed = Vectors.nonDegenerate(probes, vec)
      .select(col(id).as("cid"),
        Vectors.srpSignatureCol(col(vec), dim, bits, bands, seed).as("__sig"),
        Vectors.normalized(col(vec)).as("__cv"))
    Vectors.srpProbeOnSigs(corpusSigs, corpusVecs, signed, "cid", "__sig", "__cv",
      simThreshold)
  }

  /** `cols` of the newest row per cid (max `__batch`) — the one version
    * fold behind [[compactStore]]'s write-side keep-the-newest rule and
    * [[newestRows]]' read side. One cid-keyed shuffle over only `cols`. */
  private def newest(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(col("cid"))
      .agg(max_by(struct(cols.map(col): _*), col("__batch")).as("__r"))
      .select(col("cid") +: cols.map(c => col(s"__r.$c").as(c)): _*)

  /** One newest row per cid — the read-side version fold EVERY store
    * consumer applies (probe and all three index servers): among a
    * cid's rows, the max-`__batch` one wins ([[newest]], exactly
    * [[compactStore]]'s keep-the-newest rule applied at read time). This
    * is simultaneously (a) the compaction-crash-window guard (a stale
    * partition beside its relocated copy folds back to one row —
    * [[BatchStore.CompactedBatchId]] sorts below every real batch, so the
    * relocated copy wins) and (b) what makes a cid re-ingested with an
    * updated vector SERVE as its latest version while both versions
    * still sit in their batch partitions: an arbitrary-row dedup could
    * return duplicate top-k rows or rank by a stale embedding. */
  private def newestRows(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String, cols: Seq[String]): DataFrame =
    newest(spark.read.parquet(storeDir), cols)

  /** Read the stream-maintained store back as a searchable IVF index
    * (same shape [[Vectors.ivfSearch]] takes from a batch build),
    * routing with the bootstrap's frozen centroids — the ones every
    * stored cell was assigned under. Serves one newest row per cid
    * ([[newestRows]]). */
  def indexFromStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                     b: IndexBootstrap): Vectors.IvfIndexData = {
    val cells = newestRows(spark, storeDir, Seq("__cell", "__cv"))
    Vectors.IvfIndexData(cells,
      Vectors.centroidRelation(spark, b.centroids), b.centroids)
  }

  /** Read the stream-maintained store back as a PQ index (the shape
    * [[Vectors.pqTopK]] searches) — requires a bootstrap that carried
    * codebooks, so the store has the `__code` column. Serves one
    * newest row per cid ([[newestRows]]). */
  def pqIndexFromStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                       b: IndexBootstrap): Vectors.PqIndexData = {
    val cb = b.pq.getOrElse(throw new IllegalArgumentException(
      "pqIndexFromStore needs an IndexBootstrap with PQ codebooks"))
    Vectors.PqIndexData(newestRows(spark, storeDir, Seq("__code", "__cv")), cb)
  }

  /** Read the stream-maintained store back as an OPQ index (the shape
    * [[Vectors.opqTopK]] searches): the stream-maintained `__ocode`
    * column plus the stored normalized vectors re-expressed in the
    * model's rotated frame — the exact expression the batch
    * [[Vectors.opqIndex]] stores, so serving is path-independent.
    * Rotating at read time keeps the store single-frame (one `__cv`
    * serves the flat, PQ, and OPQ consumers); the rotation is one
    * scan-local pass amortized over a serving session. */
  def opqIndexFromStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                        b: IndexBootstrap): Vectors.PqIndexData = {
    val m = b.opq.getOrElse(throw new IllegalArgumentException(
      "opqIndexFromStore needs an IndexBootstrap with an OPQ model"))
    val rot = Vectors.opqRotateRaw(spark, m)
    Vectors.PqIndexData(
      newestRows(spark, storeDir, Seq("__ocode", "__cv"))
        .select(col("cid"), col("__ocode").as("__code"),
          Vectors.normalized(rot(col("__cv"))).as("__cv")), m.cb)
  }
}
