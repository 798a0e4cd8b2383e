package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Bands, Dedup}

/** Streaming NEAR-DUP maintenance — the dedup analog of
  * [[TextIngest]]'s inverted index: as documents stream in, every
  * micro-batch computes its docs' engine-portable minhash BAND
  * SIGNATURES (the exact [[Dedup.portableBandSignatures]] pipeline the
  * batch op runs — md5-derived, seed-free, so per-batch results are
  * bit-identical to a one-shot batch build) and appends them to a
  * `__batch`-partitioned signature store, alongside the docs' shingle
  * arrays for the exact rescore. Serving near-dup pairs is then a
  * band-collision self-join over the store plus the shared exact
  * rescore — the corpus text is never rescanned, and the served
  * relation is row-for-row the batch `dedup_minhash` key, so the batch
  * key's cross-engine oracle applies VERBATIM.
  *
  * Scale posture: the per-batch work is one scan + one doc-keyed
  * aggregate over the batch's own shingles (a doc's signature depends
  * only on its own shingle set — no cross-batch state, no streaming
  * state store), and the store append is the same partitioned write
  * the text tiers use. Exactly-once on retry: dynamic partition
  * overwrite, a replayed batch id overwrites its own partition.
  */
object DedupIngest {

  /** Per-batch signature + shingle materialization for one
    * micro-batch: docs with empty shingle sets drop (they cannot
    * near-dup), mirroring the batch featurization. */
  private[streaming] def shingled(batch: DataFrame, id: String,
                                  text: String): DataFrame =
    batch.select(col(id).as("doc_id"), Dedup.shingles(col(text)).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** Maintain the minhash store from a document stream: each
    * micro-batch writes its signatures to `$storeDir/sigs` and its
    * shingle arrays to `$storeDir/docs`, both `__batch`-partitioned.
    * A document lands wholly in its own batch; a doc_id RE-ingested
    * in a later batch is an update with compaction-bounded
    * visibility — the fold keeps only its newest batch's rows
    * ([[BatchStore.newestPerDoc]]). `compactEvery` > 0 bounds
    * the partition count as in the text tiers. */
  def maintainMinhash(stream: DataFrame, id: String, text: String,
                      storeDir: String,
                      numHashes: Int = 12, bands: Int = 4,
                      trigger: Trigger = Trigger.AvailableNow(),
                      onBatch: Long => Unit = _ => (),
                      compactEvery: Int = 0): StreamingQuery = {
    saveSigParams(stream.sparkSession, storeDir, numHashes, bands)
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      val spark = stream.sparkSession
      val sh = shingled(batch, id, text).persist()
      try {
        BatchStore.overwritePartitions(
          Dedup.portableBandSignatures(sh, "doc_id", "__sh", numHashes, bands)
            .withColumn("__batch", lit(batchId)), s"$storeDir/sigs")
        BatchStore.overwritePartitions(sh.withColumn("__batch", lit(batchId)), s"$storeDir/docs")
        if (BatchStore.compactDue(spark, s"$storeDir/sigs", compactEvery))
          compactMinhash(spark, storeDir, upToBatch = batchId)
        onBatch(batchId)
      } finally { sh.unpersist(); () }
    }
  }

  /** The signature parameters pinned beside the store
    * ([[BatchStore.pinFields]]): band keys are only comparable between
    * relations built with the SAME (numHashes, bands), so a reader
    * probing with different parameters would get a silent recall-0
    * join, not an error. */
  private def sigParamsFile(storeDir: String): String =
    s"$storeDir/_sig_params/params.txt"

  private def saveSigParams(spark: SparkSession, storeDir: String,
                            numHashes: Int, bands: Int): Unit =
    BatchStore.pinFields(spark, sigParamsFile(storeDir),
      "numHashes" -> numHashes, "bands" -> bands)

  /** Fold committed sigs/docs batch partitions into `__batch=-1`,
    * newest batch per doc ([[BatchStore.newestPerDoc]]): a doc_id
    * re-ingested with changed text resolves to its newest
    * signatures/shingles at the fold (compaction-bounded update
    * visibility — between re-ingest and fold a probe can transiently
    * match the stale version too). */
  def compactMinhash(spark: SparkSession, storeDir: String, upToBatch: Long): Unit = {
    BatchStore.fold(spark, s"$storeDir/sigs", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "__band", "__key"))
    BatchStore.fold(spark, s"$storeDir/docs", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "__sh"))
  }

  /** Maintain the EXACT-probe store from a document stream (round 11)
    * — the deterministic-complete sibling of [[maintainMinhash]]: each
    * micro-batch writes its docs' shingle arrays PLUS their canonically
    * ordered 64-bit hash arrays (`__n`, `__ha` — everything
    * [[Dedup.probePairsOnOrdered]] needs) to `$storeDir/docs`. The
    * ordering authority is a DOCUMENT-FREQUENCY relation FROZEN at
    * bootstrap from the first batch and persisted to
    * `$storeDir/dford` for the store's whole life — the
    * [[VectorIngest]] frozen-hyperplane discipline: later batches order
    * their shingles against it batch-locally (one keyed join, no
    * cross-batch aggregate, no state store). Freezing is
    * CORRECTNESS-FREE: prefix completeness holds under any shared total
    * order, so df drift (an unrepresentative bootstrap batch) only ever
    * costs candidate volume, never recall. Serving probes needs no
    * threshold pinned at ingest: the store holds FULL ordered arrays
    * and the serve derives its prefix slices scan-locally, so one store
    * answers probes at any threshold. */
  def maintainJaccardStore(stream: DataFrame, id: String, text: String,
                           storeDir: String,
                           trigger: Trigger = Trigger.AvailableNow(),
                           onBatch: Long => Unit = _ => (),
                           compactEvery: Int = 0): StreamingQuery =
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      val spark = stream.sparkSession
      val sh = shingled(batch, id, text).persist()
      try {
        val ex = Dedup.hashedShingles(sh, "doc_id", "__sh")
        val dfordDir = s"$storeDir/dford"
        val dfordFs = BatchStore.fs(spark, dfordDir)
        val marker = new org.apache.hadoop.fs.Path(s"$dfordDir/_SUCCESS")
        // bootstrap: freeze the ordering authority from the first
        // NON-EMPTY batch (first writer wins — the _SUCCESS marker is the
        // atomic commit, a replayed batch 0 overwrites identically; an
        // empty first batch defers the freeze rather than pinning a
        // vocab-0 authority that would cost candidate volume for the
        // store's whole life — round 15).
        if (!dfordFs.exists(marker)) {
          // a LOST authority must never silently re-freeze (round
          // 15): the stored docs rows were ordered under the vanished
          // authority, and a new one would not share its total order —
          // prefix completeness would break silently. The sidecar is
          // the witness: meta without a committed dford means the
          // authority vanished (external cleanup, or a deployment
          // writing no _SUCCESS markers —
          // mapreduce.fileoutputcommitter.marksuccessfuljobs=false is
          // unsupported for this store).
          require(readOrderMeta(spark, storeDir).isEmpty,
            s"jaccard store $storeDir: _order_meta records a frozen ordering " +
              "authority but dford carries no _SUCCESS commit — the authority " +
              "was lost after docs rows were ordered under it. Refusing to " +
              "silently re-freeze a NEW order (stored prefix arrays would no " +
              "longer share a total order with new ones); restore dford or " +
              "rebuild the store from its source")
          if (!ex.isEmpty)
            ex.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
              .write.mode("overwrite").parquet(dfordDir)
        }
        // no authority yet (empty batches so far): nothing to order or
        // store — the freeze waits for the first real batch
        if (dfordFs.exists(marker)) {
          // order-meta sidecar: the vocabulary size the broadcast gate
          // sizes against (one count, once per store lifetime), written
          // right after the bootstrap commit — and HEALED by the next
          // batch when a crash fell between the two (round 15): without
          // the heal the store is sidecar-less forever — every
          // batch/probe pays the un-hinted vocabulary shuffle, and
          // worse, a later LOST dford would pass the re-freeze guard
          // above (meta absent too) and silently re-freeze a new order.
          if (readOrderMeta(spark, storeDir).isEmpty)
            writeOrderMeta(spark, storeDir, spark.read.parquet(dfordDir).count())
          val dford = spark.read.parquet(dfordDir)
          // the order join is per-batch: against a small vocabulary
          // (sidecar-proven) the authority broadcasts and the batch
          // skips the vocabulary shuffle entirely
          BatchStore.overwritePartitions(
            Dedup.orderedByDf(ex, dfreqFor(spark, storeDir, dford), "doc_id")
              .join(sh, "doc_id")
              .select(col("doc_id"), col("__sh"), col("__n"), col("__ha"))
              .withColumn("__batch", lit(batchId)), s"$storeDir/docs")
          if (BatchStore.compactDue(spark, s"$storeDir/docs", compactEvery))
            compactJaccardStore(spark, storeDir, upToBatch = batchId)
        }
        onBatch(batchId)
      } finally { sh.unpersist(); () }
    }

  /** Fold committed docs batch partitions into `__batch=-1`, newest
    * batch per doc ([[BatchStore.newestPerDoc]]) — a re-ingested doc_id
    * resolves to its newest ordered arrays at the fold
    * (compaction-bounded update visibility, like every doc-grained
    * tier). dford is bootstrap-frozen and untouched. */
  def compactJaccardStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, s"$storeDir/docs", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "__sh", "__n", "__ha"))

  /** Order-meta SIDECAR (round 12): the frozen authority's vocabulary
    * size, written once at bootstrap (or by the heal above). It lets
    * the dford join's broadcast gate ([[dfreqFor]]) size the authority
    * without a per-batch/per-serve `count()`, and it is the witness
    * the lost-authority guard reads. Stores written before the sidecar
    * existed keep the un-hinted shuffle join. */
  private def orderMetaFile(storeDir: String): String =
    s"$storeDir/_order_meta/meta.txt"

  private[graft] def writeOrderMeta(spark: SparkSession, storeDir: String,
                                    vocab: Long): Unit =
    BatchStore.writeFields(spark, orderMetaFile(storeDir), "vocab" -> vocab)

  /** The authority's vocabulary size the sidecar records; None when
    * the store has no sidecar. */
  private[graft] def readOrderMeta(spark: SparkSession, storeDir: String): Option[Long] =
    BatchStore.readFields(spark, orderMetaFile(storeDir), "vocab").map(_.head.toLong)

  /** Broadcast bound for the dford (ordering-authority) join — the
    * [[graft.ops.Dedup.maybeBroadcast]] discipline sized for dford's
    * two-column rows: 10M (hash, df) pairs ~ 160 MB, inside a
    * production executor. Below it, every maintenance batch's and
    * probe's order join skips the corpus-vocabulary shuffle. */
  private[graft] val DfordBroadcastMaxRows = graft.ops.Dedup.BroadcastKeysMaxRows

  /** The store's ordering authority relation, broadcast-hinted when
    * the sidecar proves its vocabulary small — sized from persisted
    * metadata, never a per-call `count()`. Without a sidecar (pre-
    * round-12 store) the join stays a shuffle: the status quo, no
    * feasibility risk. */
  private[graft] def dfreqFor(spark: SparkSession, storeDir: String,
                              dford: DataFrame): DataFrame =
    if (readOrderMeta(spark, storeDir).exists(v => v >= 0 && v <= DfordBroadcastMaxRows))
      broadcast(dford)
    else dford

  /** Exact one-way Jaccard probe served OFF THE STORE: the probe batch
    * orders its shingles against the store's frozen dford (the shared
    * total order both sides must sign with — the `_srp_params`
    * discipline, except here a mismatched order costs candidates, not
    * recall), derives prefix postings scan-locally, and runs the full
    * filtered candidate join + hash gate + exact string rescore
    * against the store's persisted arrays. The corpus text is never
    * rescanned and no corpus-wide aggregate runs at serve time — the
    * store read is a scan-local projection of (doc_id, __sh, __n,
    * __ha). Guaranteed recall at the threshold (prefix completeness),
    * unlike the banded minhash store. Probe ids must be disjoint from
    * stored ids. Output (id_a = probe, id_b = stored match, jaccard). */
  def jaccardProbeFromStore(spark: SparkSession, storeDir: String,
                            newDocs: DataFrame, id: String, text: String,
                            jaccardThreshold: Double = 0.5): DataFrame = {
    val probeSh = shingled(newDocs, id, text).localCheckpoint(true)
    val dford = spark.read.parquet(s"$storeDir/dford")
    val storedRaw = spark.read.parquet(s"$storeDir/docs")
    val pOrd = Dedup.orderedByDf(
      Dedup.hashedShingles(probeSh, "doc_id", "__sh"),
      dfreqFor(spark, storeDir, dford), "doc_id")
      .persist()
    // The store is consumed through PRUNED SCAN-LOCAL projections only
    // (round 12): the candidate algebra reads (doc_id, __n, __ha), the
    // gate and rescore stream (doc_id, __ha)/(doc_id, __sh) through
    // broadcast joins against the tiny candidate set. The previous
    // corpus-wide dropDuplicates("doc_id") + persist paid a full wide
    // shuffle and a whole-store cache build per serve — at 100 TB the
    // one operation a store-serving probe must never do. The
    // compaction-crash-window guard it implemented (a stale partition
    // beside its relocated, full-row-IDENTICAL copy) moves to the
    // output: duplicate store rows only ever produce duplicate
    // (id_a, id_b) result rows, collapsed below on a relation the size
    // of the match set.
    val (rescorable, gatedRows) = Dedup.probePairsOnOrdered(
      pOrd, storedRaw.select(col("doc_id"), col("__n"), col("__ha")),
      "doc_id", jaccardThreshold)
    val out = Dedup.rescoreJaccardTwoSided(rescorable, probeSh,
      storedRaw.select(col("doc_id"), col("__sh")), "doc_id", "__sh",
      jaccardThreshold, gatedRows)
      .dropDuplicates("id_a", "id_b")
    pOrd.unpersist(blocking = false)
    out
  }

  /** Near-dup pairs served off the stream-maintained store: band
    * collisions over the signature store, exact shingle-Jaccard
    * rescore from the doc store — [[Dedup.minhashLshPortableOnShingles]]'
    * candidate algebra with the store standing in for the featurized
    * corpus, so the served relation (and its oracle) is the batch
    * key's verbatim. Compaction-crash-window guards (rows are unique
    * by construction; duplicates only ever mean a stale partition
    * beside its relocated, full-row-identical copy): the NARROW sig
    * relation keeps its pre-join distinct (Catalyst pushes the band
    * semi-prune below that aggregate, so it runs post-prune), while
    * the WIDE doc-shingle relation streams scan-local and the guard
    * runs on the match-sized output pairs instead. */
  def nearDupsFromStore(spark: SparkSession, storeDir: String,
                        jaccardThreshold: Double = 0.5): DataFrame = {
    val banded = spark.read.parquet(s"$storeDir/sigs")
      .select(col("doc_id"), col("__band"), col("__key"))
      .distinct()
      .persist()
    // the doc store streams scan-local into the rescore (no
    // corpus-wide dropDuplicates shuffle); crash-window duplicates are
    // full-row-identical relocation copies, collapsed on the
    // match-sized output
    val docs = spark.read.parquet(s"$storeDir/docs")
      .select(col("doc_id"), col("__sh"))
    // the candidate count is the rescore's pair-volume sizing input
    val (cand, candRows) = graft.Metrics.counted(Bands.selfJoin(banded, "doc_id"))
    banded.unpersist(blocking = false)
    Dedup.rescoreJaccard(cand, docs, "doc_id", "__sh", jaccardThreshold, candRows)
      .dropDuplicates("id_a", "id_b")
  }
}
