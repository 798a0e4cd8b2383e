package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Multimodal

/** Streaming MEDIA near-dup maintenance — the perceptual-hash analog
  * of [[DedupIngest]]: as media documents stream in, every micro-batch
  * decodes its payloads and appends their 64-bit perceptual hashes
  * ([[Multimodal.aHash64]]) to a `__batch`-partitioned store; serving
  * near-dup pairs is then the shared multi-index Hamming join
  * ([[Multimodal.hammingNearDupsOnHashes]]) over the store — the media
  * bytes are decoded exactly once, at ingest, and never rescanned.
  * The hash function is pure and seed-free, so per-batch hashes are
  * bit-identical to a one-shot batch build and the batch key's
  * closed-form oracle applies verbatim to the served relation.
  *
  * Scale posture: per-batch work is one scan-local decode+hash pass
  * over the batch's own rows (no cross-batch state, no streaming state
  * store); the store append is the same dynamic-partition-overwrite
  * write the text/vector tiers use (exactly-once on retry: a replayed
  * batch id overwrites its own partition). At 100 TB the 8-byte hash
  * column rides with the table; the media bytes stay cold.
  */
object MediaIngest {

  /** Maintain the image-hash store from a media stream: each
    * micro-batch writes (doc_id, __ah) for its decodable payloads to
    * `$storeDir/hashes`, `__batch`-partitioned. A doc_id re-ingested
    * with corrected media is an UPDATE with compaction-bounded
    * visibility: the fold keeps only its newest batch's hash
    * ([[BatchStore.newestPerDoc]]); until that fold, serves can
    * transiently match the stale hash too. */
  def maintainImageHashes(stream: DataFrame, id: String, media: String,
                          storeDir: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          onBatch: Long => Unit = _ => (),
                          compactEvery: Int = 0): StreamingQuery = {
    val hashU = udf((b: Array[Byte]) => Multimodal.aHash64(b))
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      BatchStore.overwritePartitions(batch
        .select(col(id).as("doc_id"), hashU(col(media)).as("__ah"))
        .filter(col("__ah").isNotNull)
        .withColumn("__batch", lit(batchId)), s"$storeDir/hashes")
      if (BatchStore.compactDue(stream.sparkSession, s"$storeDir/hashes", compactEvery))
        compactImageHashes(stream.sparkSession, storeDir, upToBatch = batchId)
      onBatch(batchId)
    }
  }

  /** Fold committed hash partitions into `__batch=-1`, newest batch
    * per doc ([[BatchStore.newestPerDoc]]): a doc_id re-ingested with
    * corrected media resolves to its newest hash at the fold
    * (compaction-bounded update visibility — between re-ingest and
    * fold, near-dup serves can transiently match the stale hash
    * too). */
  def compactImageHashes(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, s"$storeDir/hashes", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "__ah"))

  /** Near-dup pairs served off the stream-maintained store: the shared
    * banded Hamming join over the stored hashes. Compaction-crash-window
    * guard (duplicates only ever mean a stale partition beside its
    * relocated, full-row-identical copy): the store streams scan-local
    * — no per-serve distinct + materialization of the hash relation —
    * and duplicate rows, which can only produce duplicate result rows,
    * collapse on the match-sized output. */
  def imageNearDupsFromStore(spark: SparkSession, storeDir: String,
                             maxHamming: Int = 3): DataFrame =
    Multimodal.hammingNearDupsOnHashes(
      storedHashes(spark, storeDir), maxHamming, "stream_image_candidates")
      .dropDuplicates("id_a", "id_b")

  /** Scan-local pruned read of the hash store — NO per-serve distinct
    * or checkpoint: crash-window duplicates are full-row identical, so
    * the near-dup serve dedupes its output pairs. */
  private def storedHashes(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/hashes")
      .select(col("doc_id").as("__id"), col("__ah"))
}
