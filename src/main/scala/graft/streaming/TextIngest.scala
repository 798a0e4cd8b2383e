package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming maintenance of corpus TERM STATISTICS — the text analog
  * of [[VectorIngest]]: as documents stream in, every micro-batch
  * reduces to its own (term, tf, df) partial and appends it to a
  * `__batch`-partitioned store. Term frequency and document frequency
  * are both SUMS of per-batch partials (a document's row — and
  * therefore all of its tokens — lands in exactly one micro-batch, so
  * per-batch distinct-doc counts add without overlap), which makes the
  * store a mergeable fine grain: corpus-wide stats at any moment are
  * ONE groupBy(term) over the partials, no rescan of the documents.
  * These are the statistics a retrieval stack serves from — df feeds
  * idf, tf/df feed [[graft.ops.Text.bm25Dynamic]]-style scorers — kept
  * fresh at ingest time instead of recomputed batch-wide.
  *
  * Scale posture: the per-batch reduction is one partial+final hash
  * aggregate over the batch's tokens (term-keyed, no global state, no
  * streaming state store), and the store append is a partitioned
  * parquet write. Exactly-once on retry comes from the same discipline
  * as [[VectorIngest.maintainIndex]]: dynamic partition overwrite means
  * a replayed batch id overwrites ITS OWN partition rather than
  * double-appending.
  */
object TextIngest {

  /** Tokenization pinned to the engine-portable form the batch text
    * ops use (trim + lower + whitespace split) — the stream≡batch
    * equivalence is only meaningful if both sides tokenize
    * identically. */
  private def tokens(text: String): org.apache.spark.sql.Column =
    explode(split(trim(lower(col(text))), "\\s+"))

  /** Per-batch (term, tf, df) partial of one micro-batch. `__src`
    * carries the producing batch id as a DATA column (alongside the
    * `__batch` partition column): relocating rows during
    * [[compactTermStats]] keeps their provenance, which is what makes
    * a sum-merged store compactable IDEMPOTENTLY — duplicates from a
    * crash between the compacted write and the stale-partition delete
    * dedup on (term, __src) instead of double-counting into the sums. */
  private[streaming] def termPartial(batch: DataFrame, id: String,
                                     text: String, batchId: Long): DataFrame =
    batch.select(col(id).as("__doc"), tokens(text).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("__doc")).as("df"))
      .withColumn("__src", lit(batchId))

  /** Maintain the partial-stats store from a document stream. Each
    * micro-batch writes its own `__batch=<id>` partition.
    * `compactEvery` > 0 bounds the store's partition count: whenever
    * that many batch partitions accumulate, committed ones fold into
    * the reserved compacted partition ([[compactTermStats]]).
    *
    * APPEND-ONLY contract (unlike the doc-grained tiers): the store's
    * grain is (term, batch) partials with no per-document rows, so a
    * doc_id re-ingested in a later batch double-counts into tf/df —
    * there is nothing to fold its old contribution out of. Feed this
    * tier exactly-once documents; updates belong to the inverted-
    * index tier ([[maintainInvertedIndex]]), whose doc grain resolves
    * them at compaction. */
  def maintainTermStats(stream: DataFrame, id: String, text: String,
                        storeDir: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        onBatch: Long => Unit = _ => (),
                        compactEvery: Int = 0): StreamingQuery =
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      val spark = stream.sparkSession
      BatchStore.overwritePartitions(
        termPartial(batch, id, text, batchId).withColumn("__batch", lit(batchId)), storeDir)
      if (BatchStore.compactDue(spark, storeDir, compactEvery))
        compactTermStats(spark, storeDir, upToBatch = batchId)
      onBatch(batchId)
    }

  /** Merge the store's partials to corpus-wide term stats: tf and df
    * are both plain sums over batches. One term-keyed aggregate —
    * never a document rescan. The pre-aggregation distinct over
    * (term, tf, df, __src) makes SERVING safe inside the compaction
    * crash window too: a stale partition left beside its relocated
    * copy dedups here instead of double-counting into the sums. */
  def termStatsFromStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .select(col("term"), col("tf"), col("df"), col("__src"))
      .distinct()
      .groupBy(col("term"))
      .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))

  /** Fold committed batch partitions (id < `upToBatch`) into the
    * reserved `__batch=-1` partition ([[BatchStore.fold]]). Rows
    * RELOCATE rather than merge (partition count is the thing being
    * bounded, not row count — the serving merge stays one aggregate
    * either way), and a full-row distinct over (term, tf, df, __src)
    * makes the fold idempotent: a crash between the compacted write
    * and the stale-partition delete leaves duplicate provenance rows
    * that the next fold collapses instead of double-counting. */
  def compactTermStats(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, storeDir, upToBatch)(
      _.select(col("term"), col("tf"), col("df"), col("__src")).distinct())

  /** Maintain a full INVERTED INDEX from a document stream — the
    * retrieval architecture rather than just corpus totals: each
    * micro-batch appends its `(term, doc_id, tf)` postings to
    * `$storeDir/postings` and its `(doc_id, dl)` lengths to
    * `$storeDir/docs`, both `__batch`-partitioned. A document's
    * postings land wholly in its own batch (no cross-batch merge is
    * ever needed per doc): df(term) = posting count per term, N and
    * Σdl = one aggregate of the doc store. A doc_id re-ingested in a
    * later batch is an update with compaction-bounded visibility
    * ([[BatchStore.newestPerDoc]] keeps only its newest batch's rows; until
    * that fold, [[bm25FromStore]]'s statistics transiently count both
    * versions). Serving ([[bm25FromStore]]) is term-keyed joins
    * against the postings — the corpus text is never rescanned. */
  def maintainInvertedIndex(stream: DataFrame, id: String, text: String,
                            storeDir: String,
                            trigger: Trigger = Trigger.AvailableNow(),
                            onBatch: Long => Unit = _ => (),
                            compactEvery: Int = 0): StreamingQuery =
    BatchStore.maintain(stream, storeDir, trigger) { (batch, batchId) =>
      val spark = stream.sparkSession
      val toks = batch.select(col(id).as("doc_id"), tokens(text).as("term"))
        .persist()
      try {
        BatchStore.overwritePartitions(toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("__batch", lit(batchId)), s"$storeDir/postings")
        BatchStore.overwritePartitions(toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("dl"))
          .withColumn("__batch", lit(batchId)), s"$storeDir/docs")
        if (BatchStore.compactDue(spark, s"$storeDir/postings", compactEvery))
          compactInvertedIndex(spark, storeDir, upToBatch = batchId)
        onBatch(batchId)
      } finally { toks.unpersist(); () }
    }

  /** Fold committed postings/docs batch partitions into `__batch=-1`,
    * newest batch per doc ([[BatchStore.newestPerDoc]]): a doc_id
    * re-ingested in a later batch resolves to its newest
    * postings/length at the fold (compaction-bounded update visibility
    * — between re-ingest and fold, [[bm25FromStore]]'s df/N/Σdl
    * transiently count both versions). */
  def compactInvertedIndex(spark: SparkSession, storeDir: String, upToBatch: Long): Unit = {
    BatchStore.fold(spark, s"$storeDir/postings", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "term", "tf"))
    BatchStore.fold(spark, s"$storeDir/docs", upToBatch)(
      BatchStore.newestPerDoc("doc_id", "dl"))
  }

  /** BM25 served from the stream-maintained inverted index — the same
    * score [[graft.ops.Text.bm25Dynamic]] computes from raw text, but
    * every input (tf, dl, df, N, Σdl) is an integer read off the
    * store, so the float expression tree is IDENTICAL bit for bit to
    * the batch formulation (same literals, same association, same
    * term_pos-ordered fold) and the batch oracle applies verbatim.
    * Shapes: query vocabulary broadcast-pruned into the postings
    * (term-keyed), corpus stats one broadcast row, per-(query, doc)
    * partials folded in term_pos order. */
  def bm25FromStore(spark: SparkSession, storeDir: String, queries: DataFrame,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // (doc_id, term, tf) and (doc_id, dl) are globally unique by
    // construction (a doc lands wholly in one batch); the distincts
    // only ever remove the duplicates a compaction crash window
    // leaves behind (compacted rows written, stale batch partitions
    // not yet deleted) — without them df, N and Σdl would double
    // inside that window. Mirrors [[termStatsFromStore]]'s guard.
    // Round 12: the postings guard runs AFTER the query-term prune —
    // distinct-then-prune ≡ prune-then-distinct for a term-subset
    // filter, and the previous order aggregated the ENTIRE inverted
    // index (the big side of the store) to serve a handful of query
    // terms. The docs guard stays corpus-wide: N and Σdl are
    // corpus statistics by definition, and the relation is two narrow
    // columns with map-side partial aggregation.
    val postings = spark.read.parquet(s"$storeDir/postings")
      .select(col("doc_id"), col("term").as("__w"), col("tf").as("__tf"))
    val docs = spark.read.parquet(s"$storeDir/docs")
      .select(col("doc_id"), col("dl"))
      .distinct()
    val stats = docs.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sdl"))
    val qTerms = queries.select(col("term")).distinct()
    // materialize the pruned, deduped tf relation once, like
    // [[Text.bm25Dynamic]] — df derivation and the score join both
    // consume it, and checkpointing BEFORE the docs join lets the
    // planner see a match-sized relation to broadcast into it
    val tf0 = postings.join(broadcast(qTerms), col("__w") === col("term"))
      .select(col("doc_id"), col("__w"), col("__tf"))
      .distinct()
      .localCheckpoint(true)
    val dfq = tf0.groupBy(col("__w")).agg(count(lit(1)).as("__df"))
    val tfq = tf0.join(docs, "doc_id")
      .select(col("doc_id"), col("dl"), col("__w"), col("__tf"))
    val contrib = queries
      .join(tfq, col("term") === col("__w"))
      .join(dfq, "__w")
      .crossJoin(broadcast(stats))
      .withColumn("__c",
        log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0)) *
          (col("__tf").cast("double") * lit(k1 + 1.0)) /
          (col("__tf").cast("double") + lit(k1) * (lit(1.0 - b) +
            lit(b) * (col("dl") * col("__n")).cast("double") / col("__sdl"))))
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(
        transform(array_sort(collect_list(struct(col("term_pos"), col("__c")))),
          x => x("__c")),
        lit(0.0), (acc, v) => acc + v), 6).as("bm25"))
  }
}
