package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` stream
  * (SURVEY.md §2.9).
  *
  * The reference's "streaming" is a manual refresh button that fully
  * recomputes (visualization.py:226-233) — last-write-wins micro-batch
  * with no incremental state. The Spark-native upgrade is incremental:
  * watermarked windowed aggregation and keyed state, identical
  * transforms in batch and stream (same `DataFrame => DataFrame`
  * function applied to a static or streaming frame), so correctness is
  * oracle-checkable in batch while the streaming path is exercised with
  * MemoryStream in tests.
  *
  * Scale posture: every stateful op below is keyed (windows or
  * user_id), so state partitions across executors; watermarks bound
  * state size — the two properties that keep a 100 TB/day stream
  * runnable.
  */
object Streams {

  /** Event row of the driver's `events` table (ts already µs-converted
    * — see HarnessCore.events). */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  /** Watermark only applies to streaming frames; batch frames pass
    * through so one transform serves both modes. */
  private def watermarked(df: DataFrame, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark("ts", delay) else df

  /** Tumbling-window counts per event_type — 1 shuffle, partial aggs,
    * state keyed by (window, type) and expired by the watermark. */
  def tumblingCounts(df: DataFrame, width: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    watermarked(df, watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Sliding-window counts (each event lands in width/slide windows). */
  def slidingCounts(df: DataFrame, width: String = "1 hour",
                    slide: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    watermarked(df, watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** Per-user session windows with a fixed inactivity gap; session end
    * is last-event + gap (Spark session_window semantics). */
  def sessionAgg(df: DataFrame, gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    watermarked(df, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Stateful dedup: first row per key within the watermark horizon.
    * Streaming path uses dropDuplicatesWithinWatermark (bounded state);
    * the batch analog keeps the earliest (ts, event_id) row per key.
    *
    * The two modes are deliberately NOT identical (round-15 review
    * made the divergence explicit): streaming keeps the first-ARRIVED
    * row per key and only within the watermark horizon (a key
    * recurring past the horizon re-admits — that bounded state IS the
    * scale contract), while batch has the whole corpus and can keep
    * the globally earliest (ts, event_id) row. Oracle keys compare
    * the KEY SETS, which agree whenever duplicates fall inside one
    * horizon; per-row ts payloads may differ between modes. */
  def dedupFirst(df: DataFrame, keys: Seq[String],
                 watermark: String = "10 minutes"): DataFrame =
    if (df.isStreaming)
      df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else
      graft.ops.Temporal.argmaxPerGroup(df, keys.map(col),
        Seq(col("ts").asc, col("event_id").asc))

  /** Final per-user state (last event type + event count) via typed
    * keyed state — flatMapGroupsWithState in streaming, the identical
    * fold via mapGroups in batch. The state machine is deliberately
    * simple (last-write + counter); the shape generalizes to
    * sessionization / abandoned-cart logic. */
  case class UserState(lastType: String, lastTs: Timestamp, n: Long)
  case class UserFinal(user_id: Long, last_event: String, n_events: Long)

  private def fold(state: Option[UserState], e: Event): UserState = {
    val next = state match {
      case Some(s) =>
        val isLater = e.ts.after(s.lastTs) ||
          (e.ts.equals(s.lastTs) && e.event_type > s.lastType)
        UserState(if (isLater) e.event_type else s.lastType,
          if (isLater) e.ts else s.lastTs, s.n + 1)
      case None => UserState(e.event_type, e.ts, 1L)
    }
    next
  }

  /** NOTE: keyed state here has NO expiry (the key's oracle folds the
    * whole corpus) — right for a bounded user universe; an unbounded
    * key space needs a `GroupStateTimeout` that drops idle keys. */
  def lastStatePerUser(events: Dataset[Event]): Dataset[UserFinal] = {
    import events.sparkSession.implicits._
    if (events.isStreaming)
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[UserState, UserFinal](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          (uid: Long, it: Iterator[Event], gs: GroupState[UserState]) =>
            val s = it.foldLeft(gs.getOption)((acc, e) => Some(fold(acc, e)))
            s.foreach(gs.update)
            s.map(st => UserFinal(uid, st.lastType, st.n)).iterator
        }
    else
      events.groupByKey(_.user_id).mapGroups { (uid, it) =>
        // Deterministic regardless of iterator order: fold picks the
        // latest (ts, event_type) pair and counts.
        val s = it.foldLeft(Option.empty[UserState])((acc, e) => Some(fold(acc, e)))
          .get
        UserFinal(uid, s.lastType, s.n)
      }
  }

  /** Stream-stream equi+range join with watermarks: attribute each
    * purchase to the views by the same user within `horizon` before it
    * (the streaming enrichment of the reference's refresh loop, and the
    * canonical ad-attribution shape). Both sides carry watermarks and
    * the join condition bounds view_ts to
    * [purchase_ts - horizon, purchase_ts], which is exactly what lets
    * Spark expire per-key join state: a buffered view can be dropped
    * once the purchase-side watermark passes view_ts + horizon. Without
    * the range bound the state would grow without limit — the watermark
    * + range pair IS the 100 TB knob. Works identically on batch frames
    * (watermark is a streaming-only hint), so the DuckDB oracle applies.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      horizon: String = "1 hour",
                      watermark: String = "10 minutes",
                      joinType: String = "inner"): DataFrame = {
    val v = watermarked(views, watermark).select(
      col("event_id").as("view_id"), col("user_id").as("__vu"),
      col("ts").as("view_ts"))
    val p = watermarked(purchases, watermark).select(
      col("event_id").as("purchase_id"), col("user_id"),
      col("ts").as("purchase_ts"))
    // "left_outer" keeps unattributed purchases (null view): in
    // streaming, Spark emits the null row once the view-side watermark
    // passes the purchase's horizon — i.e. when no matching view can
    // arrive anymore — with the same bounded state as the inner form.
    p.join(v,
      col("user_id") === col("__vu") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"interval $horizon"),
      joinType)
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** First-touch funnel: how many users progress through an ordered
    * event-type sequence, where each step must STRICTLY follow the
    * user's first qualifying occurrence of the previous step (the
    * standard product-analytics funnel definition — greedy min-chain,
    * deterministic under ties because only strict inequalities and
    * mins are used). Returns (step_idx, step, n_users).
    *
    * Shape: one keyed aggregate per step plus a user_id equi-join back
    * to the event stream — every exchange hashes on user_id, so the
    * chain re-uses one partitioning end to end and each step's state
    * is a single timestamp per surviving user. No windows, no global
    * sort; step fan-out is len(steps), a constant. */
  def funnelSteps(events: DataFrame, user: Column, ts: Column, typ: Column,
                  steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def countOf(df: DataFrame, idx: Int, name: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(idx).as("step_idx"), lit(name).as("step"), col("n_users"))
    var reached = events.filter(typ === steps.head)
      .groupBy(user.as("u")).agg(min(ts).as("t"))
    var out = countOf(reached, 1, steps.head)
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      reached = events.filter(typ === s).select(user.as("u"), ts.as("__ts"))
        .join(reached, "u")
        .filter(col("__ts") > col("t"))
        .groupBy(col("u")).agg(min(col("__ts")).as("t"))
      out = out.unionByName(countOf(reached, i + 1, s))
    }
    out
  }

  /** Late-row accounting relative to a running max-event-time (the
    * batch analog of a watermark: a row is "late" if it arrives — in
    * event_id order — more than `delay` behind the max event time seen
    * so far). In streaming this is exactly what `withWatermark` drops;
    * here it is observable as a count per type.
    *
    * The global ordered window is the semantics of a single logical
    * arrival stream; at scale the streaming engine (per-partition
    * watermarks) replaces it — this batch form exists for the oracle. */
  def lateCounts(df: DataFrame, delay: String = "10 minutes",
                 arrivalOrder: Seq[Column] = Seq(col("event_id"))): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(arrivalOrder: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__maxSeen", max(col("ts")).over(w))
      .filter(col("ts") < col("__maxSeen") - expr(s"interval $delay"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_late"))
  }

  /** [[lateCounts]] with the running max-event-time tracked PER KEY —
    * the window partitions by `key`, so the plan is a keyed shuffle
    * plus per-partition sort instead of the global single-reducer sort
    * the unpartitioned form needs. This is the batch analog of
    * per-partition watermarks (each key's arrival substream carries its
    * own high-water mark) and the form that scales: semantically, each
    * key's lateness here equals [[lateCounts]] run on that key's
    * substream alone (spec-pinned in StreamingSpec). */
  def lateCountsPerKey(df: DataFrame, key: Column,
                       delay: String = "10 minutes",
                       arrivalOrder: Seq[Column] = Seq(col("event_id"))): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key)
      .orderBy(arrivalOrder: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("__maxSeen", max(col("ts")).over(w))
      .filter(col("ts") < col("__maxSeen") - expr(s"interval $delay"))
      .groupBy(key)
      .agg(count(lit(1)).as("n_late"))
  }
}
