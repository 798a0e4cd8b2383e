package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval / date-sequence / argmax / window operators.
  *
  * The reference's signature patterns (ref
  * tasks/visualization/src/visualization.py):
  *  - point-in-interval validity filter (:97-98)
  *  - argmax-per-group via unstable sort + drop_duplicates (:103, :130)
  *  - per-row day-range explode + re-aggregate (:186-193)
  * re-expressed with Catalyst-native expressions. The pandas row-wise
  * `apply` of :186 becomes the codegen'd `sequence()` + `explode()`
  * generator; the unstable-sort argmax gets a pinned deterministic
  * tiebreaker (SURVEY.md §2.4 caveat).
  */
object Temporal {

  /** Point-in-time validity filter: start <= d AND d <= end —
    * ref visualization.py:97-98. The predicate is scan-pushable. */
  def pointInInterval(df: DataFrame, d: Column, start: String, end: String): DataFrame =
    df.filter(col(start) <= d && d <= col(end))

  /** Per-row array of all days in [start, end], exploded to one row per
    * day — ref visualization.py:186-189, built-in generator instead of
    * the reference's row-wise Python apply. Explode fan-out =
    * interval length; at 100 TB keep intervals bounded (cap or bucket
    * by month) before exploding, or, when the days are only summed per
    * key, use [[sumPerDay]], whose cost does not grow with length. */
  def explodeDays(df: DataFrame, out: String, start: Column, end: Column): DataFrame =
    // inverted intervals (end < start — one dirty row in a 100 TB
    // relation) yield ZERO days instead of killing the whole job:
    // sequence() throws on illegal boundaries
    df.filter(start <= end)
      .withColumn(out, explode(sequence(start, end, expr("interval 1 day"))))

  /** Exact per-day sum of `value` over the intervals active that day —
    * the same rows as
    * `explodeDays(df, day, start, end).groupBy(col(day) +: keys.map(col))
    *   .agg(Aggregates.sumExact(value).as(out))`
    * (a day with only null values sums to null), computed by an
    * interval sweep instead of a per-interval explode:
    *  - every interval with `start <= end` contributes +value and +1 at
    *    `start`, −value and −1 at `end + 1`;
    *  - the deltas are summed per (keys, day), so what moves on is
    *    bounded by keys × calendar days, not by the number of intervals
    *    or their length (a 1900 sentinel start costs one delta, not
    *    45 000 rows);
    *  - running sums over each key's day order, and `lead` to the next
    *    change day, give segments of constant sum; the days of every
    *    segment with an active interval are emitted. The test is the
    *    active count, not the sum: values that cancel or round to 0.00
    *    still own their days, as in the explode.
    * The deltas are moved with `repartition(1)`: the single partition
    * satisfies the window's distribution and any later sort, and the
    * delta aggregation above it stays parallel (a `coalesce(1)` would
    * pull it into one task). Sums are decimal(28, 2)-exact and cast to
    * double once, like [[Aggregates.sumExact]]. */
  def sumPerDay(df: DataFrame, day: String, start: Column, end: Column,
                keys: Seq[String], value: Column, out: String): DataFrame = {
    val v = value.cast("decimal(28,2)")
    // nn counts the non-null values, so a day with only nulls sums to null
    def edge(d: Column, dv: Column, sign: Int) = struct(d.as("d"), dv.as("v"),
      lit(sign).as("n"), when(v.isNotNull, sign).otherwise(0).as("nn"))
    val deltas = df.filter(start <= end)
      .select(keys.map(col) :+
        explode(array(edge(start, v, 1), edge(date_add(end, 1), -v, -1))).as("__e"): _*)
      .groupBy(keys.map(col) :+ col("__e.d").as("__d"): _*)
      .agg(sum(col("__e.v")).as("__v"), sum(col("__e.n")).as("__n"), sum(col("__e.nn")).as("__nn"))
      .repartition(1)
    val byDay = Window.partitionBy(keys.map(col): _*).orderBy(col("__d"))
    val upTo = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.select(keys.map(col) ++ Seq(col("__d"),
        lead(col("__d"), 1).over(byDay).as("__next"),
        sum(col("__v")).over(upTo).as("__v"),
        sum(col("__n")).over(upTo).as("__n"),
        sum(col("__nn")).over(upTo).as("__nn")): _*)
      .filter(col("__n") > 0)
      .select(explode(sequence(col("__d"), date_sub(col("__next"), 1), expr("interval 1 day"))).as(day) +:
        keys.map(col) :+ when(col("__nn") > 0, col("__v")).cast("double").as(out): _*)
  }

  /** Whole-row argmax per group with a DETERMINISTIC tiebreaker —
    * ref visualization.py:103/:130 does
    * `sort_values(desc).drop_duplicates(keep='first')` over an
    * unstable quicksort, so its tie-break is nondeterministic; we pin
    * the order. One shuffle on the group keys; no join. */
  def argmaxPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Top-k rows per group (generalizes argmax k=1) — rank-1 pattern of
    * ref visualization.py:103 widened for the harness (SURVEY.md §2.5). */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
                   rankName: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }

  /** Running (cumulative) aggregate over an ordered partition —
    * ExtOp win_running_sum (SURVEY.md §2.5). */
  def runningSum(df: DataFrame, out: String, value: Column,
                 partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, sum(value).over(w))
  }

  /** Trailing `windowDays`-day sum per key — an event-time RANGE frame
    * over integer day numbers, the batch form of a sliding event-time
    * window. RANGE (not ROWS) so same-day peers share one frame and the
    * result is deterministic even when intra-day order is ambiguous.
    * Decimal-exact sum (see Aggregates float-sum determinism note). */
  def trailingSumByDays(df: DataFrame, keys: Seq[Column], day: Column,
                        value: Column, windowDays: Int, out: String): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(day)
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    df.withColumn(out, sum(value.cast("decimal(28,2)")).over(w).cast("double"))
  }

  /** Day-over-day (lag) delta — ExtOp win_lag_delta. */
  def lagDelta(df: DataFrame, out: String, value: Column,
               partition: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn(out, value - lag(value, 1).over(w))
  }

  /** Dense rank within a partition — ExtOp win_rank_dense. */
  def denseRankIn(df: DataFrame, out: String,
                  partition: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn(out, dense_rank().over(Window.partitionBy(partition: _*).orderBy(order: _*)))

  // ---- interval joins (generalized flt_point_in_interval, SURVEY.md §2.3) ----

  /** Range join: probe dates x interval rows, probe side SMALL.
    * Broadcasting the probe side turns Catalyst's default
    * BroadcastNestedLoopJoin into a distributed O(|intervals| x |probes|)
    * scan with no shuffle of the big side — the right plan whenever one
    * side is dimension-sized. For big-x-big match COUNTS, use
    * [[rangeCountByKey]]. */
  def rangeJoinBroadcastProbes(probes: DataFrame, intervals: DataFrame,
                               probeDate: String, start: String, end: String): DataFrame =
    intervals.join(
      broadcast(probes),
      col(start) <= col(probeDate) && col(probeDate) <= col(end))

  /** As-of join: for every left (probe) row, the LATEST right row with
    * rightTime <= leftTime within the same key — event attribution,
    * point-in-time dimension lookup, "price as of trade time".
    *
    * Spark-first composition, no custom strategy and no range cross
    * join: tag both sides, union, and run `last(_, ignoreNulls)` over a
    * (key)-partitioned window ordered by (time, side) — right rows sort
    * before left rows at equal timestamps, so exact-time matches are
    * visible (<= semantics). Costs exactly ONE shuffle+sort on the
    * keys; at 100 TB both sides stream through the same partitioning,
    * which is the plan a native as-of operator would pick anyway.
    *
    * Left-join semantics: probes with no prior right row keep nulls.
    * The fill carries ONE struct of the whole matched right row (not
    * per-column fills), so a latest right row whose value is genuinely
    * NULL yields null — never a stale older value. Right-side ties at
    * identical (key, time) resolve DETERMINISTICALLY to the greatest
    * rightVals struct (Spark's field-wise struct ordering) — the tie
    * value rides the existing window sort as a third key, so pinning
    * the contract costs zero extra shuffles. The one carve-out: a
    * rightVals struct containing a type Catalyst cannot order (maps,
    * calendar intervals — `RowOrdering.isOrderable` decides) cannot
    * join the sort, so there ties fall back to partition order — pass
    * an orderable tiebreak column in rightVals if tie identity matters
    * for such a payload. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightVals: Seq[String], outPrefix: String = "asof_"): DataFrame = {
    val rvStruct = struct(rightVals.map(col): _*)
    // NULL-keyed right rows can never match under join semantics
    // (null != null), but the window's partitionBy groups all nulls
    // together — dropping them here keeps a null-keyed probe
    // unmatched (null asof_* columns) instead of silently attributing
    // it from unrelated null-keyed right rows (round-15 review)
    val rBase = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t"), rvStruct.as("__rv")): _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__side", lit(0))
    val lAug = left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(rBase.schema("__rv").dataType))
    val leftOnly = lAug.columns.filterNot(rBase.columns.contains)
    val rAug = leftOnly.foldLeft(rBase) { (d, c) =>
      d.withColumn(c, lit(null).cast(lAug.schema(c).dataType))
    }
    val unioned = lAug.unionByName(rAug)
    // Catalyst's own orderability judgment, not a hand-rolled
    // approximation: an under-approximation would silently lose the
    // deterministic-tie contract, an over-approximation (e.g. calling
    // CalendarIntervalType orderable) would crash the window's ORDER BY
    // on a payload that joined fine before the tie key existed
    val tieKeys =
      if (org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(
        rBase.schema("__rv").dataType)) Seq(col("__rv").asc) else Nil
    // left rows carry a null __rv here, and nulls sort FIRST under asc
    // — irrelevant anyway, since __side already orders left after right
    // at equal times and the tie key only disambiguates within a side
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc +: col("__side").asc +: tieKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn("__rv",
      last(col("__rv"), ignoreNulls = true).over(w))
    rightVals.foldLeft(filled.filter(col("__side") === 1)) { (d, c) =>
      d.withColumn(s"$outPrefix$c", col(s"__rv.$c"))
    }.drop("__t", "__side", "__rv")
  }

  /** Matched-pair COUNT per interval-side group — the aggregate-
    * pushdown form of counting a day equi-join of the probes with the
    * [[explodeDays]] of the intervals (guide
    * §2.3 "aggregate before you shuffle" / §8 "decide with small
    * rows"): when the consumer only COUNTS the matched pairs, the
    * pair expansion itself is pure waste — the count per group g
    * factors exactly as Σ_day |probes(day)| × |intervalDays(g, day)|,
    * so joining the two DAY-KEYED COUNT AGGREGATES and summing the
    * products computes the identical integer result while the
    * O(pairs) relation never exists in any stage. At bench scale that
    * replaced a 108M-row in-stage expansion (the suite's two most
    * contention-amplified keys, r20 verdict); at 100 TB it is the
    * difference between O(scan + distinct-days) and O(pairs).
    *
    * Equivalence is exact, row for row: equality joins drop NULL days
    * on either side, and so does the inner aggregate join here; a
    * group with interval days but no matching probe day produces no
    * pairs and no output row in both forms; duplicate probe dates and
    * duplicate intervals multiply counts identically. Skew needs no
    * salt in this form — a hot day is one multiplication, not a
    * reducer-sized pair expansion — which is why the salted harness
    * tier routes here too (PropertySpec pins this form equal to a
    * materializing day join). Counting in long: overflows only past
    * ~9.2e18 pairs per group, at which point the count itself is the
    * wrong question. */
  def rangeCountByKey(probes: DataFrame, intervals: DataFrame,
                      probeDate: String, start: String, end: String,
                      keys: Seq[Column], out: String): DataFrame = {
    val pc = probes.groupBy(col(probeDate).as("__day"))
      .agg(count(lit(1)).as("__pc"))
    val ic = explodeDays(intervals, "__day", col(start), col(end))
      .groupBy(keys :+ col("__day"): _*).agg(count(lit(1)).as("__ic"))
    ic.join(pc, "__day")
      .groupBy(keys: _*)
      .agg(sum(col("__pc") * col("__ic")).as(out))
  }

  /** Cohort retention over an event log — the product-analytics
    * staple: users grouped by their FIRST active week (the cohort),
    * each later active week counted as that cohort's retention at
    * `week_offset` weeks. All arithmetic is integer-exact (both weeks
    * are Monday-truncated, so the day difference is a multiple of 7),
    * which is what makes the op oracle-checkable.
    *
    * Shape at scale: the user-week activity relation is the distinct of
    * a scan-local projection; cohorts are one user-keyed aggregation;
    * the join back is user-keyed; the final count is cohort-keyed —
    * every shuffle on a high-cardinality key, nothing driver-side. */
  def retentionCohorts(events: DataFrame, user: Column, ts: Column): DataFrame = {
    val activity = events
      .select(user.as("__u"), date_trunc("week", ts).cast("date").as("__w"))
      .distinct()
    val cohorts = activity.groupBy(col("__u")).agg(min(col("__w")).as("__c"))
    activity.join(cohorts, Seq("__u"))
      .withColumn("week_offset", (datediff(col("__w"), col("__c")) / 7).cast("int"))
      .groupBy(col("__c").as("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("__u")).as("n_users"))
  }
}
