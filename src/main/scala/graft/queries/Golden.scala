package graft.queries

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, Relational, Temporal}

/** The reference's four analytics queries (SURVEY.md §3 E2,
  * tasks/visualization/src/visualization.py) re-expressed end-to-end
  * over the driver testdata — the "a user of the reference could run
  * every query they run today" proof, as single composed pipelines
  * rather than per-operator micro-queries.
  *
  * Role mapping (FIXTURES.md §B): `orders` rows are the decree
  * intervals ([o_orderdate, o_orderdate+30] stands in for
  * [debut, fin_validite_arrete]), `o_custkey` is the department,
  * `o_totalprice` the severity ordering, `o_orderpriority` the severity
  * label, `nation` the geo dimension. The exact reference semantics on
  * the reference's own (dirty) schema — sentinel fills, '0023' repair,
  * tie-broken argmax — are asserted on a hand-built zones/arretes
  * fixture in GoldenSpec.
  */
object Golden {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val D = Date.valueOf("1996-06-15")

  private def openOrdersOf(s: SparkSession, orders: DataFrame): DataFrame = {
    import s.implicits._
    val withIntervals = orders
      .withColumn("start_date", to_date($"o_orderdate"))
      .withColumn("end_date", date_add($"start_date", 30))
    Temporal.pointInInterval(withIntervals, lit(D), "start_date", "end_date")
  }

  /** The Q1 pipeline body over ANY orders-shaped frame — ONE
    * definition shared by the parquet key and the live-PG round-trip
    * (round-15 review: the duplicated body meant a future Q1 change
    * applied once would fail the round-trip key for a reason
    * unrelated to the round-trip it proves). */
  private def q1Of(s: SparkSession, orders: DataFrame): DataFrame = {
    import s.implicits._
    val top = Temporal.argmaxPerGroup(openOrdersOf(s, orders),
      Seq($"o_custkey"), Seq($"o_totalprice".desc, $"o_orderkey".asc))
    Aggregates.countByKey(top, Seq($"o_orderpriority"), "nb_customers")
      .orderBy($"nb_customers".desc, $"o_orderpriority")
  }

  /** Q1 (visualization.py:100-105): point-in-time filter → whole-row
    * argmax per department → count departments per severity → sort
    * desc. One scan-pushed filter, one window shuffle, one agg shuffle. */
  def q1(s: SparkSession, dir: String): DataFrame =
    q1Of(s, t(s, dir, "orders"))

  /** Q2 (visualization.py:129-154): isin-restricted argmax per group,
    * then LEFT join back to the full dimension with null→0 fill so
    * every dimension row survives. */
  def q2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val restricted = Relational.filterIsIn(t(s, dir, "customer"),
      "c_mktsegment", Seq("BUILDING", "AUTOMOBILE"))
    val top = Temporal.argmaxPerGroup(restricted,
      Seq($"c_nationkey"), Seq($"c_acctbal".desc, $"c_custkey".asc))
      .select($"c_nationkey", $"c_acctbal".as("max_bal"))
    val joined = t(s, dir, "nation")
      .join(top, $"n_nationkey" === $"c_nationkey", "left")
    Relational.fillNullZero(joined, Seq("max_bal"))
      .select($"n_nationkey", $"n_name", $"max_bal")
      .orderBy($"n_nationkey")
  }

  /** Q3 (visualization.py:169-182): equality filter on one entity →
    * per-interval duration bars (Gantt): each order of customer 7 with
    * its ship-completion span. */
  def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mine = Relational.filterEq(t(s, dir, "orders"), "o_custkey", 7L)
      .withColumn("start_date", to_date($"o_orderdate"))
    val spans = mine
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"start_date")
      .agg(max(to_date($"l_shipdate")).as("end_date"))
    Relational.inclusiveDurationDays(spans, "duration_days", "start_date", "end_date")
      .orderBy($"o_orderkey")
  }

  /** Q4 (visualization.py:184-193): equality filter → per-row day
    * sequence → explode → group-sum per day×severity. The reference's
    * row-wise Python apply becomes the codegen'd sequence() generator. */
  def q4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val filtered = Relational.filterEq(t(s, dir, "orders"), "o_orderstatus", "F")
      .withColumn("d0", to_date($"o_orderdate"))
      .withColumn("d1", date_add($"d0", 6))
    Temporal.explodeDays(filtered, "day", $"d0", $"d1")
      .groupBy($"day", $"o_orderpriority")
      .agg(Aggregates.sumExact($"o_totalprice").as("sum_price"))
      .orderBy($"day", $"o_orderpriority")
  }

  /** The reference's ACTUAL E1->E2 topology exercised LIVE (round 15,
    * VERDICT r14 #6): the scraper full-replaces Postgres tables
    * (tasks/scraper/src/scraper.py:23-24) and the visualization reads
    * them back and computes (tasks/visualization/src/visualization
    * .py:14-21). Q1 here runs on a frame that went parquet -> COPY
    * FROM STDIN into a real Postgres server -> 4-slice
    * range-partitioned wire read (binary extended-query cycle) -> the
    * golden Q1 pipeline, while the ORACLE recomputes from the parquet
    * original — so a green key proves the live round-trip is
    * value-exact under a full analytics pipeline, not just per-column
    * (src_pg_table's job). */
  def q1PgRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val conn = graft.io.Postgres.ensureLocalServer("/tmp/graft_stage/pgserver")
    val src = t(s, dir, "orders").select($"o_orderkey", $"o_custkey",
      $"o_totalprice", $"o_orderdate", $"o_orderpriority")
    graft.io.Postgres.overwriteTable(src, conn, "graft_orders_q1")
    // partition bounds DERIVED from the source, not pinned to one sf
    // (round-15 review: a hardcoded sf0.1 upper bound left the
    // open-ended last slice carrying ~93% of an sf1 table, so the
    // "4-slice parallel read" measured one connection). One tiny
    // min/max agg on the already-staged frame, driver-side.
    val bounds = src.agg(min($"o_orderkey"), max($"o_orderkey")).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 1L) else (bounds.getLong(0), bounds.getLong(1))
    val back = graft.io.Postgres.readTable(s, conn, "graft_orders_q1",
      partitionColumn = Some(("o_orderkey", lo, math.max(hi, lo + 1), 4)))
    q1Of(s, back)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pipeline" -> (q1 _),
    "q2_pipeline" -> (q2 _),
    "q3_pipeline" -> (q3 _),
    "q4_pipeline" -> (q4 _),
    "q1_pg_roundtrip" -> (q1PgRoundtrip _),
  )

  /** Shared between q1_pipeline and q1_pg_roundtrip: the oracle always
    * computes from the PARQUET original, which is exactly what makes
    * the roundtrip key a proof of live-PG value-exactness. */
  private val q1OracleSql =
    """WITH open_orders AS (
      | SELECT * FROM orders
      | WHERE CAST(o_orderdate AS DATE) <= DATE '1996-06-15'
      |   AND DATE '1996-06-15' <= CAST(o_orderdate AS DATE) + 30),
      |ranked AS (
      | SELECT o_orderpriority, row_number() OVER (
      |   PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM open_orders)
      |SELECT o_orderpriority, count(*) AS nb_customers
      |FROM ranked WHERE rn = 1
      |GROUP BY 1 ORDER BY nb_customers DESC, o_orderpriority""".stripMargin

  val oracles: Map[String, String] = Map(
    "q1_pg_roundtrip" -> q1OracleSql,
    "q1_pipeline" -> q1OracleSql,
    "q2_pipeline" ->
      """SELECT n_nationkey, n_name, coalesce(max_bal, 0.0) AS max_bal
        |FROM nation LEFT JOIN (
        | SELECT c_nationkey, c_acctbal AS max_bal FROM (
        |  SELECT c_nationkey, c_acctbal, row_number() OVER (
        |    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) AS x
        | WHERE rn = 1) AS top ON n_nationkey = c_nationkey
        |ORDER BY n_nationkey""".stripMargin,
    "q3_pipeline" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_date,
        | max(CAST(l_shipdate AS DATE)) AS end_date,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |   max(CAST(l_shipdate AS DATE))) + 1 AS INT) AS duration_days
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_custkey = 7
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q4_pipeline" ->
      """SELECT CAST(u AS DATE) AS day, o_orderpriority,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
        |FROM (
        | SELECT o_orderpriority, o_totalprice,
        |  unnest(generate_series(CAST(o_orderdate AS DATE),
        |    CAST(o_orderdate AS DATE) + 6, INTERVAL 1 DAY)) AS u
        | FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
