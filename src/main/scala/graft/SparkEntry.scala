package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Golden, HarnessCore, HarnessIO, HarnessLLM, HarnessStream}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one key per implemented operator (SURVEY.md §2), each a
  * composition of graft.ops combinators over the driver testdata.
  * `oracleSql`: per-key ANSI SQL for the driver's DuckDB compare.
  * Every key has one (round 8): ops whose raw values DuckDB cannot
  * reproduce are oracled either through engine-portable md5-derived
  * hashes (SimHash/MinHash families) or through error-bound relations
  * (sketch estimates emit `within_bound` booleans the oracle pins to
  * literal true, alongside exact-side columns); scalatest invariants
  * additionally pin the approximation quality.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The TPC-H-Q1-shaped pricing summary: pushed date filter,
    * partial+final hash aggregation, deterministic sort — the
    * reference's Q1 spine (visualization.py:100-105) re-expressed. */
  def entry(spark: SparkSession): DataFrame =
    HarnessCore.q1Agg(spark, "/root/testdata/sf0.001")

  /** The local session Bench, Verify and the tools run in: `local[n]`
    * with `n` shuffle partitions (one per core), no UI, UTC, and
    * events.parquet's TIMESTAMP(NANOS) read as long ns (Spark has no ns
    * type; the queries convert exactly), WARN logging and the graft SQL
    * functions registered. */
  def localSession(n: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    HarnessCore.queries ++ HarnessStream.queries ++ HarnessLLM.queries ++
      HarnessIO.queries ++ Golden.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    HarnessCore.oracles ++ HarnessStream.oracles ++ HarnessLLM.oracles ++
      HarnessIO.oracles ++ Golden.oracles
}
