package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY.md §2.1).
  *
  * The reference ingests two CSVs over HTTP with inferred schemas
  * (tasks/scraper/src/utils/utils.py:5-20), full-replaces Postgres
  * tables (tasks/scraper/src/scraper.py:23-24), reads them back
  * whole-table (tasks/visualization/src/visualization.py:14-21), and
  * flattens a GeoJSON FeatureCollection into a table
  * (visualization.py:23-26).
  *
  * Spark-first re-expression: the HTTP fetch is driver-side staging IO
  * (at 100 TB the data lands on object storage first; an engine that
  * streams HTTP bodies through the driver is a non-starter), then
  * `spark.read` with an EXPLICIT schema — inference at scale costs an
  * extra full pass and is nondeterministic across samples. Sinks write
  * `SaveMode.Overwrite` — the drop-and-recreate semantics of
  * `to_sql(if_exists='replace')`.
  */
object Sources {

  /** CSV read with a pinned schema — the scale-safe form of the
    * reference's `pd.read_csv` (utils.py:18). header=true matches the
    * reference's first-row-is-names behavior. */
  def csvWithSchema(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.option("header", "true").schema(schema).csv(path)

  /** GeoJSON FeatureCollection -> flat table: one row per feature,
    * properties lifted to columns, geometry kept as an opaque JSON
    * string (the reference never computes on it — SURVEY.md §1.1).
    * multiLine=true because a FeatureCollection is one JSON document.
    *
    * Geometry is GENUINELY opaque (round-15 review): the first pass
    * infers only the properties shape, then a second pass re-reads
    * with geometry DECLARED StringType — Spark's JSON reader captures
    * the raw subtree text for a string-declared object field. The
    * previous parse-and-to_json round trip silently corrupted mixed-
    * geometry collections (Point + Polygon coordinates unify to
    * array<string>, re-serializing numbers and rings as quoted
    * strings) — and mixed types are the NORM in real GeoJSON. */
  def geojsonFeatures(s: SparkSession, path: String): DataFrame = {
    val inferred = s.read.option("multiLine", "true").json(path).schema
    val featsType = inferred("features").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    val featStruct = featsType.elementType.asInstanceOf[StructType]
    val opaque = StructType(featStruct.fields.map {
      case f if f.name == "geometry" =>
        f.copy(dataType = org.apache.spark.sql.types.StringType)
      case f => f
    })
    val schema = StructType(Seq(org.apache.spark.sql.types.StructField(
      "features", featsType.copy(elementType = opaque))))
    s.read.option("multiLine", "true").schema(schema).json(path)
      .select(explode(col("features")).as("f"))
      .select(col("f.properties.*"), col("f.geometry").as("geometry"))
  }

  /** Full-replace parquet sink — the harness analog of
    * `to_sql(if_exists='replace')` (scraper.py:23-24). Overwrite is
    * atomic per-table via the commit protocol; at scale add
    * `.partitionBy(dateCol)` so readers prune. */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Date-partitioned overwrite: the 100 TB layout. Writing a fact
    * table partitioned by a low-cardinality date derivative (month/day
    * directory per partition) lets every date-ranged query prune
    * partitions at planning time (`PartitionFilters` in the scan, whole
    * directories skipped) instead of reading 100 TB to filter it.
    *
    * The shuffle on the partition columns before the write is the
    * small-file discipline: without it every upstream task holding rows
    * for a directory emits its own file there (up to
    * shuffle.partitions files per directory); with it each directory's
    * rows are co-located in one task → one well-sized file, and the
    * write cost stops depending on how the upstream plan happened to
    * partition. At 100 TB a single hot partition would make that one
    * task huge — there, add a spread key (`repartition(col(p), spread)`)
    * or the layout tier's compaction pass; for harness-scale facts the
    * 1-file-per-directory form is the reproducible, prune-friendly one. */
  def overwriteParquetPartitioned(df: DataFrame, path: String,
                                  partitionCols: Seq[String]): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Full-replace JDBC sink — the literal reference semantics
    * (scraper.py:23-24 `to_sql(if_exists='replace')`). Exercised by the
    * harness against embedded Derby (the only DB in the container); the
    * production path is the same call with a Postgres URL. */
  def overwriteJdbc(df: DataFrame, url: String, table: String,
                    props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)

  /** In-process Derby URL under `dir` (created on first connect).
    * Derby's engine lives in the session JVM — the same wire-free shape
    * a unit-testable Postgres swap needs; `derby.system.home` keeps its
    * derby.log out of the repo. */
  def embeddedDerbyUrl(dir: String): String = {
    // absolute path (round-15 review): Derby resolves RELATIVE
    // database paths against derby.system.home — a relative dir would
    // nest the DB at dir/dir/graft_db, and the first-call-wins
    // property would pin later relative dirs under the first one
    val abs = java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
    java.nio.file.Files.createDirectories(abs)
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", abs.toString)
    // territory pinned explicitly (round 16): Derby derives a NEW
    // database's territory from the JVM default locale, and a default
    // with an empty language code — Locale.ROOT, which r15's Bench
    // pinned JVM-globally — fails creation with `ERROR XBM0X:
    // Supplied locale description '' is invalid`. The attribute only
    // applies at create time and is ignored on boot, so the URL is
    // locale-proof under ANY host default.
    s"jdbc:derby:$abs/graft_db;create=true;territory=en_US"
  }

  /** Whole-table JDBC scan (visualization.py:14-21). For big tables
    * pass partitioning bounds so the read parallelizes instead of
    * flowing through one connection. */
  def jdbcTable(s: SparkSession, url: String, table: String,
                partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = s.read.format("jdbc").option("url", url).option("dbtable", table)
    partitionColumn.fold(base) { case (c, lo, hi, n) =>
      base.option("partitionColumn", c).option("lowerBound", lo)
        .option("upperBound", hi).option("numPartitions", n)
    }.load()
  }

  /** Catalog existence check guarding first-load
    * (visualization.py:64-73). */
  def tableExists(s: SparkSession, name: String): Boolean =
    s.catalog.tableExists(name)
}
