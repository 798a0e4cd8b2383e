package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sources
import graft.ops.Aggregates

/** Harness keys for sources/sinks (SURVEY.md §2.1). Each key
  * round-trips driver testdata through the source/sink under test and
  * is oracled against the original parquet table, so the check proves
  * the IO path is lossless, not just non-empty.
  *
  * Staging side-effects write only under /tmp/graft_stage.
  */
object HarnessIO {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val stage = "/tmp/graft_stage"

  /** Per-process Derby db dir (embedded Derby allows ONE booting JVM
    * per database), removed on JVM exit so repeated harness runs do not
    * accumulate orphaned databases under /tmp. */
  private lazy val derbyDir = {
    val d = s"$stage/derby_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))
    d
  }

  /** Per-process parent for the streaming-sink checkpoint dirs
    * (`stream_pg_sink` needs a FRESH checkpoint per invocation so
    * bench reruns append exactly once each), removed on JVM exit like
    * [[derbyDir]] — the per-run `pg_stream_ck_<nanotime>` dirs
    * previously landed directly under the stage root and accumulated
    * without bound (70+ after the r15 cycles, VERDICT r15 #5). */
  private lazy val streamCkDir = {
    val d = s"$stage/stream_ck_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))
    d
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CSV with explicit schema (ref utils.py:18): parquet -> staged CSV
    // -> csvWithSchema -> compare against the parquet original.
    "src_csv_schema" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/customer_csv"
      t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
        .write.mode("overwrite").option("header", "true").csv(out)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      Sources.csvWithSchema(s, out, schema).orderBy($"c_custkey")
    }),

    // GeoJSON FeatureCollection flatten (ref visualization.py:23-26):
    // build a FeatureCollection from `nation` (driver-side staging, 25
    // features), read multiLine, explode features, lift properties,
    // keep geometry as opaque JSON.
    "src_geojson" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "nation")
        .select($"n_nationkey", $"n_name", $"n_regionkey")
        .orderBy($"n_nationkey").collect()
      val features = rows.map { r =>
        val (k, nm, rk) = (r.getInt(0), r.getString(1), r.getInt(2))
        s"""{"type":"Feature","properties":{"code":$k,"nom":"$nm","region":$rk},""" +
          s""""geometry":{"type":"Point","coordinates":[$k,0]}}"""
      }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
      Files.createDirectories(Paths.get(stage))
      Files.writeString(Paths.get(s"$stage/nations.geojson"), features)
      Sources.geojsonFeatures(s, s"$stage/nations.geojson")
        .select($"code", $"nom", $"region")
        .orderBy($"code")
    }),

    // Overwrite sink (ref scraper.py:23-24 to_sql if_exists='replace'):
    // write a stale aggregate, overwrite it with the real one, read
    // back — proves replace (not append) semantics.
    "sink_overwrite" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/agg_overwrite"
      val real = Aggregates.countByKey(t(s, dir, "orders"), Seq($"o_orderpriority"), "n")
      Sources.overwriteParquet(real.limit(1), out)          // stale write
      Sources.overwriteParquet(real, out)                   // replace
      s.read.parquet(out).orderBy($"o_orderpriority")
    }),

    // JSON-lines round-trip: parquet -> JSONL -> schema-pinned read.
    // Schema is pinned on read (inference on JSON is a full extra pass
    // and type-lossy: longs vs doubles).
    "src_jsonl" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/orders_jsonl"
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      s.read.schema(schema).json(out).orderBy($"o_orderkey")
    }),

    // ORC round-trip: the other columnar format Spark ships natively —
    // typed, splittable, predicate-pushdown-capable like parquet.
    "sink_orc" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/lineitem_orc"
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy($"l_orderkey", $"l_linenumber")
    }),

    // Avro round-trip through the in-engine source/sink (round 12 —
    // /opt/spark/jars has the core avro lib but not spark-avro, so
    // graft.io.AvroSource/Avro.write close the interchange-format gap
    // natively): executor-side distributed write, full-schema read
    // back. Timestamps convert to dates only for the oracle compare
    // (the to_date discipline every date-carrying key uses); the avro
    // file itself round-trips the timestamp-micros value exactly.
    "sink_avro" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/orders_avro"
      // snappy (optimization round 21, guide §6): measured 2.1x faster
      // encode than the deflate-6 default at the same read speed, still
      // 2.2x compressed — the standard hot-lake avro codec; deflate
      // stays the write() default (JDK-only portability). Values are
      // codec-independent; the oracle pins the round-trip.
      graft.io.Avro.write(t(s, dir, "orders"), out, codec = "snappy")
      s.read.format("graft_avro").load(out)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
          to_date($"o_orderdate").as("order_date"), $"o_orderpriority")
        .orderBy($"o_orderkey")
    }),

    // Avro SCAN path under stress: sync-marker byte-range splits (the
    // splittability a 100 TB avro lake depends on — no per-file task
    // skew) + projection pushdown, including NESTED pruning (round
    // 13): the written file carries a nested pricing record (3
    // subfields, one itself a record) and a string-keyed map — the
    // shapes real Avro lakes are full of — and the read touches ONE
    // nested subfield plus one map key, so the reader schema keeps
    // pricing=struct<price> only (disc/inner skipped at the decoder,
    // AvroSpec pins the shape) while the flat output stays
    // hash-oracled against the parquet original.
    "src_avro" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/lineitem_avro"
      // snappy for the stress-scan staging too (optimization round 21):
      // the timed key is write + splittable read, and deflate-6 encode
      // was 2.9s of the key's ~3.4s wall (measured; snappy 1.4s)
      graft.io.Avro.write(t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag",
          $"l_shipdate",
          struct($"l_extendedprice".as("price"), $"l_discount".as("disc"),
            struct($"l_tax".as("tax")).as("inner")).as("pricing"),
          map(lit("rf"), $"l_returnflag", lit("ls"), $"l_linestatus").as("tags")),
        out, codec = "snappy")
      s.read.format("graft_avro").option("splitBytes", 256 * 1024).load(out)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          to_date($"l_shipdate").as("ship_date"),
          $"pricing.price".as("price"),
          element_at($"tags", "ls").as("tag_ls"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // Avro MIXED-GENERATION directory (round 15 — the lake-scale
    // norm the schema-evolution work serves, oracled end-to-end, not
    // just spec-covered): generation A writes (o_orderkey,
    // o_custkey AS INT) for even orderkeys; generation B writes
    // (o_orderkey, o_custkey AS LONG, o_orderpriority) for odd ones —
    // engine-written nullable columns carry a null default, so the
    // files themselves declare the evolution. One directory holds
    // both; the dataset-schema election merges to (orderkey,
    // custkey LONG, priority), generation A decodes custkey through
    // Avro's int->long promotion (the reader leaf is PROMOTED, no
    // converter cast), and A's rows back-fill priority = NULL. The
    // stage moves are driver-side renames of a handful of part
    // files — never data.
    "src_avro_evolution" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/orders_avro_evo"
      val tmpA = s"$stage/orders_avro_evo_genA"
      val tmpB = s"$stage/orders_avro_evo_genB"
      val orders = t(s, dir, "orders")
      graft.io.Avro.write(orders.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey".cast("int").as("o_custkey")), tmpA,
        codec = "snappy")
      graft.io.Avro.write(orders.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority"), tmpB,
        codec = "snappy")
      val conf = s.sessionState.newHadoopConf()
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(conf)
      fs.delete(outPath, true)
      fs.mkdirs(outPath)
      for ((src, tag) <- Seq(tmpA -> "a", tmpB -> "b")) {
        for (st <- fs.listStatus(new org.apache.hadoop.fs.Path(src))
             if st.getPath.getName.endsWith(".avro")) {
          val dest = new org.apache.hadoop.fs.Path(outPath,
            s"gen-$tag-${st.getPath.getName}")
          require(fs.rename(st.getPath, dest),
            s"src_avro_evolution: staging rename ${st.getPath} -> $dest failed")
        }
        fs.delete(new org.apache.hadoop.fs.Path(src), true)
      }
      s.read.format("graft_avro").load(out)
        .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        .orderBy($"o_orderkey")
    }),

    // JDBC round-trip against embedded Derby (ref scraper.py:20-24
    // writes Postgres, visualization.py:14-21 reads it back): stale
    // write, full replace, then a PARTITIONED read (4 range-split
    // connections on c_custkey — the parallel-scan shape a big table
    // needs; rows outside the bounds still land in the edge partitions,
    // so the read is lossless at any sf).
    "src_jdbc_table" -> ((s, dir) => {
      import s.implicits._
      val url = Sources.embeddedDerbyUrl(derbyDir)
      val cust = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      Sources.overwriteJdbc(cust.limit(1), url, "graft_customer")  // stale write
      Sources.overwriteJdbc(cust, url, "graft_customer")           // replace
      Sources.jdbcTable(s, url, "graft_customer",
        partitionColumn = Some(("c_custkey", 1L, 200000L, 4)))
        .orderBy($"c_custkey")
    }),

    // LIVE Postgres round-trip over the in-engine v3 wire client
    // (round 14 — the container ships the server binaries but no JDBC
    // driver jar, so graft.io.PgWireClient speaks the documented
    // frontend/backend protocol directly): the reference's ACTUAL
    // database (scraper.py:23-24 writes via to_sql 'replace',
    // visualization.py:14-21 reads back). Stale write + replace prove
    // drop-and-recreate semantics; the read streams through 4
    // range-split wire connections (the src_jdbc_table shape, now
    // against a real postgres server the engine manages under /tmp).
    "src_pg_table" -> ((s, dir) => {
      import s.implicits._
      val conn = graft.io.Postgres.ensureLocalServer(s"$stage/pgserver")
      val cust = t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      graft.io.Postgres.overwriteTable(cust.limit(1), conn, "graft_customer")
      graft.io.Postgres.overwriteTable(cust, conn, "graft_customer")
      graft.io.Postgres.readTable(s, conn, "graft_customer",
        partitionColumn = Some(("c_custkey", 1L, 200000L, 4)))
        .orderBy($"c_custkey")
    }),

    // The literal sink_jdbc_replace dataflow against live Postgres:
    // write a stale aggregate, full-replace it (COPY FROM STDIN per
    // partition — the bulk path, not per-row INSERTs), read back.
    "sink_pg_replace" -> ((s, dir) => {
      import s.implicits._
      val conn = graft.io.Postgres.ensureLocalServer(s"$stage/pgserver")
      val real = Aggregates.countByKey(t(s, dir, "orders"), Seq($"o_orderpriority"), "n")
      graft.io.Postgres.overwriteTable(real.limit(1), conn, "graft_agg") // stale
      graft.io.Postgres.overwriteTable(real, conn, "graft_agg")          // replace
      graft.io.Postgres.readTable(s, conn, "graft_agg").orderBy($"o_orderpriority")
    }),

    // The DSv2 WRITE surface (round 15): df.write.format("graft_pg")
    // with mode overwrite THEN append — the staged-commit protocol
    // mapped onto Spark's own BatchWrite contract (per-partition stage
    // tables, message-listed publish, per-table lock across the job).
    // The overwrite lands a low-priority slice, the append the rest;
    // the read-back must equal the full aggregate computed from
    // parquet — proving both modes compose value-exactly.
    "sink_pg_dsv2" -> ((s, dir) => {
      import s.implicits._
      val conn = graft.io.Postgres.ensureLocalServer(s"$stage/pgserver")
      val agg = Aggregates.countByKey(t(s, dir, "orders"), Seq($"o_orderpriority"), "n")
      def w(df: org.apache.spark.sql.DataFrame, mode: String) =
        df.write.format("graft_pg").option("port", conn.port.toString)
          .option("dbtable", "graft_agg_dsv2").mode(mode).save()
      w(agg.limit(1), "overwrite")                              // stale
      w(agg.filter($"o_orderpriority" < "3"), "overwrite")      // replace
      w(agg.filter(!($"o_orderpriority" < "3")), "append")      // rest
      graft.io.Postgres.readTable(s, conn, "graft_agg_dsv2")
        .orderBy($"o_orderpriority")
    }),

    // The STREAMING PG sink (round 15): orders stream through
    // writeStream.format("graft_pg") into a live table — per-epoch
    // exactly-once appends via the query-scoped high-water-mark
    // ledger (PgStreamingWrite) — and the read-back aggregate must
    // equal the parquet-side oracle. Target + checkpoint reset per
    // invocation so bench reruns append exactly once each.
    "stream_pg_sink" -> ((s, dir) => {
      import s.implicits._
      val conn = graft.io.Postgres.ensureLocalServer(s"$stage/pgserver")
      val ck = s"$streamCkDir/pg_stream_ck_${System.nanoTime()}"
      val admin = new graft.io.PgWireClient(conn.host, conn.port, conn.user,
        conn.database)
      try admin.exec("DROP TABLE IF EXISTS graft_stream_orders")
      finally admin.close()
      val orders = t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority")
      val stream = s.readStream.schema(orders.schema)
        .option("pathGlobFilter", "orders.parquet").parquet(dir)
        .select($"o_orderkey", $"o_orderpriority")
      val q = stream.writeStream.format("graft_pg")
        .option("port", conn.port.toString)
        .option("dbtable", "graft_stream_orders")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Aggregates.countByKey(
        graft.io.Postgres.readTable(s, conn, "graft_stream_orders"),
        Seq($"o_orderpriority"), "n")
        .orderBy($"o_orderpriority")
    }),

    // Partitioned parquet layout: write date-partitioned, read back a
    // single partition — the layout that turns a date-ranged query on
    // a 100 TB table into a directory prune (PlanSpec asserts the
    // PartitionFilters); the oracle recomputes the filter from the
    // unpartitioned original, so the round-trip is proven lossless.
    "sink_partitioned" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/lineitem_by_year"
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          year(to_date($"l_shipdate")).as("ship_year"))
      Sources.overwriteParquetPartitioned(li, out, Seq("ship_year"))
      s.read.parquet(out).filter($"ship_year" === 1996)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // binaryFile source — the multimodal ingest shape (a directory of
    // image/audio blobs at production). Stage one .bin per doc
    // (driver-side staging, same pattern as src_geojson), ingest via
    // `format("binaryFile")`, and prove content fidelity against the
    // parquet original via byte length + md5.
    "src_binary_files" -> ((s, dir) => {
      import s.implicits._
      val out = new java.io.File(s"$stage/bin")
      org.apache.commons.io.FileUtils.deleteQuietly(out)
      out.mkdirs()
      t(s, dir, "documents").filter($"doc_id" < 100)
        .select($"doc_id", $"text").collect().foreach { r =>
          Files.write(Paths.get(f"$stage/bin/doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      // directory + pathGlobFilter, not a glob PATH (round 19): Spark's
      // FileStreamSink.hasMetadata stats the load path literally during
      // analysis, so a glob path plants a caught-but-logged
      // FileNotFoundException stack trace in every driver run
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(s"$stage/bin")
        .select(
          regexp_extract($"path", "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          $"length".as("n_bytes"),
          md5($"content").as("chk"))
        .orderBy($"doc_id")
    }),

    // Data-quality audit — the constraint-validation step a pipeline
    // runs before publishing (referential integrity, null rate,
    // primary-key uniqueness), as one (metric, value) relation. Each
    // check is an aggregate the optimizer can evaluate independently;
    // an orphan key is planted so the FK check is observably non-zero.
    "meta_quality_audit" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val keys = li.select($"l_orderkey")
        .unionByName(Seq(-1L).toDF("l_orderkey"))
      val orphans = keys.join(o.select($"o_orderkey"),
          keys("l_orderkey") === $"o_orderkey", "leftanti")
        .agg(count(lit(1)).as("value"))
        .select(lit("lineitem_orphan_orders").as("metric"), $"value")
      val nullBal = c.agg(count(when($"c_acctbal".isNull, 1)).as("value"))
        .select(lit("customer_null_acctbal").as("metric"), $"value")
      val dupPk = o.groupBy($"o_orderkey").agg(count(lit(1)).as("n"))
        .filter($"n" > 1)
        .agg(count(lit(1)).as("value"))
        .select(lit("orders_dup_pk").as("metric"), $"value")
      orphans.unionByName(nullBal).unionByName(dupPk).orderBy($"metric")
    }),

    // In-engine HTTP CSV ingest (ref utils.py:5-20 requests.get →
    // pd.read_csv — there a driver-side download; here a partitioned
    // DataSourceV2 scan): stage customer as one CSV file, serve it from
    // a loopback Range-capable server, read it back through
    // format("graft_http") with 4 byte-range splits. The oracle against
    // the parquet original proves the ranged, line-split read is
    // lossless regardless of where the byte boundaries fall.
    "src_http_csv" -> ((s, dir) => {
      import s.implicits._
      val srvDir = Paths.get(s"$stage/http")
      Files.createDirectories(srvDir)
      val tmp = s"$stage/customer_http_csv"
      t(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
        .coalesce(1)
        .write.mode("overwrite").option("header", "true")
        // RFC-4180 doubled quotes: HttpLines.splitCsv understands "" —
        // Spark's default backslash escape would corrupt quoted fields
        .option("escape", "\"")
        .csv(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .getOrElse(sys.error(s"no CSV part file under $tmp"))
      Files.copy(part.toPath, srvDir.resolve("customer.csv"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.format("graft_http")
        .schema(schema)
        .option("url", httpServer.url("customer.csv"))
        .option("splits", "4")
        .load()
        .orderBy($"c_custkey")
    }),

    // Bucketed co-located join (io/Bucketing.scala, SURVEY §4.2): both
    // sides written bucketed+sorted by the join key through the session
    // catalog, then sort-merge-joined with ZERO Exchange on either side
    // (PlanSpec pins the shape) — the layout that makes a recurring
    // big-x-big join over a 100 TB fact table shuffle-free. The oracle
    // is the plain join+agg on the unbucketed originals, proving the
    // bucketed layout changes the plan, not the answer.
    "join_bucketed" -> ((s, dir) => joinBucketed(s, dir)),

    // Z-order clustered layout (io/Layout.scala, SURVEY §4.2): lineitem
    // rewritten with (l_partkey, l_suppkey) bit-interleaved into the
    // file sort key, so file-level min/max stats prune box predicates
    // on EITHER column — the multi-column answer where a plain sort
    // clusters only one. Pure layout: the read-back must be multiset-
    // identical to the original projection (the oracle); the pruning
    // factor itself is pinned in ScaleSpec.
    "sink_zorder" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/zorder_lineitem"
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      graft.io.Layout.writeZOrdered(li, Seq("l_partkey", "l_suppkey"), out,
        numFiles = 16)
      s.read.parquet(out).orderBy($"l_orderkey", $"l_linenumber")
    }),

    // The skew-robust z-order variant: ranks from quantile breaks (GK
    // sketch pass) instead of min/max scaling, so outlier-dominated
    // ranges still cluster the dense mass (ScaleSpec pins the pruning
    // difference). Same content-neutrality oracle.
    "sink_zorder_quantile" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/zorderq_lineitem"
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_quantity")
      graft.io.Layout.writeZOrderedQuantile(li,
        Seq("l_extendedprice", "l_quantity"), out, numFiles = 16)
      s.read.parquet(out).orderBy($"l_orderkey", $"l_linenumber")
    }),

    // Small-file compaction (io/Layout.compact): stage lineitem
    // shattered into 64 tiny files (the long-appended-table problem),
    // bin-pack to size-targeted files with a narrow coalesce + dir
    // swap, read back. Pure maintenance: row content identical (the
    // oracle); the file-count collapse is pinned in ScaleSpec.
    "sink_compact" -> ((s, dir) => {
      import s.implicits._
      val frag = s"$stage/compact_lineitem"
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        // deterministic hash fragmentation (round 21): keyless
        // repartition(64) paid a full local sort of the stage input
        // (sortBeforeRepartition, guide §2.5) just to scatter rows
        // into the 64-tiny-file scenario; a hash repartition scatters
        // without the sort and stays deterministic under retry
        .repartition(64, $"l_orderkey", $"l_linenumber")
        .write.mode("overwrite").parquet(frag)
      graft.io.Layout.compact(s, frag, targetFileBytes = 64L << 20)
      s.read.parquet(frag).orderBy($"l_orderkey", $"l_linenumber")
    }),

    // The composed maintenance pass: a z-ordered table fragmented into
    // 64 append-sized files is compacted THROUGH the z-write
    // (Layout.compactZOrdered), so bin-packing and clustering land in
    // one rewrite — plain compact()'s narrow coalesce would merge
    // arbitrary partitions and blow up every file's min/max box.
    // Read-back row identity is the oracle; ScaleSpec pins that
    // pruning still holds after the pass.
    "sink_compact_zorder" -> ((s, dir) => {
      import s.implicits._
      val out = s"$stage/compactz_lineitem"
      val li = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      // hash fragmentation, not keyless round-robin — the sink_compact
      // note: same 64-tiny-file scenario without the sort-before-
      // repartition pass
      li.repartition(64, $"l_orderkey", $"l_linenumber")
        .write.mode("overwrite").parquet(out)
      graft.io.Layout.compactZOrdered(s, out, Seq("l_partkey", "l_suppkey"),
        targetFileBytes = 256L << 10)
      s.read.parquet(out).orderBy($"l_orderkey", $"l_linenumber")
    }),

    // Catalog existence check (ref visualization.py:64-73).
    "meta_table_exists" -> ((s, dir) => {
      t(s, dir, "region").createOrReplaceTempView("graft_region_view")
      val a = Sources.tableExists(s, "graft_region_view")
      val b = Sources.tableExists(s, "graft_no_such_table")
      import s.implicits._
      Seq((a, b)).toDF("exists_registered", "exists_missing")
    }),
  )

  /** Loopback Range-capable server over the staged HTTP fixture dir;
    * created once per JVM (the scan re-fetches lazily at execution
    * time, so the server must outlive the query lambda), stopped by a
    * shutdown hook. */
  private lazy val httpServer = {
    Files.createDirectories(Paths.get(s"$stage/http"))
    val srv = new graft.io.RangeFileServer(Paths.get(s"$stage/http"))
    Runtime.getRuntime.addShutdownHook(new Thread(() => srv.stop()))
    srv
  }

  /** Bucketed-layout build, once per (session, dir) — writing the
    * layout is an INGEST-time step (at production the fact table is
    * bucketed when it lands, then every recurring join reuses it), so
    * the memo is the in-session analog and the timed query path
    * measures the join, not the write. Table names carry a dir hash so
    * different scale factors never alias. `Bench` prebuilds untimed
    * and reports the cost as its own metric. */
  private val bucketedCache = new SessionCache[(String, String)]

  def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    bucketedCache(s, dir) {
      import s.implicits._
      val h = java.lang.Integer.toHexString(dir.hashCode)
      val (ot, lt) = (s"graft_stage.orders_b_$h", s"graft_stage.lineitem_b_$h")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_stage LOCATION '$stage/warehouse'")
      Seq(ot, lt).foreach { tbl =>
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$stage/warehouse/${tbl.split('.').last}"))
      }
      graft.io.Bucketing.writeBucketed(
        t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority"),
        ot, "o_orderkey", 8, Some("o_orderkey"))
      graft.io.Bucketing.writeBucketed(
        t(s, dir, "lineitem").select($"l_orderkey", $"l_extendedprice", $"l_discount"),
        lt, "l_orderkey", 8, Some("l_orderkey"))
      (ot, lt)
    }

  /** Body of `join_bucketed` (named so PlanSpec can pin its shape):
    * revenue per order priority over bucketed orders ⋈ lineitem. The
    * merge hint makes the co-located SMJ explicit (independent of the
    * broadcast threshold at the driver's session defaults). */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ot, lt) = bucketedTablesFor(s, dir)
    s.table(ot).hint("merge")
      .join(s.table(lt).hint("merge"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(
        Aggregates.sumExact($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  val oracles: Map[String, String] = Map(
    // a layout rewrite must not touch row content
    "sink_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "sink_compact" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "sink_compact_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "sink_zorder_quantile" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "src_http_csv" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY 1""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_binary_files" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS chk
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "sink_partitioned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE year(CAST(l_shipdate AS DATE)) = 1996
        |ORDER BY 1, 2""".stripMargin,
    "meta_quality_audit" ->
      """SELECT 'lineitem_orphan_orders' AS metric, count(*) AS value
        |FROM (SELECT l_orderkey FROM lineitem UNION ALL SELECT -1) l
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey IS NULL
        |UNION ALL
        |SELECT 'customer_null_acctbal', count(*) FROM customer WHERE c_acctbal IS NULL
        |UNION ALL
        |SELECT 'orders_dup_pk', count(*) FROM (
        | SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1) AS d
        |ORDER BY 1""".stripMargin,
    "src_csv_schema" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY 1""".stripMargin,
    "src_geojson" ->
      """SELECT n_nationkey AS code, n_name AS nom, n_regionkey AS region
        |FROM nation ORDER BY 1""".stripMargin,
    "sink_overwrite" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "src_jsonl" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY 1""".stripMargin,
    "sink_orc" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "sink_avro" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM orders ORDER BY 1""".stripMargin,
    "src_avro" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       l_extendedprice AS price, l_linestatus AS tag_ls
        |FROM lineitem ORDER BY 1, 2""".stripMargin,
    "src_avro_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |            ELSE o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY 1""".stripMargin,
    "src_jdbc_table" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY 1""".stripMargin,
    "src_pg_table" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY 1""".stripMargin,
    "sink_pg_replace" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "sink_pg_dsv2" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "stream_pg_sink" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    "meta_table_exists" ->
      "SELECT true AS exists_registered, false AS exists_missing",
  )
}
