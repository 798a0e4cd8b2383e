package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Date, Timestamp}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.queries.RefPipeline

/** The live-Postgres path over the hand-rolled v3 wire client: a REAL
  * `postgres` server (the container ships the binaries; the engine
  * manages initdb/start under /tmp) — not a protocol mock — so these
  * pins cover the actual byte-level contract: startup + trust auth,
  * binary COPY FROM STDIN, binary decode per OID (checked against the
  * server's text rendering, [[PgWireSpec.textRows]]), range
  * partitioning losslessness, pushdown, and server-error surfacing. */
class PgWireSpec extends AnyFunSuite with SparkTestBase {

  private lazy val conn = TestPg.conn

  // orphaned stage tables from earlier processes drop before any case runs
  override protected def beforeAll(): Unit = { super.beforeAll(); conn; () }

  test("overwriteTable + read back round-trips every supported type, nulls, and COPY metacharacters") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("dt", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = true)))
    val rows = Seq(
      Row(1L, 42, 1.5f, 2.25, true, "plain", Date.valueOf("2026-08-14"),
        Timestamp.valueOf("2026-08-14 12:34:56.123456")),
      // COPY text metacharacters: tab, newline, CR, backslash, quote
      Row(2L, -7, -0.5f, -3.5, false, "tab\there\nnewline\rcr\\slash'q",
        Date.valueOf("1969-12-31"), Timestamp.valueOf("1970-01-01 00:00:00.0")),
      // NULL in every nullable slot
      Row(3L, null, null, null, null, null, null, null),
      // fraction-less timestamp + empty string (distinct from NULL)
      Row(4L, 0, 0f, 0d, true, "", Date.valueOf("2000-02-29"),
        Timestamp.valueOf("2000-02-29 23:00:00")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val want = df.collect().map(r => r.toSeq.toList).toSet
    // binary COPY in; the binary read AND the server's text rendering
    // out — the text decode must parse the metacharacters back exactly
    // as the binary one does
    Postgres.overwriteTable(df, conn, "graft_types")
    val back = spark.read.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_types").load()
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    for ((rfmt, rows) <- Seq("binary" -> back.collect().toSeq,
        "text" -> PgWireSpec.textRows(conn, "graft_types", back.schema))) {
      val got = rows.map(r => r.toSeq.toList).toSet
      assert(got === want, s"read=$rfmt got $got")
    }
  }

  test("replace semantics: a second overwrite fully drops the first table (scraper.py to_sql 'replace')") {
    import spark.implicits._
    val stale = Seq((1L, "stale"), (2L, "rows"), (3L, "extra")).toDF("k", "v")
    Postgres.overwriteTable(stale, conn, "graft_replace")
    val real = Seq((10L, "real")).toDF("k", "v")
    Postgres.overwriteTable(real, conn, "graft_replace")
    val back = Postgres.readTable(spark, conn, "graft_replace").collect()
    assert(back.map(_.toString).toSeq === Seq("[10,real]"),
      "overwrite must REPLACE (drop-and-recreate), not append")
  }

  test("prepData over graft_pg reads rebuilds after a re-scrape: the new decree reaches the count and Q1") {
    import spark.implicits._
    val zones = Seq((1L, "Zone Ardèche Nord", "07", "Ardèche", 100.0, "SUP"),
      (2L, "Zone Ajaccio", "2A", "Corse-du-Sud", 200.0, "SUP"))
      .toDF("id_zone", "nom_zone", "code_departement", "nom_departement",
        "surface_zone", "type_zone")
    def arretes(rows: (Long, String, String, Int, String, String)*) =
      rows.toDF("id_zone", "debut_validite_arrete", "fin_validite_arrete",
        "numero_niveau", "nom_niveau", "statut_arrete")
    def prep() = RefPipeline.prepData(
      Postgres.readTable(spark, conn, "graft_ref_zones"),
      Postgres.readTable(spark, conn, "graft_ref_arretes"))
    def q1(prepped: DataFrame) =
      RefPipeline.q1NbDepPerAlert(prepped, lit(Date.valueOf("2023-08-12")))
        .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    // Q4's restricted days per severity (both zones are SUP)
    def q4(prepped: DataFrame) =
      RefPipeline.q4SurfacePerDay(prepped).collect().toSeq
        .groupBy(_.getAs[Int]("numero_niveau")).map { case (l, rs) => l -> rs.size }
    val first = (1L, "2023-08-01", "2023-08-31", 2, "alerte", "actif")
    Postgres.overwriteTable(zones, conn, "graft_ref_zones")
    Postgres.overwriteTable(arretes(first), conn, "graft_ref_arretes")
    val before = prep()
    assert(before.count() === 1L)
    assert(q1(before) === Seq((2, 1L)))
    assert(q4(before) === Map(2 -> 31))
    // the re-scrape adds one decree valid at the query date, in the other department
    Postgres.overwriteTable(
      arretes(first, (2L, "2023-08-10", "2023-08-20", 4, "crise", "actif")),
      conn, "graft_ref_arretes")
    val after = prep()
    assert(after.count() === 2L, "a second prepData must rebuild from the current table")
    assert(q1(after) === Seq((4, 1L), (2, 1L)))
    assert(q4(after) === Map(2 -> 31, 4 -> 11), "Q4's cached summary must rebuild too")
    // the reference's scraper writes from its own process, so Spark's
    // write-side cache refresh never sees it: only prepData's rebuild does
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try c.exec("INSERT INTO graft_ref_arretes VALUES " +
      "(2, '2023-08-11', '2023-08-13', 3, 'alerte renforcée', 'actif')")
    finally c.close()
    val external = prep()
    assert(external.count() === 3L, "prepData must rebuild after an out-of-Spark write")
    assert(q1(external) === Seq((4, 1L), (2, 1L)))
    assert(q4(external) === Map(2 -> 31, 4 -> 11, 3 -> 3))
    RefPipeline.release(external)
  }

  test("staged commit publishes atomically: empty partitions stage fine, no stage tables survive") {
    import spark.implicits._
    // 3 rows over 8 partitions -> at least 5 EMPTY partitions must
    // stage and publish without error
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")), 8),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    Postgres.overwriteTable(df, conn, "graft_staged")
    assert(Postgres.readTable(spark, conn, "graft_staged").count() === 3L)
    // the publish transaction must have dropped every stage table
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val r = c.query("SELECT tablename FROM pg_tables " +
        "WHERE tablename LIKE 'graft\\_stage\\_%' ESCAPE '\\'")
      assert(r.nextRow() == null, "no staging tables may outlive the publish")
    } finally c.close()
  }

  test("table names near Postgres' 63-byte identifier limit stage without silent truncation collapse") {
    import spark.implicits._
    // a raw "<table>__stage_<i>" scheme would truncate at 63 bytes and
    // collapse every partition's stage into ONE table (last committer
    // wins, all other partitions silently lost); the digest-bounded
    // stage prefix keeps names short regardless of the target's length
    val longName = "graft_" + ("x" * 54) // 60 chars, stages would all truncate
    val df = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8)
    Postgres.overwriteTable(df, conn, longName)
    val back = Postgres.readTable(spark, conn, longName)
    assert(back.count() === 64L, "every partition's rows must survive")
    assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq === (1L to 64L))
  }

  test("a failed write job leaves the previous table fully intact (publish is transactional)") {
    import spark.implicits._
    val v1 = Seq((1L, "keep"), (2L, "me")).toDF("k", "v")
    Postgres.overwriteTable(v1, conn, "graft_atomic")
    // the bomb partition fails only after the other partition has
    // committed its stage, so the failed run leaves a stage to clean up
    val bomb = udf((k: Long) => {
      if (k == 3L) { Thread.sleep(1000); throw new RuntimeException("boom mid-job") }
      "x"
    })
    val v2 = spark.sparkContext.parallelize(Seq(3L, 4L), 2).toDF("k")
      .withColumn("v", bomb($"k"))
    intercept[Exception] { Postgres.overwriteTable(v2, conn, "graft_atomic") }
    // the old table is untouched: target DDL runs inside the publish
    // transaction, which a failed staging job never reaches
    assert(Postgres.readTable(spark, conn, "graft_atomic").collect()
      .map(_.toString).sorted.toSeq === Seq("[1,keep]", "[2,me]"))
    // the failed run's abort already dropped its committed stages
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try assert(Postgres.listStagesOf(c, Postgres.stagePrefixFor("graft_atomic")).isEmpty,
      "a failed overwrite must drop its committed stages")
    finally c.close()
    // and the failed run released the table lock: the next overwrite lands
    val v3 = Seq((9L, "new")).toDF("k", "v")
    Postgres.overwriteTable(v3, conn, "graft_atomic")
    assert(Postgres.readTable(spark, conn, "graft_atomic").collect()
      .map(_.toString).toSeq === Seq("[9,new]"))
  }

  test("range-partitioned read is lossless: edge partitions open-ended, NULL keys kept, slices disjoint") {
    import spark.implicits._
    // keys far outside the declared bounds on both sides, plus a NULL
    val df = ((-50L to -48L) ++ (1L to 100L) ++ (900L to 902L))
      .map(k => (Option(k), s"v$k")).toDF("k", "v")
      .union(Seq((Option.empty[Long], "vnull")).toDF("k", "v"))
    Postgres.overwriteTable(df, conn, "graft_part")
    val back = Postgres.readTable(spark, conn, "graft_part",
      partitionColumn = Some(("k", 1L, 100L, 4)))
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 107L, "every row exactly once across slices")
    assert(back.filter($"k".isNull).count() === 1L)
    // per-partition counts prove the split is real, not one connection
    val sizes = back.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.count(_ > 0) === 4, s"all 4 slices must carry rows: ${sizes.toSeq}")
  }

  test("column pruning reaches the SELECT list and pushed filters the WHERE clause (plan-visible)") {
    import spark.implicits._
    val df = (1L to 200L).map(k => (k, s"name$k", k * 2.5)).toDF("k", "name", "x")
    Postgres.overwriteTable(df, conn, "graft_prune")
    val q = Postgres.readTable(spark, conn, "graft_prune")
      .filter($"k" > 150L && $"name" =!= "name151")
      .select($"k")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(k,150)") &&
      plan.contains("Not(EqualTo(name,name151))"),
      s"both filters must reach the scan as PushedFilters:\n$plan")
    assert(plan.contains("ReadSchema=struct<k:bigint"),
      s"projection must prune to the touched column:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq === (152L to 200L))
  }

  test("unrenderable filter literals are not pushed (stay residual) and queries still succeed") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In}
    // NaN/Infinity print as bare words Postgres would parse as
    // identifiers — litOf must refuse them so the predicate stays
    // residual-only (loss-free: every pushed filter is re-applied)
    assert(PgFilterSql.compile(EqualTo("d", Double.NaN)).isEmpty)
    assert(PgFilterSql.compile(GreaterThan("d", Double.PositiveInfinity)).isEmpty)
    assert(PgFilterSql.compile(In("d", Array[Any](1.0, Double.NaN))).isEmpty)
    assert(PgFilterSql.compile(EqualTo("d", new Object)).isEmpty)
    // renderable shapes still compile
    assert(PgFilterSql.compile(EqualTo("d", 1.5)).contains("\"d\" = 1.5"))
    assert(PgFilterSql.compile(EqualTo("s", "o'x")).contains("\"s\" = 'o''x'"))
    // end-to-end: a NaN comparison on a live table errors nowhere and
    // returns the residual-filtered answer
    import spark.implicits._
    val df = Seq((1L, 1.5), (2L, Double.NaN)).toDF("k", "x")
    Postgres.overwriteTable(df, conn, "graft_nan")
    val got = Postgres.readTable(spark, conn, "graft_nan")
      .filter($"x".isNaN).select($"k").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L))
  }

  test("schema inference reads pg catalog types from RowDescription, no data scan") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_infer")
      c.exec("CREATE TABLE graft_infer (a integer, b bigint, c text, " +
        "d double precision, e boolean, f date, g timestamp, h real, " +
        "i varchar(10), j smallint)")
    } finally c.close()
    val got = spark.read.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_infer")
      .load().schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(got === Seq(("a", IntegerType), ("b", LongType), ("c", StringType),
      ("d", DoubleType), ("e", BooleanType), ("f", DateType),
      ("g", TimestampType), ("h", FloatType), ("i", StringType),
      ("j", IntegerType)))
  }

  test("server errors surface loudly with the server's message; the connection stays usable") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val e = intercept[RuntimeException] { c.exec("SELECT * FROM no_such_table_xyz") }
      assert(e.getMessage.contains("no_such_table_xyz"), e.getMessage)
      // connection drained to ReadyForQuery: next statement works
      c.exec("SELECT 1")
      val e2 = intercept[RuntimeException] {
        val r = c.query("SELECT broken syntax here from")
        r.nextRow()
      }
      assert(e2.getMessage.contains("graft_pg"), e2.getMessage)
      c.exec("SELECT 2")
    } finally c.close()
  }

  test("numeric/timestamptz/bytea/smallint widen the surface: catalog types map and values round-trip") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_widened")
      c.exec("CREATE TABLE graft_widened (a numeric(10,2), b numeric, " +
        "c timestamptz, d bytea, e smallint)")
      c.exec("INSERT INTO graft_widened VALUES " +
        "(12345678.91, 1.5, '2026-08-14 12:34:56.123456+00', '\\x00ff7f80', 7), " +
        "(NULL, NULL, NULL, NULL, NULL)")
    } finally c.close()
    val df = spark.read.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_widened")
      .load()
    assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq === Seq(
      ("a", DecimalType(10, 2)), ("b", DecimalType(38, 18)),
      ("c", TimestampType), ("d", BinaryType), ("e", IntegerType)))
    val rows = df.orderBy(desc("e")).collect()
    assert(rows(0).getDecimal(0).toPlainString === "12345678.91")
    assert(rows(0).getDecimal(1).toPlainString === "1.500000000000000000")
    assert(rows(0).getTimestamp(2) ===
      Timestamp.valueOf("2026-08-14 12:34:56.123456")) // UTC session
    assert(rows(0).getAs[Array[Byte]](3).toSeq ===
      Seq(0x00, 0xff, 0x7f, 0x80).map(_.toByte).toSeq)
    assert(rows(0).getInt(4) === 7)
    assert(rows(1).toSeq.forall(_ == null))
    // write side: decimal / short / byte / binary columns create
    // numeric/smallint/bytea and round-trip exactly
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("dec", DecimalType(12, 4)),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("bin", BinaryType)))
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, new java.math.BigDecimal("8765.4321"), 9.toShort, 3.toByte,
          Array[Byte](1, 0, -1, 127)),
        Row(2L, null, null, null, null)), 2), schema)
    Postgres.overwriteTable(out, conn, "graft_widened_w")
    val back = Postgres.readTable(spark, conn, "graft_widened_w")
    assert(back.schema("dec").dataType === DecimalType(12, 4))
    // smallint reads back as IntegerType (Spark's JDBC convention)
    assert(back.schema("sh").dataType === IntegerType)
    val r1 = back.filter(col("k") === 1L).collect()(0)
    assert(r1.getDecimal(1).toPlainString === "8765.4321")
    assert(r1.getInt(2) === 9 && r1.getInt(3) === 3)
    assert(r1.getAs[Array[Byte]](4).toSeq === Seq[Byte](1, 0, -1, 127).toSeq)
  }

  test("unsupported pg types fail loudly at schema conversion, never silent") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_unsup")
      c.exec("CREATE TABLE graft_unsup (a uuid)")
    } finally c.close()
    val e = intercept[Exception] {
      spark.read.format("graft_pg")
        .option("port", conn.port.toString).option("dbtable", "graft_unsup")
        .load().schema
    }
    assert(e.getMessage.contains("OID"), e.getMessage)
  }

  test("password auth: SCRAM-SHA-256, md5, and cleartext challenges all authenticate; wrong secrets refused") {
    // real-server auth matrix: three roles with distinct verifiers +
    // pg_hba rules forcing each challenge type (first match wins, so
    // the rules are PREPENDED above initdb's trust lines), exercising
    // the full RFC 5802/7677 exchange incl. the server-signature
    // verification, the md5 double-hash, and the cleartext path
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    val dataDir = try {
      admin.exec("DROP ROLE IF EXISTS graft_scram")
      admin.exec("CREATE ROLE graft_scram LOGIN PASSWORD 'sekret1'") // PG15 default: scram-sha-256 verifier
      admin.exec("DROP ROLE IF EXISTS graft_md5")
      admin.exec("SET password_encryption = 'md5'")
      admin.exec("CREATE ROLE graft_md5 LOGIN PASSWORD 'sekret2'")
      admin.exec("RESET password_encryption")
      admin.exec("DROP ROLE IF EXISTS graft_pw")
      admin.exec("CREATE ROLE graft_pw LOGIN PASSWORD 'sekret3'")
      val r = admin.query("SHOW data_directory")
      new String(r.nextRow()(0), "UTF-8")
    } finally admin.close()
    val hba = java.nio.file.Paths.get(dataDir, "pg_hba.conf")
    val orig = java.nio.file.Files.readString(hba)
    val rules =
      "host all graft_scram 127.0.0.1/32 scram-sha-256\n" +
      "host all graft_md5 127.0.0.1/32 md5\n" +
      "host all graft_pw 127.0.0.1/32 password\n"
    if (!orig.startsWith(rules))
      java.nio.file.Files.writeString(hba, rules + orig)
    val admin2 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin2.exec("SELECT pg_reload_conf()") finally admin2.close()
    Thread.sleep(300) // reload is async
    def login(user: String, pass: Option[String]): Unit = {
      val c = new PgWireClient(conn.host, conn.port, user, conn.database, pass)
      try c.exec("SELECT 1") finally c.close()
    }
    login("graft_scram", Some("sekret1"))
    login("graft_md5", Some("sekret2"))
    login("graft_pw", Some("sekret3"))
    // wrong password: the server refuses after the proof/hash check
    for ((u, p) <- Seq(("graft_scram", "wrong"), ("graft_md5", "wrong"))) {
      val e = intercept[RuntimeException] { login(u, Some(p)) }
      assert(e.getMessage.toLowerCase.contains("password") ||
        e.getMessage.contains("authentication"), e.getMessage)
    }
    // missing password: refused CLIENT-side with the option hint
    val e2 = intercept[IllegalArgumentException] { login("graft_scram", None) }
    assert(e2.getMessage.contains("password"), e2.getMessage)
    // the trust path (every other key/test) must be untouched
    login(conn.user, None)
  }

  test("TLS: SSLRequest negotiation encrypts the session; verify-ca validates the server cert; nossl rejected") {
    // real-server TLS matrix: a self-signed cert generated into the
    // data dir, ssl enabled by reload (SIGHUP-settable since PG 10),
    // and pg_hba rules that FORCE a dedicated role through hostssl —
    // so the require path, the verify-ca path (right and wrong root),
    // and the plaintext rejection are all exercised over real sockets
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    val dataDir = try {
      admin.exec("DROP ROLE IF EXISTS graft_ssl")
      admin.exec("CREATE ROLE graft_ssl LOGIN")
      val r = admin.query("SHOW data_directory")
      new String(r.nextRow()(0), "UTF-8")
    } finally admin.close()
    def gen(base: String): Unit = {
      val pb = new ProcessBuilder("openssl", "req", "-new", "-x509", "-days", "2",
        "-nodes", "-subj", "/CN=127.0.0.1",
        "-keyout", s"$dataDir/$base.key", "-out", s"$dataDir/$base.crt")
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File("/dev/null"))
      assume(pb.start().waitFor() == 0, "openssl unavailable — skip TLS matrix")
      for (f <- Seq(s"$base.key", s"$base.crt")) {
        val path = java.nio.file.Paths.get(dataDir, f)
        java.nio.file.Files.setPosixFilePermissions(path,
          java.util.Set.of(java.nio.file.attribute.PosixFilePermission.OWNER_READ,
            java.nio.file.attribute.PosixFilePermission.OWNER_WRITE))
        if (System.getProperty("user.name") == "root")
          java.nio.file.Files.setOwner(path, path.getFileSystem
            .getUserPrincipalLookupService.lookupPrincipalByName("nobody"))
      }
    }
    gen("graft_server") // the server's cert
    gen("graft_other")  // an unrelated root for the negative case
    val hba = java.nio.file.Paths.get(dataDir, "pg_hba.conf")
    val orig = java.nio.file.Files.readString(hba)
    val rules = "hostssl all graft_ssl 127.0.0.1/32 trust\n" +
      "hostnossl all graft_ssl 127.0.0.1/32 reject\n"
    if (!orig.startsWith(rules))
      java.nio.file.Files.writeString(hba, rules + orig)
    val admin2 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      admin2.exec("ALTER SYSTEM SET ssl_cert_file = 'graft_server.crt'")
      admin2.exec("ALTER SYSTEM SET ssl_key_file = 'graft_server.key'")
      admin2.exec("ALTER SYSTEM SET ssl = on")
      admin2.exec("SELECT pg_reload_conf()")
    } finally admin2.close()
    Thread.sleep(300)
    def login(mode: String, root: Option[String]): Unit = {
      val c = new PgWireClient(conn.host, conn.port, "graft_ssl", conn.database,
        sslMode = mode, sslRootCert = root)
      try c.exec("SELECT 1") finally c.close()
    }
    login("require", None)
    login("verify-ca", Some(s"$dataDir/graft_server.crt"))
    // wrong root: the handshake must refuse the server's chain
    val bad = intercept[Exception] {
      login("verify-ca", Some(s"$dataDir/graft_other.crt"))
    }
    assert(bad.isInstanceOf[javax.net.ssl.SSLException] ||
      String.valueOf(bad.getMessage).toLowerCase.contains("cert"), bad.toString)
    // plaintext attempt: pg_hba's hostnossl reject line fires
    val rej = intercept[RuntimeException] {
      val c = new PgWireClient(conn.host, conn.port, "graft_ssl", conn.database)
      try c.exec("SELECT 1") finally c.close()
    }
    assert(rej.getMessage.contains("graft_pg:"), rej.getMessage)
    // the trust-over-plaintext path for everyone else is untouched
    val c3 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try c3.exec("SELECT 1") finally c3.close()
  }

  test("verify-full accepts a SAN-matching cert and refuses a hostname the cert does not name") {
    // the libpq mode matrix's last entry: chain validation (verify-ca)
    // PLUS the hostname check. A cert whose SAN names the dialed IP
    // passes; a cert chaining to the SAME trusted root but naming a
    // DIFFERENT address must fail inside the handshake — proving the
    // endpoint identification actually runs (dialing a wrong hostname
    // instead would risk resolving to ::1 and read as a connection
    // refusal, not a hostname-check refusal).
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    val dataDir = try {
      val r = admin.query("SHOW data_directory")
      new String(r.nextRow()(0), "UTF-8")
    } finally admin.close()
    def gen(base: String, san: String): Unit = {
      val pb = new ProcessBuilder("openssl", "req", "-new", "-x509", "-days", "2",
        "-nodes", "-subj", "/CN=graft-pg-test",
        "-addext", s"subjectAltName=$san",
        "-keyout", s"$dataDir/$base.key", "-out", s"$dataDir/$base.crt")
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File("/dev/null"))
      assume(pb.start().waitFor() == 0, "openssl unavailable — skip verify-full")
      for (f <- Seq(s"$base.key", s"$base.crt")) {
        val path = java.nio.file.Paths.get(dataDir, f)
        java.nio.file.Files.setPosixFilePermissions(path,
          java.util.Set.of(java.nio.file.attribute.PosixFilePermission.OWNER_READ,
            java.nio.file.attribute.PosixFilePermission.OWNER_WRITE))
        if (System.getProperty("user.name") == "root")
          java.nio.file.Files.setOwner(path, path.getFileSystem
            .getUserPrincipalLookupService.lookupPrincipalByName("nobody"))
      }
    }
    gen("graft_san", "IP:127.0.0.1")
    gen("graft_badsan", "IP:10.99.99.99")
    def serveCert(base: String): Unit = {
      val a = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
      try {
        a.exec(s"ALTER SYSTEM SET ssl_cert_file = '$base.crt'")
        a.exec(s"ALTER SYSTEM SET ssl_key_file = '$base.key'")
        a.exec("ALTER SYSTEM SET ssl = on")
        a.exec("SELECT pg_reload_conf()")
      } finally a.close()
      Thread.sleep(300)
    }
    // SAN names the dialed IP -> accepted
    serveCert("graft_san")
    val ok = new PgWireClient("127.0.0.1", conn.port, conn.user, conn.database,
      sslMode = "verify-full", sslRootCert = Some(s"$dataDir/graft_san.crt"))
    try ok.exec("SELECT 1") finally ok.close()
    // trusted chain but the SAN names a different address -> the
    // handshake itself must refuse (verify-ca, by contrast, accepts)
    serveCert("graft_badsan")
    val ca = new PgWireClient("127.0.0.1", conn.port, conn.user, conn.database,
      sslMode = "verify-ca", sslRootCert = Some(s"$dataDir/graft_badsan.crt"))
    try ca.exec("SELECT 1") finally ca.close()
    val bad = intercept[javax.net.ssl.SSLException] {
      val c = new PgWireClient("127.0.0.1", conn.port, conn.user, conn.database,
        sslMode = "verify-full", sslRootCert = Some(s"$dataDir/graft_badsan.crt"))
      try c.exec("SELECT 1") finally c.close()
    }
    assert(String.valueOf(bad.getMessage).toLowerCase.contains("subject") ||
      String.valueOf(bad.getMessage).toLowerCase.contains("name") ||
      String.valueOf(bad.getMessage).toLowerCase.contains("identi"), bad.toString)
    // restore the matching cert for any later TLS-dependent test
    serveCert("graft_san")
    // config requirement: verify-full without a root cert is refused
    // client-side before any socket opens
    val e = intercept[IllegalArgumentException] {
      new PgWireClient("127.0.0.1", conn.port, conn.user, conn.database,
        sslMode = "verify-full")
    }
    assert(e.getMessage.contains("sslRootCert"), e.getMessage)
  }

  test("SCRAM over TLS negotiates SCRAM-SHA-256-PLUS and the server accepts the channel binding") {
    // the -PLUS path end-to-end against the real server: over TLS,
    // PostgreSQL advertises SCRAM-SHA-256-PLUS and VERIFIES the c=
    // attribute's tls-server-end-point certificate hash server-side —
    // a login that completes proves the RFC 5929 binding data is the
    // one the server computed from its own certificate. (The previous
    // test left ssl=on with the SAN cert; this one only needs TLS up.)
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    val dataDir = try {
      admin.exec("DROP ROLE IF EXISTS graft_cb")
      admin.exec("CREATE ROLE graft_cb LOGIN PASSWORD 'sekret4'")
      val r = admin.query("SHOW data_directory")
      new String(r.nextRow()(0), "UTF-8")
    } finally admin.close()
    val hba = java.nio.file.Paths.get(dataDir, "pg_hba.conf")
    val orig = java.nio.file.Files.readString(hba)
    val rule = "hostssl all graft_cb 127.0.0.1/32 scram-sha-256\n"
    if (!orig.startsWith(rule)) java.nio.file.Files.writeString(hba, rule + orig)
    val admin2 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin2.exec("SELECT pg_reload_conf()") finally admin2.close()
    Thread.sleep(300)
    val c = new PgWireClient(conn.host, conn.port, "graft_cb", conn.database,
      Some("sekret4"), sslMode = "require")
    try {
      c.exec("SELECT 1")
      assert(c.saslMechanism === Some("SCRAM-SHA-256-PLUS"),
        "over TLS the client must pick the channel-binding mechanism")
    } finally c.close()
    // wrong password still refused through the -PLUS exchange
    val e = intercept[RuntimeException] {
      val c2 = new PgWireClient(conn.host, conn.port, "graft_cb", conn.database,
        Some("wrong"), sslMode = "require")
      try c2.exec("SELECT 1") finally c2.close()
    }
    assert(e.getMessage.toLowerCase.contains("password") ||
      e.getMessage.contains("authentication"), e.getMessage)
    // over PLAINTEXT the same role's scram login (via a host rule) must
    // keep using the non-PLUS mechanism — no TLS layer to bind to
    val hba2 = java.nio.file.Files.readString(hba)
    val plainRule = "host all graft_cb 127.0.0.1/32 scram-sha-256\n"
    if (!hba2.startsWith(plainRule))
      java.nio.file.Files.writeString(hba, plainRule + hba2)
    val admin3 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin3.exec("SELECT pg_reload_conf()") finally admin3.close()
    Thread.sleep(300)
    val c3 = new PgWireClient(conn.host, conn.port, "graft_cb", conn.database,
      Some("sekret4"))
    try {
      c3.exec("SELECT 1")
      assert(c3.saslMechanism === Some("SCRAM-SHA-256"))
    } finally c3.close()
  }

  test("concurrent overwriteTable runs serialize on the per-table lock; each publish is complete") {
    // the round-15 advisory's race: without the table-scoped session
    // advisory lock, run B's pre-staging sweep (table-wide prefix)
    // drops run A's committed stages and A publishes a PARTIAL table.
    // With the lock held sweep-through-publish, concurrent overwrites
    // serialize; whichever commits last leaves ITS complete rows — and
    // no interleaving may ever leave a mixed or partial target.
    import spark.implicits._
    val a = (1L to 400L).map(k => (k, "A")).toDF("k", "src").repartition(4)
    val b = (1L to 400L).map(k => (k, "B")).toDF("k", "src").repartition(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 3) {
        val fa = pool.submit(new Runnable {
          override def run(): Unit = Postgres.overwriteTable(a, conn, "graft_race") })
        val fb = pool.submit(new Runnable {
          override def run(): Unit = Postgres.overwriteTable(b, conn, "graft_race") })
        fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
        fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
        val rows = Postgres.readTable(spark, conn, "graft_race")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        assert(rows.length === 400, s"round $round: partial publish (${rows.length} rows)")
        assert(rows.map(_._2).distinct.length === 1,
          s"round $round: mixed sources in one table: ${rows.map(_._2).distinct.toSeq}")
        assert(rows.map(_._1).sorted.toSeq === (1L to 400L),
          s"round $round: key set must be complete")
      }
    } finally pool.shutdown()
  }

  test("concurrent staging attempts serialize on the advisory lock; the last committer wins whole") {
    // the speculation story the staged commit rests on, driven for
    // real: attempt A holds the per-stage advisory xact lock with an
    // uncommitted CREATE+COPY; rival attempt B blocks ON THE LOCK
    // (not on a duplicate-CREATE error — without the lock B's CREATE
    // would see no table via DROP IF EXISTS and then collide), and
    // after A commits, B's drop-and-recreate supersedes cleanly —
    // exactly one complete copy survives
    val stName = "graft_specstage_0"
    val a = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    val b = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      a.exec(s"DROP TABLE IF EXISTS $stName")
      a.exec("BEGIN")
      a.exec(s"SELECT pg_advisory_xact_lock(hashtext('$stName'))")
      a.exec(s"DROP TABLE IF EXISTS $stName")
      a.exec(s"CREATE TABLE $stName (k bigint)")
      a.exec(s"INSERT INTO $stName VALUES (1), (2)") // attempt A's rows
      val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val t = new Thread(() => {
        b.exec("BEGIN")
        b.exec(s"SELECT pg_advisory_xact_lock(hashtext('$stName'))") // blocks on A
        b.exec(s"DROP TABLE IF EXISTS $stName")
        b.exec(s"CREATE TABLE $stName (k bigint)")
        b.exec(s"INSERT INTO $stName VALUES (10), (20), (30)") // attempt B's rows
        b.exec("COMMIT")
        bDone.set(true)
      })
      t.start()
      Thread.sleep(500)
      assert(!bDone.get(), "B must be blocked on the advisory lock while A is open")
      a.exec("COMMIT") // A done -> B proceeds and supersedes
      t.join(15000)
      assert(bDone.get(), "B must complete once A commits")
      val r = a.query(s"SELECT k FROM $stName ORDER BY k")
      val rows = Iterator.continually(r.nextRow()).takeWhile(_ != null)
        .map(row => new String(row(0), "UTF-8")).toSeq
      assert(rows === Seq("10", "20", "30"),
        s"the last committer must leave exactly its own complete copy, got $rows")
    } finally { a.close(); b.close() }
  }

  test("wire client survives hostile protocol endings loudly: abrupt close, mechanism mismatch") {
    // a fake server speaking crafted bytes: the client must surface
    // EOF/handshake failures as exceptions, never hang or fabricate
    def fakeServer(respond: (java.io.DataInputStream, java.io.DataOutputStream) => Unit): Int = {
      val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
      new Thread(() => {
        try {
          val sock = ss.accept()
          val in = new java.io.DataInputStream(sock.getInputStream)
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          respond(in, out)
          sock.close()
        } catch { case _: Exception => () } finally ss.close()
      }).start()
      ss.getLocalPort
    }
    // (1) server drops the connection right after the startup message
    val p1 = fakeServer { (in, _) =>
      val len = in.readInt(); in.skipBytes(len - 4) // swallow startup, then vanish
    }
    intercept[java.io.IOException] {
      new PgWireClient("127.0.0.1", p1, "u", "db")
    }
    // (2) server offers only a SASL mechanism the client does not speak
    val p2 = fakeServer { (in, out) =>
      val len = in.readInt(); in.skipBytes(len - 4)
      val mech = "SCRAM-SHA-256-PLUS\u0000\u0000".getBytes("UTF-8")
      out.writeByte('R'); out.writeInt(4 + 4 + mech.length)
      out.writeInt(10); out.write(mech); out.flush()
    }
    val e = intercept[IllegalArgumentException] {
      new PgWireClient("127.0.0.1", p2, "u", "db", Some("pw"))
    }
    assert(e.getMessage.contains("SASL"), e.getMessage)
    // (3) mid-result disconnect: rows so far are not silently returned
    // as a complete result
    val p3 = fakeServer { (in, out) =>
      val len = in.readInt(); in.skipBytes(len - 4)
      out.writeByte('R'); out.writeInt(8); out.writeInt(0)       // AuthOk
      out.writeByte('Z'); out.writeInt(5); out.writeByte('I')    // ReadyForQuery
      out.flush()
      val t = in.readByte(); assert(t == 'Q')
      val qlen = in.readInt(); in.skipBytes(qlen - 4)
      // RowDescription with one text column, then ONE row, then vanish
      val name = "c\u0000".getBytes("UTF-8")
      out.writeByte('T'); out.writeInt(4 + 2 + name.length + 18)
      out.writeShort(1); out.write(name)
      out.writeInt(0); out.writeShort(0); out.writeInt(25)
      out.writeShort(-1); out.writeInt(-1); out.writeShort(0)
      out.writeByte('D'); out.writeInt(4 + 2 + 4 + 1)
      out.writeShort(1); out.writeInt(1); out.write('x')
      out.flush()
    }
    val c3 = new PgWireClient("127.0.0.1", p3, "u", "db")
    val res = c3.query("SELECT whatever")
    assert(new String(res.nextRow()(0), "UTF-8") === "x")
    intercept[java.io.IOException] {
      var r = res.nextRow()
      while (r != null) r = res.nextRow() // truncated stream must THROW
    }
    c3.close()
  }

  test("pushed timestamp literals render the UTC instant even under a non-UTC driver JVM") {
    // the round-14 advisory's silent-exclusion scenario: the stored
    // text is UTC (session pins TimeZone=UTC, the sink writes UTC
    // micros) but java.sql.Timestamp.toString formats in the JVM
    // default zone — a zone-shifted pushed literal excludes matching
    // rows server-side, unrecoverable by the residual filter. litOf
    // must render from the instant, default zone irrelevant.
    val micros = 1755172496123456L
    val utcText = PgWire.formatTimestampMicros(micros)
    val prior = java.util.TimeZone.getDefault
    try {
      for (zone <- Seq("America/New_York", "Asia/Tokyo", "UTC")) {
        java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
        val ts = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaTimestamp(micros)
        assert(PgWire.litOf(ts) === Some(s"'$utcText'"),
          s"under default zone $zone the literal must be the UTC text")
      }
    } finally java.util.TimeZone.setDefault(prior)
    // end-to-end: a timestamp filter PUSHED to the server (visible in
    // the plan) returns exactly the matching rows
    import spark.implicits._
    val df = Seq(
      (1L, Timestamp.valueOf("2026-08-14 12:34:56.123456")),
      (2L, Timestamp.valueOf("2026-08-14 12:34:56.123457")),
      (3L, Timestamp.valueOf("1999-01-01 00:00:00"))).toDF("k", "ts")
    Postgres.overwriteTable(df, conn, "graft_tslit")
    val q = Postgres.readTable(spark, conn, "graft_tslit")
      .filter($"ts" === lit(Timestamp.valueOf("2026-08-14 12:34:56.123456")))
      .select($"k")
    assert(q.queryExecution.executedPlan.toString.contains("EqualTo(ts,"),
      "the timestamp predicate must reach the scan as a pushed filter")
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("binary (extended-query) read decodes the full type surface identically to the text cycle") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_bin")
      c.exec("CREATE TABLE graft_bin (a integer, b bigint, c text, " +
        "d double precision, e boolean, f date, g timestamp, h real, " +
        "i smallint, j numeric(12,4), k numeric, l bytea, m timestamptz)")
      c.exec("INSERT INTO graft_bin VALUES " +
        "(42, 9007199254740993, e'txt \\t tab \\\\ back', 2.25, true, " +
        " '2026-08-14', '2026-08-14 12:34:56.123456', -0.5, 7, " +
        " 87654321.1234, 0.000000000000000001, '\\x00ff7f80', " +
        " '1999-12-31 23:59:59.999999+00'), " +
        "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, " +
        " NULL, NULL, NULL), " +
        // negative + carry shapes for the base-10000 numeric decode
        "(-1, -1, '', 'NaN', false, '1969-12-31', '1970-01-01 00:00:00', " +
        " 3.5, -8, -10000.0001, 123456789.5, '\\x', '1970-01-01 00:00:00+00')")
    } finally c.close()
    def read() = spark.read.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_bin").load()
    // byte arrays render by identity — normalize to value form first
    def render(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")).sorted
    val bin = render(read().collect().toSeq)
    val txt = render(PgWireSpec.textRows(conn, "graft_bin", read().schema))
    // Row ordering is not guaranteed — compare as sorted multisets
    assert(bin === txt,
      s"binary and text cycles must decode identical values:\nbin=$bin\ntxt=$txt")
    // spot-check exact values through the binary path
    val r = read().filter(col("a") === 42).collect()(0)
    assert(r.getLong(1) === 9007199254740993L) // past double precision
    assert(r.getString(2) === "txt \t tab \\ back")
    assert(r.getDate(5).toString === "2026-08-14")
    assert(r.getTimestamp(6) === Timestamp.valueOf("2026-08-14 12:34:56.123456"))
    assert(r.getInt(8) === 7)
    assert(r.getDecimal(9).toPlainString === "87654321.1234")
    assert(r.getDecimal(10).toPlainString === "0.000000000000000001")
    assert(r.getAs[Array[Byte]](11).toSeq ===
      Seq(0x00, 0xff, 0x7f, 0x80).map(_.toByte).toSeq)
    assert(r.getTimestamp(12) === Timestamp.valueOf("1999-12-31 23:59:59.999999"))
    val neg = read().filter(col("a") === -1).collect()(0)
    assert(neg.getDecimal(9).toPlainString === "-10000.0001")
    assert(neg.getDouble(3).isNaN)
    assert(neg.getAs[Array[Byte]](11).length === 0)
  }

  test("user-supplied WIDER external schemas decode in binary mode like they parsed in text mode") {
    // binary-as-default must not regress the text cycle's flexibility
    // (round 15 review): .schema("k LONG") over an int4 column worked
    // under text parsing, so the binary decoders carry the same
    // widening pairs — int2/int4->long, ints/float4->double,
    // ints->decimal — upcast exactly from the wire representation
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_widen_bin")
      c.exec("CREATE TABLE graft_widen_bin (a integer, b smallint, " +
        "c real, d bigint)")
      c.exec("INSERT INTO graft_widen_bin VALUES (42, -7, 1.5, 900719925474099)")
    } finally c.close()
    val widened = StructType(Seq(
      StructField("a", LongType), StructField("b", DoubleType),
      StructField("c", DoubleType), StructField("d", DecimalType(20, 2))))
    val bin = spark.read.format("graft_pg").schema(widened)
      .option("port", conn.port.toString).option("dbtable", "graft_widen_bin")
      .load().collect()(0)
    for ((fmt, r) <- Seq("binary" -> bin,
        "text" -> PgWireSpec.textRows(conn, "graft_widen_bin", widened).head)) {
      assert(r.getLong(0) === 42L, fmt)
      assert(r.getDouble(1) === -7.0, fmt)
      assert(r.getDouble(2) === 1.5, fmt)
      assert(r.getDecimal(3).toPlainString === "900719925474099.00", fmt)
    }
  }

  test("DSv2 write: df.write.format(graft_pg) overwrite/append with staged message-listed publish") {
    import spark.implicits._
    def writer(df: org.apache.spark.sql.DataFrame) = df.write.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_dsv2")
    // overwrite drops and replaces wholesale (the to_sql semantics),
    // recording both write phases
    graft.Metrics.withScope("dsv2_spec") {
      writer(Seq((1L, "stale")).toDF("k", "v")).mode("overwrite").save()
    }
    val counters = graft.Metrics.snapshot.map(_._1).toSet
    assert(Set("dsv2_spec.pg_write_stage_ms", "dsv2_spec.pg_write_publish_ms")
      .subsetOf(counters), s"write phase counters missing: $counters")
    writer((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").repartition(8))
      .mode("overwrite").save()
    val back = Postgres.readTable(spark, conn, "graft_dsv2")
    assert(back.count() === 100L)
    assert(back.filter($"v" === "stale").count() === 0L)
    // append lands on top, all-or-nothing, same txn
    writer((101L to 120L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4))
      .mode("append").save()
    assert(Postgres.readTable(spark, conn, "graft_dsv2").count() === 120L)
    // append to a FRESH table creates it
    val c0 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try c0.exec("DROP TABLE IF EXISTS graft_dsv2_new") finally c0.close()
    Seq((7L, "x")).toDF("k", "v").write.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_dsv2_new")
      .mode("append").save()
    assert(Postgres.readTable(spark, conn, "graft_dsv2_new").count() === 1L)
    // mostly-empty partitioning: empty partitions commit null stages
    writer(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, "z")), 8),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType)))))
      .mode("overwrite").save()
    assert(Postgres.readTable(spark, conn, "graft_dsv2").collect()
      .map(_.toString).toSeq === Seq("[9,z]"))
    // no stage tables survive a publish
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val r = c.query("SELECT tablename FROM pg_tables " +
        "WHERE tablename LIKE 'graft\\_stage\\_%' ESCAPE '\\'")
      assert(r.nextRow() == null, "no staging tables may outlive the DSv2 publish")
    } finally c.close()
  }

  test("DSv2 write: a failed job aborts cleanly — old table intact, stages swept, lock released") {
    import spark.implicits._
    def writer(df: org.apache.spark.sql.DataFrame) = df.write.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_dsv2_abort")
    writer(Seq((1L, "keep")).toDF("k", "v")).mode("overwrite").save()
    val bomb = udf((k: Long) => {
      if (k == 3L) throw new RuntimeException("boom mid-write")
      "x"
    })
    intercept[Exception] {
      writer(Seq(2L, 3L).toDF("k").withColumn("v", bomb($"k")))
        .mode("overwrite").save()
    }
    // abort: the previous table untouched, no stages, and the
    // per-table lock RELEASED (a follow-up write proceeds immediately)
    assert(Postgres.readTable(spark, conn, "graft_dsv2_abort").collect()
      .map(_.toString).toSeq === Seq("[1,keep]"))
    writer(Seq((5L, "after")).toDF("k", "v")).mode("overwrite").save()
    assert(Postgres.readTable(spark, conn, "graft_dsv2_abort").collect()
      .map(_.toString).toSeq === Seq("[5,after]"))
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val r = c.query("SELECT tablename FROM pg_tables " +
        "WHERE tablename LIKE 'graft\\_stage\\_%' ESCAPE '\\'")
      assert(r.nextRow() == null, "aborted stages must be swept")
    } finally c.close()
  }

  test("streaming write: per-epoch appends land EXACTLY ONCE; a replayed epoch publishes nothing") {
    import spark.implicits._
    // clean slate: target + the digest-named epoch ledger
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      admin.exec("DROP TABLE IF EXISTS graft_stream_sink")
      val r = admin.query("SELECT tablename FROM pg_tables " +
        "WHERE tablename LIKE 'graft\\_epochs\\_%' ESCAPE '\\'")
      val ledgers = Iterator.continually(r.nextRow()).takeWhile(_ != null)
        .map(row => new String(row(0), "UTF-8")).toList
      ledgers.foreach(l => admin.exec(s"DROP TABLE ${PgWire.quoteIdent(l)}"))
    } finally admin.close()
    val ck = "/tmp/graft_test/pg_stream_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = ms.toDF().toDF("k", "v").writeStream.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_stream_sink")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      ms.addData((3L, "c"))
      q.processAllAvailable()
      // empty micro-batches must not disturb the table either
      q.processAllAvailable()
    } finally q.stop()
    val got = Postgres.readTable(spark, conn, "graft_stream_sink").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"each epoch's rows must land exactly once, got $got")
    // REPLAY the high-water mark directly: a commit at an epoch at or
    // below the mark must drop its staged rows and publish NOTHING —
    // the failure-recovery path Spark takes after a crash between
    // commit and checkpoint advance
    val opts = PgSourceOptions(host = conn.host, port = conn.port,
      database = conn.database, user = conn.user, password = None,
      sslMode = "disable", sslRootCert = None, table = "graft_stream_sink",
      partition = None)
    val sw = new PgStreamingWrite(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      opts, truncate = false, queryId = q.id.toString)
    val stageName = Postgres.stagePrefixFor("graft_stream_sink") + "q" +
      Postgres.queryScope(q.id.toString) + "e1_99"
    val a2 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      a2.exec(s"DROP TABLE IF EXISTS $stageName")
      a2.exec(s"CREATE TABLE $stageName (k bigint, v text)")
      a2.exec(s"INSERT INTO $stageName VALUES (999, 'dup')")
    } finally a2.close()
    sw.commit(1L, Array(PgStageCommit(stageName))) // epoch 1 <= mark -> no-op
    val after = Postgres.readTable(spark, conn, "graft_stream_sink").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(after === got, "a replayed epoch must publish nothing")
    // ...and the replayed epoch's stage was dropped, not leaked
    val a3 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val r = a3.query("SELECT tablename FROM pg_tables " +
        "WHERE tablename LIKE 'graft\\_stage\\_%' ESCAPE '\\'")
      assert(r.nextRow() == null, "replayed-epoch stages must be dropped")
    } finally a3.close()
    // a FRESH query id over the same table is NOT suppressed by the
    // old mark: its epoch 0 publishes
    val sw2 = new PgStreamingWrite(
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      opts, truncate = false, queryId = "fresh-query-id")
    val stage2 = Postgres.stagePrefixFor("graft_stream_sink") + "q" +
      Postgres.queryScope("fresh-query-id") + "e0_0"
    val a4 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      a4.exec(s"CREATE TABLE $stage2 (k bigint, v text)")
      a4.exec(s"INSERT INTO $stage2 VALUES (4, 'd')")
    } finally a4.close()
    sw2.commit(0L, Array(PgStageCommit(stage2)))
    assert(Postgres.readTable(spark, conn, "graft_stream_sink").count() === 4L,
      "a fresh query's epoch 0 must publish despite the old query's mark")
  }

  test("batch sweeps are STREAM-AWARE: a LIVE epoch's stages survive, dead/published/batch orphans drop") {
    // the round-15 review's cross-writer race: a batch overwrite's
    // pre-stage sweep must not drop a concurrently-running streaming
    // query's in-flight epoch stages (the stream stages WITHOUT the
    // table lock by design). The ledger adjudicates published epochs
    // (at or below the mark = dead weight, drop); round 16 adds the
    // LIVENESS adjudication for above-mark epochs: the owning query
    // holds a session advisory lock on (table digest, scope) for its
    // lifetime, so lock-busy = in flight (survive) and lock-free =
    // owner dead (collect — the r15 leak). Batch-nonce orphans always
    // drop.
    import spark.implicits._
    val table = "graft_sweep_aware"
    val prefix = Postgres.stagePrefixFor(table)
    val scope = Postgres.queryScope("some-stream-query")
    val ledger = Postgres.epochLedgerFor(table)
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      for (t <- Seq(s"${prefix}q${scope}e2_0", s"${prefix}q${scope}e5_0",
          s"${prefix}deadbeef_3", ledger, table))
        admin.exec(s"DROP TABLE IF EXISTS ${PgWire.quoteIdent(t)}")
      // a published epoch (2 <= mark 3), an in-flight epoch (5 > 3),
      // and a batch-nonce orphan
      admin.exec(s"CREATE TABLE ${PgWire.quoteIdent(s"${prefix}q${scope}e2_0")} (k bigint)")
      admin.exec(s"CREATE TABLE ${PgWire.quoteIdent(s"${prefix}q${scope}e5_0")} (k bigint)")
      admin.exec(s"CREATE TABLE ${PgWire.quoteIdent(s"${prefix}deadbeef_3")} (k bigint)")
      admin.exec(s"CREATE TABLE ${PgWire.quoteIdent(ledger)} (query_id text, last_epoch bigint)")
      admin.exec(s"INSERT INTO ${PgWire.quoteIdent(ledger)} VALUES ('some-stream-query', 3)")
    } finally admin.close()
    // a LIVE owner: this connection holds the scope's liveness lock
    // for the duration of the first sweep, like a running query would
    val owner = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      assert(Postgres.queryBool(owner,
        s"SELECT pg_try_advisory_lock(${Postgres.livenessLockArgs(table, scope)})"))
      // the batch overwrite's pre-stage sweep runs stream-aware
      Postgres.overwriteTable(Seq((1L, "x")).toDF("k", "v"), conn, table)
      val a2 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
      try {
        def exists(t: String): Boolean = {
          val r = a2.query("SELECT 1 FROM pg_tables WHERE tablename = '" + t + "'")
          val row = r.nextRow(); while (r.nextRow() != null) (); row != null
        }
        assert(!exists(s"${prefix}q${scope}e2_0"), "published-epoch stage must drop")
        assert(!exists(s"${prefix}deadbeef_3"), "batch-nonce orphan must drop")
        assert(exists(s"${prefix}q${scope}e5_0"),
          "an above-mark stage of a LIVE query must SURVIVE the batch sweep")
      } finally a2.close()
    } finally owner.close() // the owner "dies": session lock released
    // the owner is gone — the next sweep adjudicates the same
    // above-mark stage dead and collects it (the r15 residue)
    Postgres.overwriteTable(Seq((2L, "y")).toDF("k", "v"), conn, table)
    val a3 = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val r = a3.query("SELECT 1 FROM pg_tables WHERE tablename = '" +
        s"${prefix}q${scope}e5_0" + "'")
      val row = r.nextRow(); while (r.nextRow() != null) ()
      assert(row == null,
        "a dead query's above-mark stage must be collected once its liveness lock is gone")
      a3.exec(s"DROP TABLE IF EXISTS ${PgWire.quoteIdent(ledger)}")
    } finally a3.close()
  }

  test("a running streaming query holds its liveness lock; termination releases it (round 16)") {
    // end-to-end over a real query: while the stream is active its
    // scope's liveness lock must be busy (sweeps spare its stages);
    // after stop() the termination listener closes the lock connection
    // (asynchronously), so the lock frees without waiting for JVM
    // exit — a long-lived driver neither leaks connections nor makes
    // stopped queries look live forever.
    import spark.implicits._
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin.exec("DROP TABLE IF EXISTS graft_stream_live")
    finally admin.close()
    val ck = "/tmp/graft_test/pg_stream_live_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = ms.toDF().toDF("k", "v").writeStream.format("graft_pg")
      .option("port", conn.port.toString).option("dbtable", "graft_stream_live")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    val args = Postgres.livenessLockArgs("graft_stream_live",
      Postgres.queryScope(q.id.toString))
    val probe = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      try {
        ms.addData((1L, "a"))
        q.processAllAvailable()
        assert(!Postgres.queryBool(probe, s"SELECT pg_try_advisory_lock($args)"),
          "a live query's liveness lock must be busy")
      } finally q.stop()
      // listener fires asynchronously after stop — poll up to 10 s
      val deadline = System.nanoTime() + 10000000000L
      var freed = false
      while (!freed && System.nanoTime() < deadline) {
        freed = Postgres.queryBool(probe, s"SELECT pg_try_advisory_lock($args)")
        if (!freed) Thread.sleep(100)
      }
      assert(freed, "termination must release the liveness lock without JVM exit")
      probe.exec(s"SELECT pg_advisory_unlock($args)")
    } finally probe.close()
  }

  test("two CONCURRENT streams on one table coexist: distinct scopes, both locks held, rows exact (round 16)") {
    // the scoping design's core multi-writer claim, previously argued
    // in scaladoc but never run: two live queries appending to the
    // same table must each hold their own liveness lock, interleave
    // epoch commits through the per-table lock, sweep only their own
    // lineage, and land every row exactly once.
    import spark.implicits._
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin.exec("DROP TABLE IF EXISTS graft_stream_pair")
    finally admin.close()
    def start(ms: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)],
              ck: String) = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      ms.toDF().toDF("k", "v").writeStream.format("graft_pg")
        .option("port", conn.port.toString)
        .option("dbtable", "graft_stream_pair")
        .option("checkpointLocation", ck)
        .outputMode("append").start()
    }
    val msA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val msB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val qA = start(msA, "/tmp/graft_test/pg_pair_a_ck")
    val qB = start(msB, "/tmp/graft_test/pg_pair_b_ck")
    try {
      // interleaved epochs from both writers
      msA.addData((1L, "a1")); qA.processAllAvailable()
      msB.addData((10L, "b1")); qB.processAllAvailable()
      msA.addData((2L, "a2")); qA.processAllAvailable()
      msB.addData((20L, "b2")); qB.processAllAvailable()
      // both queries live -> both scope locks busy
      val probe = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
      try for (q <- Seq(qA, qB)) {
        val args = Postgres.livenessLockArgs("graft_stream_pair",
          Postgres.queryScope(q.id.toString))
        assert(!Postgres.queryBool(probe, s"SELECT pg_try_advisory_lock($args)"),
          s"live query ${q.id} must hold its own liveness lock")
      } finally probe.close()
    } finally { qA.stop(); qB.stop() }
    val got = Postgres.readTable(spark, conn, "graft_stream_pair").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "a1"), (2L, "a2"), (10L, "b1"), (20L, "b2")),
      s"both writers' rows must land exactly once, got $got")
  }

  test("restart from checkpoint: stable id reacquires liveness, appends stay exactly-once (round 16)") {
    // the restart race reasoned about in ensureLiveness's scaladoc,
    // exercised for real: run 1 terminates (its async listener frees
    // the liveness lock some time later), run 2 starts from the SAME
    // checkpoint — same stable query id, so the same lock key — and
    // must reacquire inside its retry window, then append ONLY the
    // rows run 1 never committed.
    import spark.implicits._
    val admin = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try admin.exec("DROP TABLE IF EXISTS graft_stream_restart")
    finally admin.close()
    val ck = "/tmp/graft_test/pg_stream_restart_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    def start() = ms.toDF().toDF("k", "v").writeStream.format("graft_pg")
      .option("port", conn.port.toString)
      .option("dbtable", "graft_stream_restart")
      .option("checkpointLocation", ck)
      .outputMode("append").start()
    val q1 = start()
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    // run 2: same checkpoint -> Spark restores the STABLE id (the
    // ledger and liveness scopes both key on it)
    val q2 = start()
    try {
      assert(q2.id == q1.id, "a checkpoint restart must keep the stable id")
      ms.addData((3L, "c"))
      q2.processAllAvailable()
      // run 2 is live again: its liveness lock must be busy (we are
      // past epoch 1's factory, so acquisition already happened —
      // proving the handoff beat the retry window, not just luck)
      val args = Postgres.livenessLockArgs("graft_stream_restart",
        Postgres.queryScope(q2.id.toString))
      val probe = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
      try assert(!Postgres.queryBool(probe, s"SELECT pg_try_advisory_lock($args)"),
        "the restarted run must hold the liveness lock")
      finally probe.close()
    } finally q2.stop()
    val got = Postgres.readTable(spark, conn, "graft_stream_restart").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"rows must land exactly once across the restart, got $got")
  }

  test("pushed string inequalities pin COLLATE C; NUL and far-range literals stay residual") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
    // Spark compares strings in binary UTF-8 order; a linguistic
    // server collation would order 'a' before 'A' and a pushed < 'a'
    // would silently exclude rows the residual cannot restore — the
    // literal carries COLLATE "C" (bytewise order) to pin semantics
    assert(PgFilterSql.compile(LessThan("v", "a"))
      .contains("\"v\" < 'a' COLLATE \"C\""))
    assert(PgFilterSql.compile(GreaterThan("v", "a"))
      .contains("\"v\" > 'a' COLLATE \"C\""))
    // equality is bytewise under ANY collation: no pin
    assert(PgFilterSql.compile(EqualTo("v", "a")).contains("\"v\" = 'a'"))
    // non-string inequalities: no pin
    assert(PgFilterSql.compile(LessThan("k", 5)).contains("\"k\" < 5"))
    // a NUL inside a string would truncate the Query cstring
    // server-side: unrenderable, stays residual
    assert(PgFilterSql.compile(EqualTo("v", "a\u0000b")).isEmpty)
    // years outside 1..9999 render with a +/- prefix PG rejects
    assert(PgFilterSql.compile(
      LessThan("d", java.time.LocalDate.of(10000, 1, 1))).isEmpty)
    assert(PgFilterSql.compile(
      LessThan("d", java.time.LocalDate.of(0, 12, 31))).isEmpty)
    // end-to-end: the pinned comparison returns Spark's binary-order
    // answer, and a NUL-bearing filter still answers via the residual
    import spark.implicits._
    val df = Seq((1L, "A"), (2L, "a"), (3L, "B")).toDF("k", "v")
    Postgres.overwriteTable(df, conn, "graft_collate")
    val lt = Postgres.readTable(spark, conn, "graft_collate")
      .filter($"v" < "a").select($"k").collect().map(_.getLong(0)).sorted.toSeq
    assert(lt === Seq(1L, 3L), // binary order: 'A'(0x41) and 'B'(0x42) < 'a'(0x61)
      s"pushed < must keep Spark's binary string order, got $lt")
    val nul = Postgres.readTable(spark, conn, "graft_collate")
      .filter($"v" === "a\u0000b").count()
    assert(nul === 0L, "a NUL-bearing literal must answer correctly via the residual")
  }

  test("explicit user schemas naming the sink's own write types (short/byte/ntz) read back in both formats") {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      c.exec("DROP TABLE IF EXISTS graft_writetypes")
      c.exec("CREATE TABLE graft_writetypes (a smallint, b smallint, c timestamp)")
      c.exec("INSERT INTO graft_writetypes VALUES (300, 7, '2026-08-14 12:34:56.123456')")
    } finally c.close()
    val schema = StructType(Seq(
      StructField("a", ShortType), StructField("b", ByteType),
      StructField("c", TimestampNTZType)))
    val bin = spark.read.format("graft_pg").schema(schema)
      .option("port", conn.port.toString).option("dbtable", "graft_writetypes")
      .load().collect()(0)
    for ((fmt, r) <- Seq("binary" -> bin,
        "text" -> PgWireSpec.textRows(conn, "graft_writetypes", schema).head)) {
      assert(r.getShort(0) === 300.toShort, fmt)
      assert(r.getByte(1) === 7.toByte, fmt)
      assert(r.getAs[java.time.LocalDateTime](2) ===
        java.time.LocalDateTime.parse("2026-08-14T12:34:56.123456"), fmt)
    }
    // a smallint value overflowing the requested ByteType is LOUD
    val e = intercept[Exception] {
      spark.read.format("graft_pg")
        .schema(StructType(Seq(StructField("a", ByteType))))
        .option("port", conn.port.toString).option("dbtable", "graft_writetypes")
        .load().collect()
    }
    assert(String.valueOf(e.getMessage).contains("overflow") ||
      String.valueOf(e.getCause).contains("overflow"), e.toString)
  }

  test("timestamp text round-trip is micros-exact across fraction shapes") {
    for (micros <- Seq(0L, 1L, 999999L, 1000000L, 1755172496123456L,
        -1L, -999999L, 86400000000L)) {
      val txt = PgWire.formatTimestampMicros(micros)
      assert(PgWireSpec.parseTimestampMicros(txt) === micros,
        s"$micros -> '$txt' must parse back exactly")
    }
  }
}

/** The server's TEXT rendering of a table, decoded per Spark type: the
  * reference graft_pg's binary read is checked against. Postgres
  * renders every value as text over the simple-query cycle
  * (`PgWireClient.query`, session pinned to UTC and ISO DateStyle), so a
  * binary decode bug diverges from it instead of surviving as a
  * plausible-looking value. */
object PgWireSpec {

  /** Every row of `table`, its columns read as `schema` names them. */
  def textRows(conn: Postgres.PgConn, table: String, schema: StructType): Seq[Row] = {
    val c = new PgWireClient(conn.host, conn.port, conn.user, conn.database)
    try {
      val convs = schema.fields.map(f => textToCatalyst(f.dataType))
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val cols = schema.fields.map(f => PgWire.quoteIdent(f.name)).mkString(", ")
      val res = c.query(s"SELECT $cols FROM ${PgWire.quoteIdent(table)}")
      Iterator.continually(res.nextRow()).takeWhile(_ != null).map { raw =>
        toRow(new GenericInternalRow(raw.indices.map(i =>
          if (raw(i) == null) null else convs(i)(raw(i))).toArray)).asInstanceOf[Row]
      }.toList
    } finally c.close()
  }

  /** Text-format value -> Catalyst, per Spark type. */
  def textToCatalyst(dt: DataType): Array[Byte] => Any = dt match {
    case StringType => bytes => UTF8String.fromBytes(bytes)
    case IntegerType => bytes => new String(bytes, UTF_8).toInt
    case LongType => bytes => new String(bytes, UTF_8).toLong
    case FloatType => bytes => new String(bytes, UTF_8).toFloat
    case DoubleType => bytes => new String(bytes, UTF_8).toDouble
    case BooleanType => bytes => bytes.length == 1 && bytes(0) == 't'
    // the write side maps ByteType/ShortType/TimestampNTZType onto
    // smallint/timestamp, so an explicit user schema names them
    case ShortType => bytes => new String(bytes, UTF_8).toShort
    case ByteType => bytes => new String(bytes, UTF_8).toByte
    case DateType => bytes =>
      LocalDate.parse(new String(bytes, UTF_8)).toEpochDay.toInt
    case TimestampType | TimestampNTZType =>
      bytes => parseTimestampMicros(new String(bytes, UTF_8))
    case d: DecimalType => bytes =>
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(new String(bytes, UTF_8)), d.precision, d.scale)
    case BinaryType => bytes => {
      // bytea text output is hex: \x<2 hex digits per byte>
      val s = new String(bytes, UTF_8)
      require(s.startsWith("\\x"), s"unexpected bytea text encoding: ${s.take(8)}")
      val out = new Array[Byte]((s.length - 2) / 2)
      var i = 0
      while (i < out.length) {
        out(i) = ((Character.digit(s.charAt(2 + 2 * i), 16) << 4) |
          Character.digit(s.charAt(3 + 2 * i), 16)).toByte
        i += 1
      }
      out
    }
    case other => throw new IllegalArgumentException(s"unsupported read type $other")
  }

  /** "yyyy-MM-dd HH:mm:ss[.ffffff]" (ISO, UTC session) -> epoch
    * micros. Manual parse: the fraction is 0-6 digits and
    * LocalDateTime.parse wants a 'T'. */
  def parseTimestampMicros(raw: String): Long = {
    // timestamptz text carries a zone suffix after the time part
    // ("...12:34:56.5+00" under the UTC session); the instant is
    // already UTC, so the suffix strips. Zone sign can only appear
    // past index 10 (the date's own dashes sit at 4 and 7).
    val zs = {
      val plus = raw.indexOf('+', 11)
      val minus = raw.indexOf('-', 11)
      if (plus >= 0) plus else minus
    }
    val s = if (zs >= 0) {
      require(raw.substring(zs) == "+00" || raw.substring(zs) == "+00:00",
        s"non-UTC timestamptz text '$raw': the session pins TimeZone=UTC")
      raw.substring(0, zs)
    } else raw
    val dot = s.indexOf('.')
    val (base, frac) =
      if (dot < 0) (s, 0L)
      else (s.substring(0, dot), (s.substring(dot + 1) + "000000").take(6).toLong)
    val ldt = LocalDateTime.parse(base.replace(' ', 'T'))
    Math.addExact(Math.multiplyExact(ldt.toEpochSecond(ZoneOffset.UTC), 1000000L), frac)
  }
}
