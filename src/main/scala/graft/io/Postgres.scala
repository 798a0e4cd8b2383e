package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Live PostgreSQL source + sink over a hand-rolled frontend/backend
  * v3 WIRE-PROTOCOL client — no JDBC driver jar required.
  *
  * The reference's actual IO is Postgres: the scraper full-replaces
  * tables (tasks/scraper/src/scraper.py:23-24,
  * `to_sql(if_exists='replace', index=False)`) and the visualization
  * reads them back whole-table
  * (tasks/visualization/src/visualization.py:14-21). The container
  * ships PostgreSQL server binaries but no `org.postgresql` driver
  * jar and has zero egress, so `format("jdbc")` cannot speak the wire
  * — this module implements the documented protocol (PostgreSQL
  * "Frontend/Backend Protocol", postgresql.org/docs/current/protocol
  * .html) directly: startup with trust, cleartext, md5, or
  * SCRAM-SHA-256 auth (what a password-protected deployment like the
  * reference's compose Postgres actually challenges with), the simple
  * query cycle (Query / RowDescription / DataRow / CommandComplete /
  * ReadyForQuery), and COPY FROM STDIN for bulk load.
  *
  * Scale shape mirrors the parquet discipline, not pandas':
  *  - the READ is a DataSourceV2 (`format("graft_pg")`) that plans one
  *    range partition per connection on a numeric partition column —
  *    N executors each stream their own `WHERE lo <= c AND c < hi`
  *    slice; edge partitions are open-ended so rows outside the
  *    bounds (or with NULL keys) are never lost. Column pruning
  *    becomes the SELECT list and supported filters are appended to
  *    the WHERE clause server-side; every filter is ALSO returned as
  *    residual (the [[HttpCsvScanBuilder]] discipline), so pushdown
  *    is a row-volume optimization that can never change the answer.
  *  - the WRITE is drop-and-recreate (the reference's `replace`), then
  *    one COPY FROM STDIN per input partition, executor-side — COPY is
  *    Postgres' bulk path (one message stream per partition, no
  *    per-row INSERT round-trips).
  *
  * Type surface (both directions): boolean, smallint (writes
  * byte/short), int, bigint, real, double precision, numeric(p,s)
  * <-> decimal (typmod-derived; unconstrained numeric reads as the
  * Spark-JDBC-convention decimal(38,18)), text/varchar, bytea <->
  * binary (hex text form), date, timestamp — plus timestamptz on
  * READ (the session is pinned UTC + ISO DateStyle at startup, so
  * the zone suffix is provably +00 and the instant is Catalyst's UTC
  * micros exactly). Anything else fails loudly at schema conversion.
  */
object PgWire {

  /** One result column: name + type OID + type modifier from
    * RowDescription (`typmod` carries numeric(p,s)'s precision/scale;
    * -1 = unconstrained). */
  final case class PgCol(name: String, oid: Int, typmod: Int = -1)

  // pg_type OIDs (stable, documented in the protocol/catalog docs)
  val OidBool = 16
  val OidInt8 = 20
  val OidInt2 = 21
  val OidInt4 = 23
  val OidText = 25
  val OidFloat4 = 700
  val OidFloat8 = 701
  val OidVarchar = 1043
  val OidBpchar = 1042
  val OidDate = 1082
  val OidTimestamp = 1114
  val OidTimestampTz = 1184
  val OidNumeric = 1700
  val OidBytea = 17

  def oidToSpark(oid: Int, typmod: Int = -1): DataType = oid match {
    case OidBool => BooleanType
    case OidInt2 | OidInt4 => IntegerType
    case OidInt8 => LongType
    case OidFloat4 => FloatType
    case OidFloat8 => DoubleType
    case OidText | OidVarchar | OidBpchar => StringType
    case OidDate => DateType
    // with the session pinned UTC, timestamptz text is the UTC
    // instant + a zone suffix the parser strips — both map to
    // Catalyst's UTC-micros TimestampType
    case OidTimestamp | OidTimestampTz => TimestampType
    case OidBytea => BinaryType
    case OidNumeric =>
      // typmod packs (precision << 16 | scale) + 4; -1 means
      // unconstrained, which Spark's JDBC convention reads as the
      // system-default decimal(38,18)
      if (typmod == -1) DecimalType(38, 18)
      else {
        val p = ((typmod - 4) >> 16) & 0xFFFF
        val sc = (typmod - 4) & 0xFFFF
        require(p >= 1 && p <= DecimalType.MAX_PRECISION && sc <= p,
          s"graft_pg: numeric($p,$sc) exceeds Spark's decimal range")
        DecimalType(p, sc)
      }
    case other => throw new IllegalArgumentException(
      s"graft_pg: unsupported Postgres type OID $other")
  }

  def sparkToPgType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    // PG `timestamp` IS timestamp-without-time-zone; the session-UTC
    // pin makes instant-semantic TimestampType write the same micros
    // text, so both Spark flavors land on the one sane column type
    case TimestampType | TimestampNTZType => "timestamp"
    case d: DecimalType => s"numeric(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"graft_pg: unsupported Spark type $other")
  }

  /** `"`-quoted identifier (embedded quotes doubled). */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** `'`-quoted literal for pushed-filter SQL — CONSERVATIVE: None
    * for any value this layer cannot render into guaranteed-valid SQL
    * (NaN/Infinity doubles print as bare words Postgres parses as
    * identifiers; unanticipated types are unknowable), and because
    * every pushed filter is ALSO residual, a None merely skips the
    * server-side prune for that predicate — loss-free by
    * construction. */
  def litOf(v: Any): Option[String] = v match {
    case null => Some("NULL")
    // an embedded U+0000 would truncate the Query message's cstring
    // server-side (pq_getmsgstring stops at the NUL) and error the
    // whole scan — unrenderable, stay residual
    case s: String if s.indexOf('\u0000') >= 0 => None
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case s: UTF8String => litOf(s.toString)
    case b: Boolean => Some(if (b) "true" else "false")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: scala.math.BigDecimal => Some(d.underlying.toPlainString)
    case f: java.lang.Float if java.lang.Float.isFinite(f) => Some(f.toString)
    case d: java.lang.Double if java.lang.Double.isFinite(d) => Some(d.toString)
    // year outside 1..9999 renders with a '+'/'-' prefix ISO text
    // Postgres rejects — unrenderable, stay residual (the LocalDate
    // toString contract; java.sql.Date cannot reach year 0 or 10000+
    // through Spark's filter conversion without the java8 API, whose
    // LocalDate case gates below)
    case d: java.sql.Date => litOf(d.toLocalDate)
    case d: java.time.LocalDate =>
      if (d.getYear < 1 || d.getYear > 9999) None
      else Some("'" + d.toString + "'")
    case t: java.sql.Timestamp =>
      // render from the UTC instant, NOT Timestamp.toString — that
      // formats in the JVM default timezone while the stored text is
      // UTC (the session pins TimeZone=UTC and the sink writes UTC
      // micros). A zone-shifted pushed literal would exclude matching
      // rows server-side, which the residual filter cannot restore —
      // the one failure mode that breaks "pushdown never changes the
      // answer". DateTimeUtils.fromJavaTimestamp recovers the exact
      // UTC micros the non-java8 filter path converted from.
      timestampLit(DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant => timestampLit(
      Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L),
        t.getNano / 1000L))
    case t: java.time.LocalDateTime =>
      if (t.getYear < 1 || t.getYear > 9999) None
      else Some("'" + t.toString.replace('T', ' ') + "'")
    case _ => None
  }

  /** Micros whose ISO text Postgres parses back exactly: years 1..9999
    * (outside, LocalDateTime.toString grows a +/- prefix PG rejects —
    * those literals stay residual). */
  private def timestampLit(micros: Long): Option[String] = {
    val y = LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L), 0,
      ZoneOffset.UTC).getYear
    if (y < 1 || y > 9999) None
    else Some("'" + formatTimestampMicros(micros) + "'")
  }

  /** PG epoch (2000-01-01) offsets from the Unix epoch: binary date is
    * int32 days and binary timestamp[tz] int64 micros, both from
    * 2000-01-01 UTC. */
  private val PgEpochDays = 10957
  private val PgEpochMicros = 946684800000000L

  /** BINARY-format value -> Catalyst, keyed by the RowDescription's
    * type OID (the wire truth — decoding by Spark type alone would
    * misread e.g. an int2's 2 bytes as an int4) and checked against
    * the Spark type the scan expects. Used by the extended-query read
    * path ([[PgWireClient.queryBinary]]); representations per the
    * `send`/`recv` functions the protocol docs point at: network-order
    * integers, IEEE-bits floats, PG-epoch date/timestamp offsets, raw
    * UTF-8 text, raw bytea, base-10000 numeric. */
  def binaryToCatalyst(oid: Int, dt: DataType): Array[Byte] => Any = {
    def i16(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    def i32(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
        ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
    def i64(b: Array[Byte]): Long =
      (i32(b, 0).toLong << 32) | (i32(b, 4).toLong & 0xFFFFFFFFL)
    (oid, dt) match {
      case (OidBool, BooleanType) => b => b(0) != 0
      case (OidInt2, IntegerType) => b => i16(b, 0).toShort.toInt
      case (OidInt2, ShortType) => b => i16(b, 0).toShort
      case (OidInt2, ByteType) => b => {
        val v = i16(b, 0).toShort
        require(v >= Byte.MinValue && v <= Byte.MaxValue,
          s"graft_pg: smallint value $v overflows the requested ByteType")
        v.toByte
      }
      case (OidInt4, IntegerType) => b => i32(b, 0)
      case (OidInt8, LongType) => b => i64(b)
      case (OidFloat4, FloatType) => b => java.lang.Float.intBitsToFloat(i32(b, 0))
      case (OidFloat8, DoubleType) => b => java.lang.Double.longBitsToDouble(i64(b))
      // WIDENING pairs (round 15 review): the text parser accepted any
      // user-supplied WIDER external schema ("42" parses as long or
      // double equally well), and binary-as-default must not regress
      // that — each narrower wire type decodes then upcasts exactly
      case (OidInt2, LongType) => b => i16(b, 0).toShort.toLong
      case (OidInt4, LongType) => b => i32(b, 0).toLong
      case (OidInt2, DoubleType) => b => i16(b, 0).toShort.toDouble
      case (OidInt4, DoubleType) => b => i32(b, 0).toDouble
      case (OidInt8, DoubleType) => b => i64(b).toDouble
      case (OidFloat4, DoubleType) =>
        b => java.lang.Float.intBitsToFloat(i32(b, 0)).toDouble
      case (OidInt2, d: DecimalType) => b =>
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(i16(b, 0).toShort.toLong), d.precision, d.scale)
      case (OidInt4, d: DecimalType) => b =>
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(i32(b, 0).toLong), d.precision, d.scale)
      case (OidInt8, d: DecimalType) => b =>
        org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(i64(b)), d.precision, d.scale)
      case (OidText | OidVarchar | OidBpchar, StringType) =>
        b => UTF8String.fromBytes(b)
      case (OidBytea, BinaryType) => b => b
      case (OidDate, DateType) => b => {
        val d = i32(b, 0)
        // PG's 'infinity'/'-infinity' sentinels have no Catalyst value;
        // the text path fails parsing them too — stay loud, not huge
        require(d != Int.MaxValue && d != Int.MinValue,
          "graft_pg: infinite date has no Spark representation")
        d + PgEpochDays
      }
      case (OidTimestamp | OidTimestampTz, TimestampType | TimestampNTZType) => b => {
        val t = i64(b)
        require(t != Long.MaxValue && t != Long.MinValue,
          "graft_pg: infinite timestamp has no Spark representation")
        Math.addExact(t, PgEpochMicros)
      }
      case (OidNumeric, d: DecimalType) => b => {
        // i16 ndigits, i16 weight (base-10000 exponent of digit 0),
        // u16 sign, u16 dscale, then ndigits x u16 base-10000 digits
        val nd = i16(b, 0).toShort.toInt
        val weight = i16(b, 2).toShort.toInt
        val sign = i16(b, 4)
        val dscale = i16(b, 6)
        require(sign == 0x0000 || sign == 0x4000,
          s"graft_pg: non-finite numeric (sign word 0x${sign.toHexString}) " +
            "has no Spark decimal representation")
        val tenK = java.math.BigInteger.valueOf(10000L)
        var acc = java.math.BigInteger.ZERO
        var i = 0
        while (i < nd) {
          acc = acc.multiply(tenK)
            .add(java.math.BigInteger.valueOf(i16(b, 8 + 2 * i).toLong))
          i += 1
        }
        // value = acc * 10000^(weight - nd + 1), rendered at dscale
        val exp = 4 * (weight - nd + 1)
        var bd = new java.math.BigDecimal(acc, -exp)
        if (sign == 0x4000) bd = bd.negate()
        // setScale(dscale) is exact by the format (digits beyond
        // dscale do not exist); it reproduces the text rendering
        org.apache.spark.sql.types.Decimal(
          bd.setScale(dscale), d.precision, d.scale)
      }
      case (o, t) => throw new IllegalArgumentException(
        s"graft_pg: no binary decode from type OID $o to Spark $t")
    }
  }

  /** Epoch micros -> the ISO text Postgres parses back exactly.
    * LocalTime.toString prints the fraction whenever the nano is
    * nonzero (and PG accepts the seconds-dropped ":HH:MM" form), so
    * the date + ' ' + time concatenation IS the exact rendering —
    * round-15 review removed the unreachable re-append arms. */
  def formatTimestampMicros(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val ldt = LocalDateTime.ofEpochSecond(secs, frac.toInt * 1000, ZoneOffset.UTC)
    val text = ldt.toLocalDate.toString + " " + ldt.toLocalTime.toString
    // ISO-8601 prints years past 9999 with a '+' prefix PG rejects;
    // bare '10000-01-01' parses fine. BC years stay a loud server
    // error on the text paths (the binary formats carry them exactly)
    if (text.charAt(0) == '+') text.substring(1) else text
  }

  /** COPY BINARY cell writer for one Catalyst value (round 15 — the
    * write-path mirror of [[binaryToCatalyst]]): writes the int32
    * payload length + the server's native representation, so the
    * stage COPY skips the per-cell text render AND the server's
    * per-cell input parse (nulls are the caller's int32 -1). The
    * representations are exactly the DataRow binary ones; the
    * differential spec fuzz (write binary, read binary, compare with
    * the server's text rendering) cross-validates them against the
    * server's own recv/send pair. */
  def binaryCellWriter(dt: DataType): (org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int, DataOutputStream) => Unit = dt match {
    case BooleanType => (r, i, o) =>
      { o.writeInt(1); o.writeByte(if (r.getBoolean(i)) 1 else 0) }
    case ByteType => (r, i, o) => { o.writeInt(2); o.writeShort(r.getByte(i).toInt) }
    case ShortType => (r, i, o) => { o.writeInt(2); o.writeShort(r.getShort(i).toInt) }
    case IntegerType => (r, i, o) => { o.writeInt(4); o.writeInt(r.getInt(i)) }
    case LongType => (r, i, o) => { o.writeInt(8); o.writeLong(r.getLong(i)) }
    case FloatType => (r, i, o) =>
      { o.writeInt(4); o.writeInt(java.lang.Float.floatToIntBits(r.getFloat(i))) }
    case DoubleType => (r, i, o) =>
      { o.writeInt(8); o.writeLong(java.lang.Double.doubleToLongBits(r.getDouble(i))) }
    case StringType => (r, i, o) => {
      val b = r.getUTF8String(i).getBytes
      o.writeInt(b.length); o.write(b)
    }
    case BinaryType => (r, i, o) => {
      val b = r.getBinary(i)
      o.writeInt(b.length); o.write(b)
    }
    case DateType => (r, i, o) => { o.writeInt(4); o.writeInt(r.getInt(i) - PgEpochDays) }
    case TimestampType | TimestampNTZType => (r, i, o) =>
      { o.writeInt(8); o.writeLong(Math.subtractExact(r.getLong(i), PgEpochMicros)) }
    case d: DecimalType => (r, i, o) =>
      writeNumericBinary(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal, o)
    case other => throw new IllegalArgumentException(
      s"graft_pg: unsupported binary COPY type $other")
  }

  /** One COPY-binary ROW: int16 field count, then per field the int32
    * length (or -1 for NULL) + payload — the tuple framing of the DSv2
    * DataWriter's stage COPY (batch and streaming). */
  def writeBinaryRow(o: DataOutputStream,
                     row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                     nFields: Int,
                     writers: Array[(org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int, DataOutputStream) => Unit]): Unit = {
    o.writeShort(nFields)
    var i = 0
    while (i < nFields) {
      if (row.isNullAt(i)) o.writeInt(-1) else writers(i)(row, i, o)
      i += 1
    }
  }

  /** Binary `numeric` payload (the encode mirror of the decoder's
    * base-10000 walk): i16 ndigits, i16 weight (base-10000 exponent of
    * the most significant digit), u16 sign, u16 dscale, digits most
    * significant first. The fractional digits pad to a multiple of 4
    * so groups align at the decimal point; trailing zero GROUPS trim
    * (weight anchors the most significant digit, dscale preserves the
    * rendered scale), and BigInteger's canonical form has no leading
    * zero groups. Zero is the spec's ndigits=0 form. */
  def writeNumericBinary(bd: java.math.BigDecimal, o: DataOutputStream): Unit = {
    val s = bd.scale
    require(s >= 0, s"graft_pg: negative decimal scale $s unsupported in COPY binary")
    val neg = bd.signum < 0
    val fracGroups = (s + 3) / 4
    val uP = bd.unscaledValue.abs
      .multiply(java.math.BigInteger.TEN.pow(fracGroups * 4 - s))
    val tenK = java.math.BigInteger.valueOf(10000L)
    var groups = List.empty[Int]
    var x = uP
    while (x.signum != 0) {
      val qr = x.divideAndRemainder(tenK)
      groups = qr(1).intValue :: groups
      x = qr(0)
    }
    val weight = groups.length - fracGroups - 1
    val trimmed = groups.reverse.dropWhile(_ == 0).reverse
    o.writeInt(8 + 2 * trimmed.length)
    o.writeShort(trimmed.length)
    o.writeShort(if (trimmed.isEmpty) 0 else weight)
    o.writeShort(if (neg) 0x4000 else 0)
    o.writeShort(s)
    trimmed.foreach(o.writeShort)
  }
}

/** Minimal PostgreSQL v3 frontend: startup with trust, cleartext, md5,
  * or SCRAM-SHA-256 auth (RFC 5802/7677 over the protocol's SASL
  * messages — the default verifier since PG 10, what a
  * docker-compose'd reference deployment actually challenges with;
  * channel binding declined, SaslPrep identity for the ASCII
  * passwords this surface targets), simple query, COPY IN. One
  * in-flight statement at a time; not thread-safe (one client per
  * partition reader / writer task). */
final class PgWireClient(host: String, port: Int, user: String,
                         database: String,
                         password: Option[String] = None,
                         socketTimeoutMs: Int = 600000,
                         sslMode: String = "disable",
                         sslRootCert: Option[String] = None) extends AutoCloseable {
  import PgWire._

  require(Set("disable", "require", "verify-ca", "verify-full").contains(sslMode),
    s"graft_pg: sslMode must be disable|require|verify-ca|verify-full, got $sslMode")
  require(!sslMode.startsWith("verify-") || sslRootCert.nonEmpty,
    s"graft_pg: sslMode=$sslMode needs a sslRootCert to verify against")

  /** TLS negotiation per the protocol's SSLRequest dance: the 8-byte
    * request goes BEFORE any startup message; 'S' means the server
    * will speak TLS on this same connection, so the raw socket wraps
    * in an SSLSocket and the v3 startup proceeds over it. Trust
    * semantics mirror libpq's documented modes: `require` encrypts
    * without verifying the peer (libpq's own `require` behaves this
    * way), `verify-ca` validates the server certificate chain against
    * the given root cert, and `verify-full` additionally checks that
    * the certificate names the host being dialed (JSSE's HTTPS
    * endpoint-identification rules: SAN dNSName against a hostname,
    * SAN iPAddress against an IP literal — libpq's documented
    * verify-full matching). */
  private val socket: Socket = {
    val raw = new Socket()
    raw.connect(new InetSocketAddress(host, port), 10000)
    raw.setTcpNoDelay(true)
    // read timeout: a stalled/hung server must surface as a loud
    // SocketTimeoutException in the task, not an indefinite hang Spark
    // cannot see past. Default 10 min — generous for the longest
    // single statement this engine issues (a publish INSERT over a
    // bulk-staged partition); raise per-client for bigger monoliths.
    raw.setSoTimeout(socketTimeoutMs)
    if (sslMode == "disable") raw
    else try {
      val o = new DataOutputStream(raw.getOutputStream)
      o.writeInt(8)
      o.writeInt(80877103) // SSLRequest code
      o.flush()
      val resp = raw.getInputStream.read()
      require(resp == 'S',
        s"graft_pg: server declined TLS (response '${resp.toChar}') but " +
          s"sslMode=$sslMode demands it")
      val tms: Array[javax.net.ssl.TrustManager] = sslRootCert match {
        case Some(path) =>
          val cf = java.security.cert.CertificateFactory.getInstance("X.509")
          val fin = new java.io.FileInputStream(path)
          val cert = try cf.generateCertificate(fin) finally fin.close()
          val ks = java.security.KeyStore.getInstance(
            java.security.KeyStore.getDefaultType)
          ks.load(null, null)
          ks.setCertificateEntry("graft_pg_root", cert)
          val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
            javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
          tmf.init(ks)
          tmf.getTrustManagers
        case None =>
          // sslMode=require: encrypt, do not authenticate the peer —
          // libpq's documented `require` semantics, NOT a safe default
          // against active MITM; use verify-ca with a root cert there
          Array(new javax.net.ssl.X509TrustManager {
            override def checkClientTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
            override def checkServerTrusted(
              c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
            override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
              Array.empty
          })
      }
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(null, tms, null)
      val ssl = ctx.getSocketFactory.createSocket(raw, host, port, true)
        .asInstanceOf[javax.net.ssl.SSLSocket]
      ssl.setUseClientMode(true)
      ssl.setSoTimeout(socketTimeoutMs)
      if (sslMode == "verify-full") {
        // hostname check on top of the chain validation: JSSE's HTTPS
        // endpoint identification runs INSIDE the handshake, so a cert
        // that chains to the root but names a different host fails
        // here, before any startup byte leaves the client
        val sp = ssl.getSSLParameters
        sp.setEndpointIdentificationAlgorithm("HTTPS")
        ssl.setSSLParameters(sp)
      }
      ssl.startHandshake()
      ssl
    } catch {
      case e: Throwable =>
        try raw.close() catch { case _: java.io.IOException => () }
        throw e
    }
  }
  private val in = new DataInputStream(
    new BufferedInputStream(socket.getInputStream, 1 << 16))
  private val out = new DataOutputStream(
    new BufferedOutputStream(socket.getOutputStream, 1 << 16))

  private def sendTyped(t: Char, payload: Array[Byte]): Unit = {
    out.writeByte(t)
    out.writeInt(4 + payload.length)
    out.write(payload)
    out.flush()
  }

  private def requirePassword(mech: String): String = password.getOrElse(
    throw new IllegalArgumentException(
      s"graft_pg: server requires $mech authentication but no password " +
        "was supplied (pass option 'password')"))

  /** The SASL mechanism this session authenticated with (None when the
    * server never challenged with SASL) — observability for the spec's
    * channel-binding pin. */
  @volatile private[io] var saslMechanism: Option[String] = None

  // ---- startup -------------------------------------------------------
  // the handshake runs in the constructor: any failure (wrong
  // password, unsupported auth, server error) must close the socket
  // it just opened — close() is unreachable on a throwing initializer
  try {
    val body = new ByteArrayOutputStream()
    val w = new DataOutputStream(body)
    w.writeInt(196608) // protocol 3.0
    // session pinned UTC + ISO so date/timestamp text is engine-exact;
    // standard_conforming_strings pinned ON so the '' doubling in
    // litOf is sufficient escaping regardless of server config — under
    // a legacy server set =off, a backslash in a pushed string value
    // would otherwise become an escape sequence server-side (wrongly
    // excluded rows are unrecoverable by the residual filter, and a
    // data-derived value could break out of the literal entirely)
    Seq("user" -> user, "database" -> database, "client_encoding" -> "UTF8",
        "TimeZone" -> "UTC", "DateStyle" -> "ISO",
        "standard_conforming_strings" -> "on").foreach { case (k, v) =>
      w.write(k.getBytes(UTF_8)); w.write(0)
      w.write(v.getBytes(UTF_8)); w.write(0)
    }
    w.write(0)
    out.writeInt(body.size() + 4)
    body.writeTo(out)
    out.flush()
    var scram: ScramState = null
    var ready = false
    while (!ready) readMessage() match {
      case ('R', b) =>
        val code = ((b(0) & 0xFF) << 24) | ((b(1) & 0xFF) << 16) |
          ((b(2) & 0xFF) << 8) | (b(3) & 0xFF)
        code match {
          case 0 => () // AuthenticationOk
          case 3 => // CleartextPassword
            val p = requirePassword("cleartext-password")
            sendTyped('p', p.getBytes(UTF_8) :+ 0.toByte)
          case 5 => // MD5Password: md5(md5(password + user) + 4-byte salt)
            val p = requirePassword("md5")
            val salt = java.util.Arrays.copyOfRange(b, 4, 8)
            def md5hex(bytes: Array[Byte]): String =
              java.security.MessageDigest.getInstance("MD5").digest(bytes)
                .map(x => f"$x%02x").mkString
            val inner = md5hex((p + user).getBytes(UTF_8))
            val outer = md5hex(inner.getBytes(UTF_8) ++ salt)
            sendTyped('p', s"md5$outer".getBytes(UTF_8) :+ 0.toByte)
          case 10 => // AuthenticationSASL: cstring mechanism list
            val mechs = new String(b, 4, b.length - 4, UTF_8)
              .split('\u0000').filter(_.nonEmpty).toSeq
            // tls-server-end-point channel binding (RFC 5929) is
            // available exactly when this connection runs over TLS:
            // the binding data is a hash of the server's end-entity
            // certificate, which even `require` mode (trust-all
            // manager) surfaces from the handshake
            val cbind: Option[Array[Byte]] = socket match {
              case s: javax.net.ssl.SSLSocket =>
                Some(ScramState.tlsServerEndPoint(
                  s.getSession.getPeerCertificates.head
                    .asInstanceOf[java.security.cert.X509Certificate]))
              case _ => None
            }
            val mech =
              if (cbind.isDefined && mechs.contains("SCRAM-SHA-256-PLUS"))
                "SCRAM-SHA-256-PLUS"
              else if (mechs.contains("SCRAM-SHA-256")) "SCRAM-SHA-256"
              else throw new IllegalArgumentException(
                s"graft_pg: no shared SASL mechanism (server offers $mechs; " +
                  "client speaks SCRAM-SHA-256, plus SCRAM-SHA-256-PLUS " +
                  "when the session runs over TLS — channel binding needs " +
                  "a TLS layer to bind to, so enable sslMode for it)")
            saslMechanism = Some(mech)
            scram = new ScramState(requirePassword(mech),
              channelBinding = mech.endsWith("-PLUS"), tlsEndPoint = cbind)
            val first = scram.clientFirst
            val msg = new ByteArrayOutputStream()
            msg.write(mech.getBytes(UTF_8)); msg.write(0)
            val fb = first.getBytes(UTF_8)
            msg.write((fb.length >>> 24) & 0xFF); msg.write((fb.length >>> 16) & 0xFF)
            msg.write((fb.length >>> 8) & 0xFF); msg.write(fb.length & 0xFF)
            msg.write(fb)
            sendTyped('p', msg.toByteArray)
          case 11 => // AuthenticationSASLContinue: server-first-message
            sendTyped('p', scram
              .clientFinal(new String(b, 4, b.length - 4, UTF_8)).getBytes(UTF_8))
          case 12 => // AuthenticationSASLFinal: v=<ServerSignature>
            scram.verifyServerFinal(new String(b, 4, b.length - 4, UTF_8))
          case other => throw new IllegalArgumentException(
            s"graft_pg: unsupported authentication request code $other")
        }
      case ('S', _) | ('K', _) | ('N', _) => () // ParameterStatus/KeyData/Notice
      case ('Z', _) => ready = true
      case ('E', b) => throw pgError(b)
      case (t, _) => throw new IllegalStateException(
        s"graft_pg: unexpected message '$t' during startup")
    }
  } catch {
    case e: Throwable =>
      try socket.close() catch { case _: java.io.IOException => () }
      throw e
  }

  private def readMessage(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    (t, body)
  }

  private def pgError(body: Array[Byte]): RuntimeException = {
    // fields: (tag byte, cstring)* terminated by a zero byte
    var i = 0
    var msg = "unknown error"
    var sev = "ERROR"
    while (i < body.length && body(i) != 0) {
      val tag = body(i).toChar
      val end = body.indexOf(0.toByte, i + 1)
      val v = new String(body, i + 1, end - i - 1, UTF_8)
      if (tag == 'M') msg = v
      if (tag == 'S') sev = v
      i = end + 1
    }
    new RuntimeException(s"graft_pg: $sev from server: $msg")
  }

  private def sendQuery(sql: String): Unit = {
    val bytes = sql.getBytes(UTF_8)
    out.writeByte('Q')
    out.writeInt(4 + bytes.length + 1)
    out.write(bytes)
    out.writeByte(0)
    out.flush()
  }

  /** Execute a statement, discarding any rows; throws on server error
    * (after draining to ReadyForQuery so the connection stays usable
    * for the caller's error handling). */
  def exec(sql: String): Unit = {
    sendQuery(sql)
    var err: RuntimeException = null
    var done = false
    while (!done) readMessage() match {
      case ('Z', _) => done = true
      case ('E', b) => err = pgError(b)
      case _ => ()
    }
    if (err != null) throw err
  }

  /** Streaming result of one SELECT: `cols` after construction,
    * `nextRow()` yields per-column text bytes (null element = SQL
    * NULL; null array = end of rows, connection drained to ready). */
  final class PgResult private[PgWireClient] (val cols: Array[PgCol]) {
    private var done = false
    def nextRow(): Array[Array[Byte]] = {
      if (done) return null
      while (true) readMessage() match {
        case ('D', b) =>
          // offset cursor, not a DataInputStream: this is the per-row
          // hot path of every scan, and two wrapper allocations plus
          // stream virtual calls per DataRow are pure overhead for
          // reading a short and N ints at known offsets (round 15)
          val n = ((b(0) & 0xFF) << 8) | (b(1) & 0xFF)
          var off = 2
          val row = new Array[Array[Byte]](n)
          var i = 0
          while (i < n) {
            val len = ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
              ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
            off += 4
            if (len >= 0) {
              row(i) = java.util.Arrays.copyOfRange(b, off, off + len)
              off += len
            }
            i += 1
          }
          return row
        case ('C', _) | ('I', _) => () // CommandComplete / EmptyQuery
        case ('Z', _) => done = true; return null
        case ('E', b) => val e = pgError(b); drainToReady(); throw e
        case ('N', _) | ('S', _) => ()
        case (t, _) => throw new IllegalStateException(
          s"graft_pg: unexpected message '$t' in query result")
      }
      null
    }
  }

  private def drainToReady(): Unit = {
    var done = false
    while (!done) readMessage() match {
      case ('Z', _) => done = true
      case _ => ()
    }
  }

  private def parseRowDescription(b: Array[Byte]): Array[PgCol] = {
    val in2 = new DataInputStream(new java.io.ByteArrayInputStream(b))
    val n = in2.readShort().toInt
    val cols = new Array[PgCol](n)
    var i = 0
    while (i < n) {
      // cstring name, then Int32 tableOID, Int16 attnum,
      // Int32 typeOID, Int16 typlen, Int32 typmod, Int16 format
      val name = new ByteArrayOutputStream()
      var c = in2.readByte()
      while (c != 0) { name.write(c); c = in2.readByte() }
      in2.readInt(); in2.readShort()
      val oid = in2.readInt()
      in2.readShort()
      val typmod = in2.readInt()
      in2.readShort()
      cols(i) = PgCol(new String(name.toByteArray, UTF_8), oid, typmod)
      i += 1
    }
    cols
  }

  /** Run one SELECT; blocks until RowDescription arrives. */
  def query(sql: String): PgResult = {
    sendQuery(sql)
    while (true) readMessage() match {
      case ('T', b) => return new PgResult(parseRowDescription(b))
      case ('E', b) => val e = pgError(b); drainToReady(); throw e
      case ('N', _) | ('S', _) => ()
      case ('Z', _) => throw new IllegalStateException(
        s"graft_pg: statement returned no result set: $sql")
      case _ => ()
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run one SELECT through the EXTENDED-QUERY cycle
    * (Parse/Bind/Describe/Execute/Sync) with result format BINARY —
    * the read path's per-row floor is text parsing (every int/float/
    * date/timestamp rendered to decimal text by the server and parsed
    * back client-side); binary DataRow carries the server's native
    * representations (network-order ints, IEEE floats, PG-epoch
    * date/timestamp offsets, base-10000 numeric) and removes the text
    * round-trip entirely — the value is decoded, never re-parsed.
    * Same PgResult streaming contract as [[query]]; decode per
    * [[PgWire.binaryToCatalyst]]. One unnamed statement/portal, no
    * parameters — partition WHERE clauses are inlined at plan time. */
  def queryBinary(sql: String): PgResult = {
    val q = sql.getBytes(UTF_8)
    // Parse: unnamed statement, no pre-specified parameter types
    out.writeByte('P')
    out.writeInt(4 + 1 + q.length + 1 + 2)
    out.writeByte(0); out.write(q); out.writeByte(0); out.writeShort(0)
    // Bind: unnamed portal <- unnamed statement, zero parameters, ONE
    // result-format code (1 = binary) applying to every column
    out.writeByte('B')
    out.writeInt(4 + 1 + 1 + 2 + 2 + 2 + 2)
    out.writeByte(0); out.writeByte(0)
    out.writeShort(0); out.writeShort(0)
    out.writeShort(1); out.writeShort(1)
    // Describe the portal (RowDescription with the result types)
    out.writeByte('D'); out.writeInt(4 + 1 + 1)
    out.writeByte('P'); out.writeByte(0)
    // Execute: no row limit; Sync closes the cycle (and recovers the
    // connection to ReadyForQuery after any error)
    out.writeByte('E'); out.writeInt(4 + 1 + 4)
    out.writeByte(0); out.writeInt(0)
    out.writeByte('S'); out.writeInt(4)
    out.flush()
    while (true) readMessage() match {
      case ('T', b) => return new PgResult(parseRowDescription(b))
      case ('1', _) | ('2', _) => () // ParseComplete / BindComplete
      case ('n', _) => // NoData: statement produces no result set
        drainToReady()
        throw new IllegalStateException(
          s"graft_pg: statement returned no result set: $sql")
      case ('E', b) => val e = pgError(b); drainToReady(); throw e
      case ('N', _) | ('S', _) => ()
      case (t, _) => throw new IllegalStateException(
        s"graft_pg: unexpected message '$t' in extended-query cycle")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Push-style handle over one in-flight `COPY ... FROM STDIN (FORMAT
    * binary)`: the DSv2 DataWriter receives rows one at a time, so it
    * feeds an OPEN copy incrementally. `row` is the stream the caller
    * writes rows into (int16 field count, then per field int32 length
    * or -1 for NULL + the [[PgWire.binaryCellWriter]] payload); the
    * 11-byte signature + flags header is already written, and the
    * stream is chunked into ~64 KB CopyData messages. `finish()` writes
    * the int16 -1 trailer + CopyDone and drains the cycle. Abandoning
    * the handle without finish() and closing the client aborts the
    * COPY server-side (the transaction rolls back). */
  final class CopyBinaryStream private[PgWireClient] () {
    private val chunk = new ByteArrayOutputStream(1 << 16)
    private def flushChunk(): Unit = if (chunk.size() > 0) {
      out.writeByte('d')
      out.writeInt(4 + chunk.size())
      chunk.writeTo(out)
      chunk.reset()
    }
    val row: DataOutputStream = new DataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = {
        chunk.write(b)
        if (chunk.size() >= (1 << 16)) flushChunk()
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        chunk.write(b, off, len)
        if (chunk.size() >= (1 << 16)) flushChunk()
      }
    })
    // signature "PGCOPY\n\377\r\n\0", int32 flags 0, int32 extension 0
    row.write(Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xFF.toByte,
      '\r', '\n', 0x00))
    row.writeInt(0)
    row.writeInt(0)

    def finish(): Unit = {
      row.writeShort(-1) // file trailer
      flushChunk()
      out.writeByte('c') // CopyDone
      out.writeInt(4)
      out.flush()
      var err: RuntimeException = null
      var done = false
      while (!done) readMessage() match {
        case ('Z', _) => done = true
        case ('E', b) => err = pgError(b)
        case _ => ()
      }
      if (err != null) throw err
    }
  }

  def beginCopyBinary(sql: String): CopyBinaryStream = {
    sendQuery(sql)
    var inCopy = false
    while (!inCopy) readMessage() match {
      case ('G', _) => inCopy = true
      case ('E', b) => val e = pgError(b); drainToReady(); throw e
      case ('N', _) | ('S', _) => ()
      case (t, _) => throw new IllegalStateException(
        s"graft_pg: unexpected message '$t' awaiting CopyInResponse")
    }
    new CopyBinaryStream()
  }

  override def close(): Unit = {
    try {
      out.writeByte('X') // Terminate
      out.writeInt(4)
      out.flush()
    } catch { case _: java.io.IOException => () }
    socket.close()
  }
}

/** Client side of one SCRAM-SHA-256[-PLUS] exchange (RFC 5802
  * mechanics with RFC 7677's hash, as PostgreSQL speaks it): nonce
  * from SecureRandom, Hi() = PBKDF2-HMAC-SHA256 (the JDK's), proof =
  * ClientKey XOR HMAC(SHA256(ClientKey), AuthMessage), and the
  * server's signature is VERIFIED — a wire impostor that knows the
  * username but not the verifier fails the handshake loudly.
  *
  * gs2 header by transport (RFC 5802 §6's downgrade-protection
  * lattice): `p=tls-server-end-point,,` when the -PLUS mechanism was
  * negotiated (the c= attribute then carries the gs2 header + the
  * RFC 5929 certificate hash, so a MITM that re-terminated TLS breaks
  * the proof), `y,,` over TLS when the server did NOT offer -PLUS (a
  * genuine PG server always offers it over TLS, so `y` makes a
  * stripped offer fail at the server), `n,,` over plaintext. */
private[io] final class ScramState(password: String,
                                   channelBinding: Boolean = false,
                                   tlsEndPoint: Option[Array[Byte]] = None) {
  import java.util.Base64

  require(!channelBinding || tlsEndPoint.nonEmpty,
    "graft_pg: SCRAM channel binding requires the TLS certificate hash")

  private def hmac(key: Array[Byte], msg: Array[Byte]): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(msg)
  }
  private def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  private val clientNonce: String = {
    val raw = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(raw)
    Base64.getEncoder.encodeToString(raw)
  }
  // PG ignores the SCRAM username field (the startup user governs)
  private val clientFirstBare = s"n=,r=$clientNonce"
  private val gs2Header =
    if (channelBinding) "p=tls-server-end-point,,"
    else if (tlsEndPoint.isDefined) "y,," else "n,,"
  // c= carries base64(gs2-header ++ cbind-data): the binding data is
  // present only under -PLUS; for n/y it is the bare header (b64("n,,")
  // is the RFC's literal "biws")
  private val cbindAttr = Base64.getEncoder.encodeToString(
    gs2Header.getBytes(UTF_8) ++
      (if (channelBinding) tlsEndPoint.get else Array.empty[Byte]))
  private var authMessage: String = _
  private var saltedPassword: Array[Byte] = _

  def clientFirst: String = s"$gs2Header$clientFirstBare"

  /** Consume server-first (`r=...,s=...,i=...`), return client-final. */
  def clientFinal(serverFirst: String): String = {
    val attrs = serverFirst.split(',').map { kv =>
      kv.splitAt(kv.indexOf('=')) match { case (k, v) => k -> v.tail }
    }.toMap
    val nonce = attrs("r")
    require(nonce.startsWith(clientNonce),
      "graft_pg: SCRAM server nonce does not extend the client nonce")
    val salt = Base64.getDecoder.decode(attrs("s"))
    val iters = attrs("i").toInt
    val skf = javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
    saltedPassword = skf.generateSecret(new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, iters, 256)).getEncoded
    val clientKey = hmac(saltedPassword, "Client Key".getBytes(UTF_8))
    val withoutProof = s"c=$cbindAttr,r=$nonce"
    authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
    val clientSig = hmac(sha256(clientKey), authMessage.getBytes(UTF_8))
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    s"$withoutProof,p=${Base64.getEncoder.encodeToString(proof)}"
  }

  /** Verify the server proves knowledge of the verifier (`v=...`). */
  def verifyServerFinal(serverFinal: String): Unit = {
    val v = serverFinal.split(',').find(_.startsWith("v="))
      .getOrElse(throw new IllegalStateException(
        s"graft_pg: SCRAM final message carries no server signature: $serverFinal"))
      .drop(2)
    val serverKey = hmac(saltedPassword, "Server Key".getBytes(UTF_8))
    val expect = Base64.getEncoder.encodeToString(
      hmac(serverKey, authMessage.getBytes(UTF_8)))
    require(java.security.MessageDigest.isEqual(
      expect.getBytes(UTF_8), v.getBytes(UTF_8)),
      "graft_pg: SCRAM server signature mismatch — the server does not " +
        "hold this user's verifier (possible impostor); refusing the session")
  }
}

private[io] object ScramState {
  /** RFC 5929 tls-server-end-point binding data: a hash of the DER
    * server certificate using the hash of its signature algorithm,
    * with MD5/SHA-1 upgraded to SHA-256 (the RFC's rule — and what
    * PostgreSQL's be-secure-common computes on its side). */
  def tlsServerEndPoint(cert: java.security.cert.X509Certificate): Array[Byte] = {
    // Locale.ROOT as hygiene: today's SHA384/SHA512 substring probes
    // contain no 'i' so even a Turkish default locale (which maps
    // "with" -> "WİTH") happens not to break them — pin ROOT anyway
    // so a future probe containing 'I' cannot regress by locale
    val sig = cert.getSigAlgName.toUpperCase(java.util.Locale.ROOT).replace("-", "")
    val alg =
      if (sig.contains("SHA384")) "SHA-384"
      else if (sig.contains("SHA512")) "SHA-512"
      else "SHA-256"
    java.security.MessageDigest.getInstance(alg).digest(cert.getEncoded)
  }
}

/** Engine-facing Postgres operators (the literal scraper.py /
  * visualization.py dataflows) + the local-server lifecycle used where
  * no external Postgres is provisioned. */
object Postgres {
  import PgWire._

  final case class PgConn(host: String, port: Int, database: String, user: String,
                          password: String = "", sslMode: String = "disable",
                          sslRootCert: String = "") {
    /** This server as `graft_pg` source options — the one rendering
      * [[readTable]] and [[overwriteTable]] both pass. */
    def options: Map[String, String] =
      Map("host" -> host, "port" -> port.toString, "database" -> database,
        "user" -> user, "sslmode" -> sslMode, "sslrootcert" -> sslRootCert) ++
        pw(this).map("password" -> _)
  }

  private def pw(conn: PgConn): Option[String] =
    Option(conn.password).filter(_.nonEmpty)

  /** 16-hex-char MD5 digest of a name — THE identity every bounded
    * server-side object name derives from (stage prefixes, the epoch
    * ledger), shared so the schemes cannot silently diverge. */
  private[io] def tableDigest(name: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(name.getBytes(UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** Bounded, collision-proof stage prefix for one target table (see
    * the naming rationale in [[PgBatchWrite]]'s scaladoc). Shared by
    * the batch and streaming writers so each one's sweep sees the
    * other's orphans. */
  private[io] def stagePrefixFor(table: String): String =
    "graft_stage_" + tableDigest(table) + "_"

  /** The streaming epoch ledger's table name (OUTSIDE the stage prefix
    * so sweeps never drop it). */
  private[io] def epochLedgerFor(table: String): String =
    "graft_epochs_" + tableDigest(table)

  /** 8-hex-char scope of one streaming query id — embedded in that
    * query's stage names so two streams on one table cannot clobber
    * each other's stages (and each sweeps only its own lineage). */
  private[io] def queryScope(queryId: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(queryId.getBytes(UTF_8))
      .take(4).map(b => f"$b%02x").mkString

  /** Advisory-lock argument pair for one streaming query's LIVENESS
    * lock on one table (round 16): the writer holds this
    * SESSION-level lock from its first epoch's factory creation until
    * query termination (or JVM death — Postgres releases session
    * locks when the connection dies), and [[sweepStages]] adjudicates
    * an above-mark stage by `pg_try_advisory_lock` on the same key:
    * busy = the owning query is live (spare), acquired = the owner is
    * gone (collect). One definition so writer and sweep can never
    * hash different keys. Digest+scope are hex, so the literal needs
    * no quoting. */
  private[io] def livenessLockArgs(table: String, scope: String): String =
    s"hashtext('graft_stream'), hashtext('${tableDigest(table)}$scope')"

  /** One-row boolean read (`t`/`f`) — the shape pg_try_advisory_lock
    * returns over the simple-query protocol. */
  private[io] def queryBool(c: PgWireClient, sql: String): Boolean = {
    val r = c.query(sql)
    val row = r.nextRow()
    while (r.nextRow() != null) ()
    row != null && row(0) != null && new String(row(0), UTF_8) == "t"
  }

  /** THE stage-publish transaction body, shared by the DSv2 batch
    * commit and the streaming epoch commit (one definition — the
    * rename-first fast path and the empty-input shape must never drift
    * between them). Caller brackets with BEGIN/COMMIT. `truncate`:
    * drop-and-replace (the first stage RENAMES into the target — O(1)
    * catalog work, measured: the INSERT pass was ~20% of a 600k-row
    * overwrite — so a single-partition write publishes with zero
    * server-side row copies, and only the rest pay one); else
    * transactional append with create-on-first-write. */
  private[io] def publishStages(c: PgWireClient, table: String,
                                stages: Seq[String], colsDdl: String,
                                colList: String, truncate: Boolean): Unit = {
    def insertDrop(s: String): Unit = {
      c.exec(s"INSERT INTO ${quoteIdent(table)} ($colList) " +
        s"SELECT $colList FROM ${quoteIdent(s)}")
      c.exec(s"DROP TABLE ${quoteIdent(s)}")
    }
    if (truncate) {
      c.exec(s"DROP TABLE IF EXISTS ${quoteIdent(table)}")
      stages match {
        case head +: rest =>
          c.exec(s"ALTER TABLE ${quoteIdent(head)} RENAME TO ${quoteIdent(table)}")
          rest.foreach(insertDrop)
        case _ => // empty input: the target must still exist, empty
          c.exec(s"CREATE TABLE ${quoteIdent(table)} ($colsDdl)")
      }
    } else {
      c.exec(s"CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} ($colsDdl)")
      stages.foreach(insertDrop)
    }
  }

  /** Open one partition-stage TRANSACTION — the exactly-once-critical
    * steps every stager shares (round-15 review: one definition, so
    * the lock discipline cannot drift between the batch and streaming
    * writers): BEGIN, the per-stage advisory xact lock
    * (rival speculative attempts serialize; the loser's
    * drop-and-recreate supersedes), DROP IF EXISTS, CREATE. The
    * caller streams its COPY and COMMITs (or lets close() roll
    * back). */
  private[io] def openStageTxn(pc: PgWireClient, stageName: String,
                               colsDdl: String): Unit = {
    val st = quoteIdent(stageName)
    pc.exec("BEGIN")
    pc.exec(s"SELECT pg_advisory_xact_lock(hashtext('$stageName'))")
    pc.exec(s"DROP TABLE IF EXISTS $st")
    pc.exec(s"CREATE TABLE $st ($colsDdl)")
  }

  /** The per-TABLE session advisory lock a batch write holds from its
    * pre-staging sweep through its publish commit, and a streaming
    * epoch commit holds for its publish (round 15 advisory): without
    * it, two concurrent overwrites of one table race — run B's sweep
    * matches the table-wide stage prefix and drops run A's committed
    * stages, and A then publishes a PARTIAL target. Serialized, they
    * are last-writer-wins over COMPLETE copies (the reference's to_sql
    * replace semantics); closing the session releases the lock on any
    * exit path, crash included. The TWO-INT form deliberately: it lives
    * in a disjoint advisory space (objsubid 2) from the single-bigint
    * per-stage xact locks (objsubid 1), so a hashtext collision between
    * the table name and a stage name can never deadlock a partition
    * task against the driver's session lock. */
  private[io] def lockTable(c: PgWireClient, table: String): Unit =
    c.exec("SELECT pg_advisory_lock(hashtext('graft_overwrite'), hashtext('" +
      table.replace("'", "''") + "'))")

  /** `(column DDL, column list)` of a write schema: the CREATE TABLE
    * body of stages and targets, and the COPY/INSERT column list. */
  private[io] def columnsSql(schema: StructType): (String, String) = (
    schema.fields.map(f => s"${quoteIdent(f.name)} ${sparkToPgType(f.dataType)}")
      .mkString(", "),
    schema.fields.map(f => quoteIdent(f.name)).mkString(", "))

  /** Orphan-stage sweep for one table, STREAM-AWARE (round-15 review:
    * a blind table-wide sweep under the batch lock would drop a
    * concurrently-running streaming query's live epoch stages — the
    * streaming side stages WITHOUT the table lock by design, taking it
    * only per-epoch-commit). Batch-nonce stages always drop (their
    * runs hold the lock end-to-end, so any present here are orphans).
    * Streaming-scoped stages (`q<scope>e<hexEpoch>_<pid>`) drop only
    * when the epoch ledger proves their epoch already PUBLISHED for
    * that query scope (a replayed commit skips publishing, so the
    * stage is dead weight either way); an epoch above the mark may be
    * in flight — it drops only when the scope's LIVENESS lock
    * (round 16, [[livenessLockArgs]]) is acquirable, i.e. the owning
    * query's driver connection is gone. A live stream holds that
    * session lock from before its first stage lands until query
    * termination, so "above the mark AND lock free" proves the owner
    * died (or terminated without abort) — the r15 residue, a
    * permanently-dead stream leaking its mid-epoch stages until
    * manual cleanup, is now collected by the next sweep. Remaining
    * residue: a query that terminates without abort in a STILL-LIVE
    * JVM whose termination listener also failed to fire keeps its
    * lock until JVM exit — stages stay visible in the catalog, never
    * silent data. */
  private[io] def sweepStages(c: PgWireClient, table: String): Unit = {
    val prefix = stagePrefixFor(table)
    val ledger = epochLedgerFor(table)
    lazy val marks: Map[String, Long] = {
      val exists = {
        val r = c.query("SELECT 1 FROM pg_tables WHERE tablename = '" +
          ledger + "'")
        val row = r.nextRow()
        while (r.nextRow() != null) ()
        row != null
      }
      if (!exists) Map.empty
      else {
        val r = c.query(s"SELECT query_id, max(last_epoch) FROM " +
          s"${quoteIdent(ledger)} GROUP BY query_id")
        val out = scala.collection.mutable.HashMap.empty[String, Long]
        var row = r.nextRow()
        while (row != null) {
          out(queryScope(new String(row(0), UTF_8))) =
            new String(row(1), UTF_8).toLong
          row = r.nextRow()
        }
        out.toMap
      }
    }
    val aboveMark = scala.collection.mutable.HashMap
      .empty[String, List[String]] // scope -> its possibly-in-flight stages
    listStagesOf(c, prefix).foreach { s =>
      val rest = s.stripPrefix(prefix)
      if (rest.startsWith("q") && rest.length > 10 && rest.charAt(9) == 'e') {
        val scope = rest.substring(1, 9)
        val epoch = try Some(java.lang.Long.parseLong(
          rest.substring(10).takeWhile(_ != '_'), 16))
          catch { case _: NumberFormatException => None }
        if (epoch.exists(e => marks.get(scope).exists(_ >= e)))
          c.exec(s"DROP TABLE ${quoteIdent(s)}")
        else aboveMark(scope) = s :: aboveMark.getOrElse(scope, Nil)
      } else c.exec(s"DROP TABLE ${quoteIdent(s)}")
    }
    // above-mark stages: liveness-adjudicated per scope. A live owner
    // holds its session liveness lock (acquired BEFORE any of its
    // stages exist), so try-lock success here proves the owner is
    // gone and its stages are orphans. The transient hold below is
    // why the writer's own acquisition retries briefly instead of
    // failing on first contention.
    aboveMark.foreach { case (scope, stages) =>
      val args = livenessLockArgs(table, scope)
      if (queryBool(c, s"SELECT pg_try_advisory_lock($args)")) {
        try stages.foreach(s => c.exec(s"DROP TABLE IF EXISTS ${quoteIdent(s)}"))
        finally c.exec(s"SELECT pg_advisory_unlock($args)")
      }
    }
  }

  /** Catalog listing of stage tables under `prefix` (hex digest/nonce
    * means the only LIKE metachars are the underscores, escaped). */
  private[io] def listStagesOf(c: PgWireClient, prefix: String): Seq[String] = {
    val r = c.query("SELECT tablename FROM pg_tables WHERE tablename LIKE '" +
      prefix.replace("_", "\\_") + "%' ESCAPE '\\'")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var row = r.nextRow()
    while (row != null) {
      out += new String(row(0), UTF_8)
      row = r.nextRow()
    }
    out.toSeq
  }

  private def client(conn: PgConn): PgWireClient =
    new PgWireClient(conn.host, conn.port, conn.user, conn.database, pw(conn),
      sslMode = conn.sslMode,
      sslRootCert = Option(conn.sslRootCert).filter(_.nonEmpty))

  /** Drop-and-recreate + parallel binary COPY — the exact semantics of
    * the reference's `to_sql(name, engine, if_exists='replace',
    * index=False)` (scraper.py:23-24): the old table (if any) is
    * dropped, a fresh one is created from the DataFrame's schema with
    * NO surrogate index column, and rows bulk-load exactly once under
    * task retries and speculation. It is the `graft_pg` DSv2 overwrite;
    * [[PgBatchWrite]] documents the staged-commit protocol. */
  def overwriteTable(df: DataFrame, conn: PgConn, table: String): Unit =
    df.write.format("graft_pg").options(conn.options).option("dbtable", table)
      .mode("overwrite").save()

  /** Whole-table / partitioned read through the `graft_pg` source
    * (visualization.py:14-21's `pd.read_sql`, re-expressed as a
    * partition-parallel scan). */
  def readTable(s: SparkSession, conn: PgConn, table: String,
                partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = s.read.format("graft_pg").options(conn.options).option("dbtable", table)
    partitionColumn.fold(base) { case (col, lo, hi, n) =>
      base.option("partitionColumn", col).option("lowerBound", lo.toString)
        .option("upperBound", hi.toString).option("numPartitions", n.toString)
    }.load()
  }

  // ---- local server lifecycle ---------------------------------------

  /** Default port for the engine-managed local server (off the 5432
    * well-known port so a system Postgres never collides). */
  val DefaultLocalPort = 54330

  @volatile private var started = Set.empty[Int]

  /** Ensure a LOCAL PostgreSQL server is running on `port` with trust
    * auth and a superuser `graft`, data under `dataRoot` — the
    * engine-managed stand-in for a provisioned instance (the
    * reference runs Postgres via docker-compose; this container has
    * the server binaries but no orchestrator). Idempotent; a JVM
    * shutdown hook stops what this call started. Postgres refuses to
    * run as root, so under a root JVM every server command is wrapped
    * in `setpriv --reuid=nobody` with the data root chowned to match
    * — staging-fixture plumbing, not engine dataflow. */
  def ensureLocalServer(dataRoot: String, port: Int = DefaultLocalPort): PgConn = synchronized {
    val conn = PgConn("127.0.0.1", port, "postgres", "graft")
    if (started.contains(port)) return conn
    // probe-first: another engine process (a spec JVM, an earlier
    // harness run whose hook hasn't fired) may already serve this port
    // with trust auth — reuse it instead of failing the bind. Tables
    // are namespaced graft_* and overwritten per run, so sharing a
    // server is safe for sequential runs.
    try {
      val c = client(conn)
      try c.exec("SELECT 1") finally c.close()
      started += port
      return conn
    } catch { case _: Exception => () }
    val root = java.nio.file.Paths.get(dataRoot)
    java.nio.file.Files.createDirectories(root)
    val isRoot = System.getProperty("user.name") == "root"
    val prefix =
      if (isRoot) {
        java.nio.file.Files.setOwner(root,
          root.getFileSystem.getUserPrincipalLookupService
            .lookupPrincipalByName("nobody"))
        Seq("setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups")
      } else Seq.empty
    def run(cmd: String*): Int = {
      val pb = new ProcessBuilder((prefix ++ cmd).asJava)
      pb.redirectErrorStream(true)
      pb.redirectOutput(new java.io.File(s"$dataRoot/cmd.log"))
      pb.start().waitFor()
    }
    val data = s"$dataRoot/data"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$data/PG_VERSION"))) {
      require(run("initdb", "-D", data, "-A", "trust", "-U", "graft") == 0,
        s"graft_pg: initdb failed — see $dataRoot/cmd.log")
    }
    if (run("pg_ctl", "-D", data, "status") != 0) {
      require(run("pg_ctl", "-D", data, "-l", s"$dataRoot/server.log", "-w",
        "-o", s"-p $port -k $dataRoot -c listen_addresses=127.0.0.1",
        "start") == 0,
        s"graft_pg: server start failed — see $dataRoot/server.log")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val pb = new ProcessBuilder(
          (prefix ++ Seq("pg_ctl", "-D", data, "-m", "fast", "stop")).asJava)
        pb.start().waitFor()
        ()
      }))
    }
    started += port
    conn
  }
}

/** `format("graft_pg")` — DataSourceV2 over the wire client. Options:
  * host, port, database, user, dbtable, and optionally
  * partitionColumn/lowerBound/upperBound/numPartitions for a
  * range-partitioned parallel read. */
class PgSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft_pg"

  override def supportsExternalMetadata(): Boolean = true

  /** Schema from the server's own RowDescription of a zero-row SELECT
    * — one metadata round-trip, no data scanned, types from pg_type
    * OIDs (the catalog-true answer, not inference). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = PgSourceOptions(options)
    val c = opts.newClient()
    try {
      val res = c.query(
        s"SELECT * FROM ${PgWire.quoteIdent(opts.table)} WHERE false")
      while (res.nextRow() != null) () // drain (zero rows)
      StructType(res.cols.map(col =>
        StructField(col.name, PgWire.oidToSpark(col.oid, col.typmod), nullable = true)))
    } finally c.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    PgTable(schema, PgSourceOptions(new CaseInsensitiveStringMap(properties)))
}

private[io] case class PgSourceOptions(host: String, port: Int, database: String,
                                       user: String, password: Option[String],
                                       sslMode: String, sslRootCert: Option[String],
                                       table: String,
                                       partition: Option[(String, Long, Long, Int)]) {
  def newClient(socketTimeoutMs: Int = 600000): PgWireClient =
    new PgWireClient(host, port, user, database, password,
      socketTimeoutMs = socketTimeoutMs, sslMode = sslMode,
      sslRootCert = sslRootCert)
}

private[io] object PgSourceOptions {
  def apply(options: CaseInsensitiveStringMap): PgSourceOptions = {
    def req(k: String) = Option(options.get(k)).getOrElse(
      throw new IllegalArgumentException(s"graft_pg requires the '$k' option"))
    val part = Option(options.get("partitioncolumn")).map { c =>
      (c, req("lowerbound").toLong, req("upperbound").toLong,
        math.max(1, req("numpartitions").toInt))
    }
    PgSourceOptions(
      host = Option(options.get("host")).getOrElse("127.0.0.1"),
      port = Option(options.get("port")).map(_.toInt)
        .getOrElse(Postgres.DefaultLocalPort),
      database = Option(options.get("database")).getOrElse("postgres"),
      user = Option(options.get("user")).getOrElse("graft"),
      password = Option(options.get("password")).filter(_.nonEmpty),
      sslMode = Option(options.get("sslmode")).filter(_.nonEmpty)
        .getOrElse("disable"),
      sslRootCert = Option(options.get("sslrootcert")).filter(_.nonEmpty),
      table = req("dbtable"),
      partition = part)
  }
}

private[io] case class PgTable(tableSchema: StructType, opts: PgSourceOptions)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft_pg(${opts.table})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new PgScanBuilder(tableSchema, opts)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new PgWriteBuilder(info.schema(), opts, info.queryId())
}

/** DSv2 WRITE surface: `df.write.format("graft_pg")` (batch,
  * [[PgBatchWrite]]) and `df.writeStream.format("graft_pg")`
  * (streaming, [[PgStreamingWrite]]); `mode("overwrite")` /
  * complete output mode arrive as [[truncate]]. */
private[io] class PgWriteBuilder(schema: StructType, opts: PgSourceOptions,
                                 queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new PgBatchWrite(schema, opts, doTruncate)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new PgStreamingWrite(schema, opts, doTruncate, queryId)
    }
}

private[io] final case class PgStageCommit(stage: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The BATCH write (round 15) — `mode("append")` / `mode("overwrite")`,
  * and through the latter [[Postgres.overwriteTable]]. EXACTLY-ONCE
  * under retries and speculation (the property the parquet sink gets
  * from its commit protocol — a direct-to-target COPY would duplicate a
  * partition whose task succeeded but failed to REPORT success): each
  * DataWriter COPYs its partition into its own STAGE table inside one
  * transaction that first takes a per-stage advisory xact lock and then
  * drop-and-recreates the stage ([[Postgres.openStageTxn]]) — a retried
  * attempt REPLACES its predecessor's rows instead of appending, and
  * concurrent speculative attempts serialize on the lock (a bare DROP
  * IF EXISTS cannot see a rival's UNCOMMITTED create, so without the
  * lock the loser's CREATE would fail 'already exists' instead of
  * superseding). The writer returns its stage name as its commit
  * MESSAGE, and the driver publishes exactly the message-listed stages
  * in ONE transaction ([[Postgres.publishStages]]): readers see the old
  * table until the commit instant and the complete new one after it, a
  * stage missing at publish time fails the RENAME/INSERT loudly (never
  * a silent subset), and a failed job's [[abort]] drops this run's
  * committed stages while the old table stays untouched (Postgres DDL
  * is transactional).
  *
  * Stage names are `<Postgres.stagePrefixFor(table)><nonce>_<partition>`.
  * The digest prefix is bounded well inside Postgres' 63-byte
  * identifier limit for any table name (a raw `<table>__stage_<i>`
  * would silently TRUNCATE at 63 bytes and collapse distinct stages
  * into one) and collision-proof against user tables short of a
  * deliberate name under it. The per-RUN nonce is the file committers'
  * job-unique attempt ID: a ZOMBIE task of a previous run — hung in a
  * socket read through that run's publish — that later wakes and
  * commits its stale stage does so under ITS OWN nonce, which this
  * run's publish never lists; the next run's table-wide sweep drops it.
  *
  * The per-table session lock ([[Postgres.lockTable]]) spans factory
  * creation (the orphan sweep included) through commit/abort, so
  * concurrent writes to one table serialize whole. Its connection has
  * an INFINITE socket read timeout: waiting on a rival's lock is the
  * designed behavior, and a rival staging a large table can hold it
  * longer than the 600 s default — a bounded timeout would turn
  * "serialize behind the other writer" into a spurious
  * SocketTimeoutException; a dead server still surfaces through TCP
  * (reset / EOF), not a hang. Cost: one server-side row copy per stage
  * after the first (which is renamed), and one connection per
  * CONCURRENT non-empty task — size task slots (or coalesce the frame)
  * against the server's max_connections. Phase counters:
  * `pg_write_stage_ms` (factory creation to commit entry — the Spark
  * job) and `pg_write_publish_ms` (the publish transaction). */
private[io] class PgBatchWrite(schema: StructType, opts: PgSourceOptions,
                               truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import PgWire._

  private val runStagePrefix = Postgres.stagePrefixFor(opts.table) +
    java.lang.Long.toHexString(
      new java.security.SecureRandom().nextLong() & 0xffffffffL) + "_"
  private val (colsDdl, colList) = Postgres.columnsSql(schema)
  // the lock-holding driver connection — opened at factory creation,
  // closed (releasing the lock) in commit/abort
  @volatile private var lockClient: PgWireClient = _
  @volatile private var stage0 = 0L

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    lockClient = opts.newClient(socketTimeoutMs = 0)
    // Spark calls abort only once the job has started, so a failure
    // here must release the lock itself
    try {
      Postgres.lockTable(lockClient, opts.table)
      // sweep orphans of any crashed prior run, under the lock
      // (stream-aware: a live streaming epoch's stages are spared)
      Postgres.sweepStages(lockClient, opts.table)
    } catch { case e: Throwable => releaseLock(); throw e }
    stage0 = System.nanoTime()
    PgDataWriterFactory(schema, opts, runStagePrefix, colsDdl, colList)
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val pub0 = System.nanoTime()
    graft.Metrics.add("pg_write_stage_ms", (pub0 - stage0) / 1000000L)
    try {
      val stages = messages.collect {
        case PgStageCommit(s) if s != null => s
      }.sorted.toSeq
      val c = lockClient
      c.exec("BEGIN")
      Postgres.publishStages(c, opts.table, stages, colsDdl, colList, truncate)
      c.exec("COMMIT")
      graft.Metrics.add("pg_write_publish_ms", (System.nanoTime() - pub0) / 1000000L)
    } finally releaseLock()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    // abort may arrive with no live lock connection (a commit that
    // failed mid-publish released it in its finally) — the cleanup
    // must still run, and the run-nonce-scoped stages are this run's
    // own, safe to drop lock-free
    val c = if (lockClient != null) lockClient else opts.newClient()
    lockClient = null
    try Postgres.listStagesOf(c, runStagePrefix)
      .foreach(s => c.exec(s"DROP TABLE ${quoteIdent(s)}"))
    finally c.close()
  }

  private def releaseLock(): Unit = {
    val c = lockClient
    lockClient = null
    if (c != null) c.close()
  }
}

/** STREAMING write (round 15): `df.writeStream.format("graft_pg")` —
  * per-epoch EXACTLY-ONCE appends over the same staged machinery. Each
  * epoch's writers stage under a DETERMINISTIC epoch-derived prefix
  * (a replayed epoch's attempts REPLACE the same stages instead of
  * duplicating), and the driver-side commit is gated by a single-row
  * HIGH-WATER-MARK ledger (`graft_epochs_<digest>` — outside the
  * sweeps' stage prefix) updated in the publish transaction: epochs
  * commit in order, so a recovery-replayed epoch at or below the mark
  * drops its stages and publishes NOTHING — rows land exactly once no
  * matter how many times Spark replays the epoch. `truncate` (complete
  * output mode) replaces the target per epoch through the same gate.
  * The per-table advisory lock is taken per-COMMIT (not for the
  * stream's lifetime), so a concurrent batch job serializes against
  * each epoch, not against the whole query. */
private[io] class PgStreamingWrite(schema: StructType, opts: PgSourceOptions,
                                   truncate: Boolean, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import PgWire._

  private val tableStagePrefix = Postgres.stagePrefixFor(opts.table)
  private val ledger = Postgres.epochLedgerFor(opts.table)
  // stages are scoped by the QUERY as well as the epoch (round-15
  // review): without the scope, two streams on one table would write
  // identical stage names at equal epochs (last-writer-wins data
  // swaps) and each one's stale-epoch sweep would drop the other's
  // in-flight stages
  private val queryPrefix = tableStagePrefix + "q" +
    Postgres.queryScope(queryId) + "e"
  private val (colsDdl, colList) = Postgres.columnsSql(schema)
  private def epochPrefix(epochId: Long): String =
    queryPrefix + java.lang.Long.toHexString(epochId) + "_"

  // The query's LIVENESS lock connection (round 16): a session-level
  // advisory lock on (table digest, query scope) held from BEFORE the
  // first epoch's stages land until the query terminates — released by
  // the termination listener below, or by Postgres itself when the
  // driver JVM dies. sweepStages adjudicates above-mark stages on
  // exactly this lock (acquirable = owner dead, collect; busy = live,
  // spare), which closes the r15 residue of a permanently-dead stream
  // leaking its mid-epoch stages. Held ACROSS epochs, not per epoch:
  // in continuous mode the factory is created once, and a per-epoch
  // release would leave later epochs unprotected.
  @volatile private var liveness: PgWireClient = _

  /** Acquire once, first factory call. try-lock with a short retry
    * window rather than a blocking lock: the only legitimate holder
    * is a sweep's transient adjudication probe (released in
    * microseconds) or a just-terminated prior run of this query id
    * whose async listener hasn't closed its connection yet — both
    * clear well inside the window. A persistent holder (a 32-bit
    * hashtext collision with another live stream) must DEGRADE to the
    * pre-r16 behavior (no liveness protection, stages leak on death,
    * loud stderr) instead of hanging every epoch of this query. */
  // failed acquisition windows so far — after 3, stop retrying (a
  // holder that survived 15 s of probes is not a sweep's transient
  // hold; re-paying the window every epoch would tax a short-trigger
  // stream forever for a once-in-a-universe hash collision)
  private var livenessMisses = 0

  private def ensureLiveness(): Unit = synchronized {
    if (liveness == null && livenessMisses < 3) {
      val c = opts.newClient(socketTimeoutMs = 0)
      val args = Postgres.livenessLockArgs(opts.table,
        Postgres.queryScope(queryId))
      val deadline = System.nanoTime() + 5000000000L
      var got = false
      try {
        got = Postgres.queryBool(c, s"SELECT pg_try_advisory_lock($args)")
        while (!got && System.nanoTime() < deadline) {
          Thread.sleep(50)
          got = Postgres.queryBool(c, s"SELECT pg_try_advisory_lock($args)")
        }
      } catch { case e: Throwable => c.close(); throw e }
      if (got) {
        liveness = c
        livenessMisses = 0
        registerTerminationHook()
      } else {
        c.close()
        livenessMisses += 1
        System.err.println(s"[graft_pg] WARN: liveness lock for streaming " +
          s"query $queryId on ${opts.table} is held elsewhere " +
          s"(attempt $livenessMisses/3) — proceeding without it (a crash " +
          "may leak this query's in-flight stages until manual cleanup)")
      }
    }
  }

  private def releaseLiveness(): Unit = synchronized {
    val c = liveness
    liveness = null
    if (c != null) c.close() // session lock dies with the connection
  }

  /** Close the liveness connection when THIS query terminates, so a
    * long-lived driver JVM (bench/verify reruns) neither accumulates
    * idle connections nor makes stopped queries look live to sweeps.
    * Registered on the CONTEXT-WIDE listener bus, not a
    * StreamingQueryManager: the micro-batch thread's active session is
    * a CLONE of the user's, and a manager-level listener there never
    * sees events for a query the ORIGINAL session started (the
    * manager bus filters by its own runIds) — measured in
    * PgWireSpec's liveness test. `QueryTerminatedEvent` extends
    * `SparkListenerEvent`, so a plain SparkListener receives it
    * unfiltered via onOtherEvent. Removal happens inside the callback
    * (the bus is copy-on-write). If no session is reachable, skip —
    * the lock then lives until JVM exit, which is the pre-r16 sweep
    * posture, never worse. */
  private def registerTerminationHook(): Unit =
    try org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach { s =>
        val sc = s.sparkContext
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onOtherEvent(
              event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
            event match {
              case e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent
                  if e.id.toString == queryId =>
                releaseLiveness()
                sc.removeSparkListener(this)
              case _ => ()
            }
        })
      }
    catch { case _: Throwable => () }

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    ensureLiveness()
    PgStreamingWriterFactory(schema, opts, queryPrefix, colsDdl, colList)
  }

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val stages = messages.collect {
      case PgStageCommit(s) if s != null => s
    }.sorted.toSeq
    val c = opts.newClient(socketTimeoutMs = 0)
    try {
      Postgres.lockTable(c, opts.table)
      c.exec("BEGIN")
      // the mark is scoped by the STABLE streaming query id (persisted
      // in the checkpoint metadata, unchanged across restarts): a
      // restarted query's replayed epoch is suppressed, while a FRESH
      // query (new checkpoint, epochs restarting at 0) over the same
      // table starts its own mark instead of inheriting a stale one
      c.exec(s"CREATE TABLE IF NOT EXISTS ${quoteIdent(ledger)} " +
        "(query_id text, last_epoch bigint)")
      val qLit = "'" + queryId.replace("'", "''") + "'"
      val r = c.query(s"SELECT max(last_epoch) FROM ${quoteIdent(ledger)} " +
        s"WHERE query_id = $qLit")
      val row = r.nextRow()
      val mark: Option[Long] =
        if (row == null || row(0) == null) None
        else Some(new String(row(0), UTF_8).toLong)
      while (r.nextRow() != null) ()
      if (mark.exists(_ >= epochId)) {
        // replayed epoch: its rows are already in the target — drop
        // the re-staged copies and publish nothing (exactly-once)
        stages.foreach(s => c.exec(s"DROP TABLE IF EXISTS ${quoteIdent(s)}"))
      } else {
        Postgres.publishStages(c, opts.table, stages, colsDdl, colList, truncate)
        c.exec(s"DELETE FROM ${quoteIdent(ledger)} WHERE query_id = $qLit")
        c.exec(s"INSERT INTO ${quoteIdent(ledger)} VALUES ($qLit, $epochId)")
        // sweep orphaned stages of EARLIER epochs of THIS query (a
        // crashed attempt whose epoch never re-ran — without this, a
        // long-running stream that hit one task crash would leak its
        // stage until the next batch overwrite's sweep). Scoped by the
        // query prefix, so another stream's in-flight stages are
        // untouchable; same-epoch stages are this commit's own and
        // were just consumed.
        Postgres.listStagesOf(c, queryPrefix).foreach { s =>
          val hex = s.stripPrefix(queryPrefix).takeWhile(_ != '_')
          val stale = try java.lang.Long.parseLong(hex, 16) < epochId
            catch { case _: NumberFormatException => false }
          if (stale) c.exec(s"DROP TABLE IF EXISTS ${quoteIdent(s)}")
        }
      }
      c.exec("COMMIT")
    } finally c.close()
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val c = opts.newClient()
    try Postgres.listStagesOf(c, epochPrefix(epochId))
      .foreach(s => c.exec(s"DROP TABLE ${quoteIdent(s)}"))
    finally c.close()
  }
}

private[io] case class PgStreamingWriterFactory(schema: StructType,
                                                opts: PgSourceOptions,
                                                queryPrefix: String,
                                                colsDdl: String, colList: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new PgDataWriter(schema, opts,
      queryPrefix + java.lang.Long.toHexString(epochId) + "_" + partitionId,
      colsDdl, colList)
}

private[io] case class PgDataWriterFactory(schema: StructType,
                                           opts: PgSourceOptions,
                                           runStagePrefix: String,
                                           colsDdl: String, colList: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new PgDataWriter(schema, opts, s"$runStagePrefix$partitionId",
      colsDdl, colList)
}

/** Executor-side writer for one partition: lazily opens its stage
  * (BEGIN + advisory xact lock + DROP/CREATE + an open binary COPY) on
  * the first row, so empty partitions stage nothing and commit a null
  * stage. commit() closes the COPY and the transaction — the atomic
  * success marker a retried attempt replaces wholesale. */
private[io] class PgDataWriter(schema: StructType, opts: PgSourceOptions,
                               stageName: String,
                               colsDdl: String, colList: String)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import PgWire._

  private val types = schema.fields.map(_.dataType)
  private val writers = types.map(PgWire.binaryCellWriter)
  private var client: PgWireClient = _
  private var copy: PgWireClient#CopyBinaryStream = _

  private def open(): Unit = {
    client = opts.newClient()
    Postgres.openStageTxn(client, stageName, colsDdl)
    copy = client.beginCopyBinary(
      s"COPY ${quoteIdent(stageName)} ($colList) FROM STDIN (FORMAT binary)")
  }

  override def write(row: InternalRow): Unit = {
    if (client == null) open()
    PgWire.writeBinaryRow(copy.row, row, types.length, writers)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    if (client == null) PgStageCommit(null) // empty partition
    else {
      copy.finish()
      client.exec("COMMIT")
      PgStageCommit(stageName)
    }

  override def abort(): Unit = close() // dropping the connection rolls back

  override def close(): Unit = {
    val c = client
    client = null
    if (c != null) c.close()
  }
}

private[io] class PgScanBuilder(full: StructType, opts: PgSourceOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Push what compiles to SQL, but return EVERY filter as residual
    * (the [[HttpCsvScanBuilder]] discipline): Spark re-applies them
    * post-scan, so server-side filtering only shrinks the wire volume
    * and can never change the answer. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => PgFilterSql.compile(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = PgScan(required, opts, pushed)
}

/** Supported-filter -> SQL text (conservative surface: comparisons,
  * IN, IS [NOT] NULL, AND/OR/NOT over those). */
private[io] object PgFilterSql {
  import PgWire.{quoteIdent, litOf}

  /** String inequalities carry an explicit COLLATE "C" (round-15
    * review): Spark compares strings in binary UTF-8 order, while a
    * server with a linguistic default collation (the docker image's
    * en_US.utf8, say) would order 'a' before 'A' — a pushed `< 'a'`
    * would then exclude rows Spark's semantics keep, and the residual
    * can only drop rows, never restore them. "C" is memcmp over the
    * UTF-8 bytes — exactly Spark's order. Equality/IN need no pin
    * (text equality in PG is bytewise under any collation). */
  private def collateIfString(v: Any, lit: String): String = v match {
    case _: String | _: UTF8String => lit + " COLLATE \"C\""
    case _ => lit
  }

  def compile(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => litOf(v).map(l => s"${quoteIdent(a)} = $l")
    case GreaterThan(a, v) =>
      litOf(v).map(l => s"${quoteIdent(a)} > ${collateIfString(v, l)}")
    case GreaterThanOrEqual(a, v) =>
      litOf(v).map(l => s"${quoteIdent(a)} >= ${collateIfString(v, l)}")
    case LessThan(a, v) =>
      litOf(v).map(l => s"${quoteIdent(a)} < ${collateIfString(v, l)}")
    case LessThanOrEqual(a, v) =>
      litOf(v).map(l => s"${quoteIdent(a)} <= ${collateIfString(v, l)}")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.map(litOf)
      if (ls.forall(_.isDefined))
        Some(s"${quoteIdent(a)} IN (${ls.map(_.get).mkString(", ")})")
      else None
    case IsNull(a) => Some(s"${quoteIdent(a)} IS NULL")
    case IsNotNull(a) => Some(s"${quoteIdent(a)} IS NOT NULL")
    case And(l, r) => for (ls <- compile(l); rs <- compile(r))
      yield s"($ls AND $rs)"
    case Or(l, r) => for (ls <- compile(l); rs <- compile(r))
      yield s"($ls OR $rs)"
    case Not(c) => compile(c).map(cs => s"(NOT $cs)")
    case _ => None
  }
}

/** One connection's slice: the full WHERE clause (range predicate +
  * pushed filters) is computed at planning. */
private[io] case class PgRangePartition(whereSql: String) extends InputPartition

private[io] case class PgScan(required: StructType, opts: PgSourceOptions,
                              filters: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_pg table=${opts.table} partitions=${opts.partition.map(_._4).getOrElse(1)} " +
      s"PushedFilters=[${filters.mkString(", ")}] ReadSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = {
    val pushedSql = filters.flatMap(PgFilterSql.compile)
    val ranges: Seq[Option[String]] = opts.partition match {
      case None => Seq(None)
      case Some((col, lo, hi, n)) =>
        val c = PgWire.quoteIdent(col)
        val stride = math.max(1L, (hi - lo) / n)
        (0 until n).map { i =>
          val lb = lo + i * stride
          val ub = lo + (i + 1) * stride
          // edge partitions open-ended (+ NULL keys into the first) so
          // rows outside [lo, hi) are never lost — the Spark JDBC
          // source's lossless-partitioning contract
          if (n == 1) None
          else if (i == 0) Some(s"($c < $ub OR $c IS NULL)")
          else if (i == n - 1) Some(s"$c >= $lb")
          else Some(s"($c >= $lb AND $c < $ub)")
        }
    }
    ranges.map { r =>
      val preds = r.toSeq ++ pushedSql
      PgRangePartition(
        if (preds.isEmpty) "" else preds.mkString(" WHERE ", " AND ", ""))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PgReaderFactory(required, opts)
}

private[io] case class PgReaderFactory(required: StructType, opts: PgSourceOptions)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PgPartitionReader(partition.asInstanceOf[PgRangePartition], required, opts)
}

/** Executor-side reader: one wire connection streaming one slice.
  * Projection happens server-side (the SELECT list is the pruned
  * schema), so the wire carries only the touched columns. The result
  * format is BINARY over the extended-query cycle (decode instead of
  * text re-parse — the per-row floor of a text read). Each slice
  * accumulates its wall into the `pg_read_binary_ms` counter. */
private[io] class PgPartitionReader(p: PgRangePartition, required: StructType,
                                    opts: PgSourceOptions)
    extends PartitionReader[InternalRow] {

  // built from the RowDescription's OIDs at open()
  private var convs: Array[Array[Byte] => Any] = _
  private var client: PgWireClient = _
  private var result: PgWireClient#PgResult = _
  private var row: Array[Array[Byte]] = _
  private val t0 = System.nanoTime()

  private def open(): Unit = {
    client = opts.newClient()
    val cols =
      if (required.isEmpty) "1" // COUNT(*)-style scans read no columns
      else required.fields.map(f => PgWire.quoteIdent(f.name)).mkString(", ")
    val sql = s"SELECT $cols FROM ${PgWire.quoteIdent(opts.table)}${p.whereSql}"
    result = client.queryBinary(sql)
    // decode by the wire's OID, checked against the scan's Spark
    // type — except the zero-column probe row, which is never read
    convs =
      if (required.isEmpty) Array.empty
      else result.cols.zip(required.fields).map { case (c, f) =>
        PgWire.binaryToCatalyst(c.oid, f.dataType)
      }
  }

  override def next(): Boolean = {
    if (client == null) open()
    row = result.nextRow()
    row != null
  }

  override def get(): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      out.update(i, if (row(i) == null) null else convs(i)(row(i)))
      i += 1
    }
    out
  }

  override def close(): Unit = {
    if (client != null) client.close()
    graft.Metrics.add("pg_read_binary_ms", (System.nanoTime() - t0) / 1000000L)
  }
}
