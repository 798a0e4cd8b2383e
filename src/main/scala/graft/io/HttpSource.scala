package graft.io

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{HttpURLConnection, URI}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** In-engine HTTP CSV source as a full DataSourceV2 `TableProvider`
  * (SURVEY.md §2.1 residual: the reference ingests CSV over HTTP,
  * utils.py:5-20 `requests.get` → `pd.read_csv`; here the ingest is an
  * engine-native, partitioned scan instead of a driver-side download).
  *
  * 100 TB posture — the scan parallelizes two ways:
  *  - one input partition per URL (`url` is a comma-separated list,
  *    mirroring a sharded export), and
  *  - byte-range splitting WITHIN a URL (`splits` option): the planner
  *    probes each URL with `Range: bytes=0-0`; a 206 + Content-Range
  *    response yields the total length and proof the server honors
  *    ranges, and the file is split into `splits` byte chunks, each
  *    read by an executor-side `PartitionReader` over its own ranged
  *    GET. Servers that ignore Range degrade safely: a 200 response to
  *    a ranged request makes the reader skip `start` bytes manually,
  *    and an un-probeable URL falls back to a single partition.
  *
  * Line-boundary semantics are the Hadoop text-split contract: a
  * partition [start, end) emits every line whose first byte offset is
  * in [start, end] — readers with start > 0 discard the (possibly
  * partial) first line, and every reader runs past `end` to finish its
  * last line, so rows are complete, disjoint, and independent of where
  * the byte boundaries fall. Scanning for '\n' (0x0A) is UTF-8-safe
  * (continuation bytes are >= 0x80). Quoted fields MAY NOT span lines
  * (same restriction as Spark CSV multiLine=false).
  *
  * Column pruning is pushed into the reader (`SupportsPushDownRequiredColumns`):
  * only the projected fields are type-converted; unprojected CSV cells
  * are never materialized.
  *
  * Options: `url` (required, comma-separated), `splits` (ranged chunks
  * per URL, default 1), `header` (default true), `delimiter` (single
  * char, default ','). Schema: user-supplied via `.schema(...)`
  * (field order = CSV column order); `inferSchema` falls back to
  * header names, all strings.
  */
class HttpCsvSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft_http"

  override def supportsExternalMetadata(): Boolean = true

  /** Best-effort inference: fetch the first line of the first URL for
    * column names (all StringType). A user schema is the real path. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = HttpSourceOptions(options)
    val header = HttpLines.firstLine(opts.urls.head)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_http: cannot infer schema (empty response from ${opts.urls.head}); supply .schema(...)"))
    val names =
      if (opts.header) HttpLines.splitCsv(header, opts.delimiter)
      else HttpLines.splitCsv(header, opts.delimiter).indices.map(i => s"_c$i").toArray
    StructType(names.map(n => StructField(n, StringType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    HttpCsvTable(schema, HttpSourceOptions(new CaseInsensitiveStringMap(properties)))
}

private[io] case class HttpSourceOptions(urls: Seq[String], splits: Int,
                                         header: Boolean, delimiter: Char)

private[io] object HttpSourceOptions {
  def apply(options: CaseInsensitiveStringMap): HttpSourceOptions = {
    val url = Option(options.get("url")).getOrElse(
      throw new IllegalArgumentException("graft_http requires the 'url' option"))
    val delim = Option(options.get("delimiter")).getOrElse(",")
    require(delim.length == 1, s"graft_http delimiter must be one char, got '$delim'")
    HttpSourceOptions(
      urls = url.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      splits = Option(options.get("splits")).map(_.toInt).getOrElse(1),
      header = Option(options.get("header")).forall(_.toBoolean),
      delimiter = delim.charAt(0))
  }
}

private[io] case class HttpCsvTable(tableSchema: StructType, opts: HttpSourceOptions)
    extends Table with SupportsRead {
  override def name(): String = s"graft_http(${opts.urls.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new HttpCsvScanBuilder(tableSchema, opts)
}

private[io] class HttpCsvScanBuilder(full: StructType, opts: HttpSourceOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Accept the simple comparisons [[HttpFilterEval]] can evaluate so
    * rows are dropped at the reader, but return EVERY filter as
    * residual — Spark re-applies them post-scan, so the pushdown is a
    * row-volume optimization that can never change the answer. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(HttpFilterEval.supported)
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = HttpCsvScan(full, required, opts, pushed)
}

/** One InputPartition per (url, byte range). `end == -1` marks an
  * unsplit whole-URL read. */
private[io] case class HttpRangePartition(url: String, start: Long, end: Long)
  extends InputPartition

private[io] case class HttpCsvScan(full: StructType, required: StructType,
                                   opts: HttpSourceOptions,
                                   filters: Array[org.apache.spark.sql.sources.Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_http urls=${opts.urls.size} splits=${opts.splits} " +
      s"PushedFilters=[${filters.mkString(", ")}] ReadSchema=${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    opts.urls.toArray.flatMap { url =>
      // splits=1 needs no probe (round-15 review): the result was
      // unused, and a non-range server answers the probe with 200 +
      // the WHOLE body, which the old path drained driver-side —
      // planning downloaded the file just to discard it
      (if (opts.splits > 1) HttpLines.probe(url) else None) match {
        case Some(total) if opts.splits > 1 && total > 0 =>
          val chunk = math.max(1L, (total + opts.splits - 1) / opts.splits)
          (0L until total by chunk).map(s =>
            HttpRangePartition(url, s, math.min(s + chunk, total)))
        case _ => Seq(HttpRangePartition(url, 0L, -1L))
      }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    HttpCsvReaderFactory(full, required, opts.header, opts.delimiter, filters)
}

private[io] case class HttpCsvReaderFactory(full: StructType, required: StructType,
                                            header: Boolean, delimiter: Char,
                                            filters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpRangePartition]
    new HttpCsvPartitionReader(p, full, required, header, delimiter, filters)
  }
}

/** Executor-side reader for one byte range of one URL. */
private[io] class HttpCsvPartitionReader(p: HttpRangePartition, full: StructType,
                                         required: StructType, header: Boolean,
                                         delimiter: Char,
                                         filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  // required-field -> CSV column position (CSV order = full schema order)
  private val fieldPos: Array[Int] = required.fields.map(f => full.fieldIndex(f.name))
  private val fieldType: Array[DataType] = required.fields.map(_.dataType)
  // Pushed filters evaluated on the pruned row (Spark includes filter
  // attributes in the required columns because every pushed filter is
  // also residual); unresolvable ones are skipped — they stay residual.
  private val rowFilters: Array[InternalRow => Boolean] =
    filters.flatMap(HttpFilterEval.compile(_, required))

  private var conn: HttpURLConnection = _
  private var in: BufferedInputStream = _
  private var pos: Long = p.start
  private var eof = false
  private var current: InternalRow = _

  private def open(): Unit = {
    conn = HttpLines.open(p.url)
    if (p.start > 0) conn.setRequestProperty("Range", s"bytes=${p.start}-")
    conn.connect()
    in = new BufferedInputStream(conn.getInputStream, 1 << 16)
    // Server ignored the range (200 to a ranged request): skip manually.
    if (p.start > 0 && conn.getResponseCode == 200) {
      var left = p.start
      while (left > 0) {
        val n = in.skip(left)
        if (n <= 0) {
          // skip() may legally return 0 WITHOUT being at EOF
          // (round-15 review: treating it as EOF silently emptied the
          // partition) — only read() == -1 proves end-of-stream
          if (in.read() < 0) { eof = true; left = 0 } else left -= 1
        } else left -= n
      }
    }
    // Not the first split: discard the (possibly partial) first line —
    // it belongs to the previous split, which reads past its own end.
    if (p.start > 0) { readLineBytes(); () }
  }

  /** Reads one '\n'-terminated line (terminator consumed, not
    * returned; trailing '\r' stripped); null at EOF. Advances pos. */
  private def readLineBytes(): Array[Byte] = {
    if (eof) return null
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) { eof = true; return null }
    while (b >= 0 && b != '\n') { buf.write(b); pos += 1; b = in.read() }
    if (b == '\n') pos += 1 else eof = true
    val arr = buf.toByteArray
    if (arr.nonEmpty && arr(arr.length - 1) == '\r') util.Arrays.copyOf(arr, arr.length - 1)
    else arr
  }

  override def next(): Boolean = {
    if (conn == null) open()
    while (true) {
      val lineStart = pos
      // Hadoop split contract: emit lines starting at offset <= end;
      // the reader that owns the NEXT range discards its first line.
      if (p.end >= 0 && lineStart > p.end) return false
      val line = readLineBytes()
      if (line == null) return false
      if (!(header && lineStart == 0L) && line.nonEmpty) {
        val row = parse(new String(line, "UTF-8"))
        if (rowFilters.forall(_(row))) { current = row; return true }
      }
    }
    false
  }

  private def parse(line: String): InternalRow = {
    val cells = HttpLines.splitCsv(line, delimiter)
    val out = new Array[Any](fieldPos.length)
    var i = 0
    while (i < fieldPos.length) {
      val idx = fieldPos(i)
      val raw = if (idx < cells.length) cells(idx) else null
      out(i) = if (raw == null || raw.isEmpty) null else convert(raw, fieldType(i))
      i += 1
    }
    new GenericInternalRow(out)
  }

  private def convert(v: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(v)
    case IntegerType => v.toInt
    case LongType => v.toLong
    case DoubleType => v.toDouble
    case FloatType => v.toFloat
    case BooleanType => v.toBoolean
    case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
    case TimestampType =>
      // accept the CSV forms in the wild: explicit offset
      // ("...+00:00"/"...Z"), zone-less ISO instant, and either of
      // those with a space separator (Spark's own CSV writer,
      // Postgres dumps). Normalize ' '→'T' FIRST so a space-separated
      // timestamp WITH an offset ("2025-01-01 00:00:00+00") hits the
      // OffsetDateTime branch instead of escaping both parsers.
      val s = v.trim.replace(' ', 'T')
      val inst =
        try java.time.OffsetDateTime.parse(s).toInstant
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.LocalDateTime.parse(s)
              .toInstant(java.time.ZoneOffset.UTC)
        }
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    case d: DecimalType =>
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(v), d.precision, d.scale)
    case other => throw new IllegalArgumentException(
      s"graft_http: unsupported field type $other")
  }

  override def get(): InternalRow = current

  override def close(): Unit = {
    if (in != null) in.close()
    if (conn != null) conn.disconnect()
  }
}

/** Row-level evaluation of pushed source filters at the HTTP reader —
  * the CSV analog of parquet row-group filtering. Every accepted
  * filter is ALSO kept residual by the scan builder, so a filter this
  * evaluator gets subtly wrong could only over-return rows (which the
  * residual then drops), never lose them; the simple forms below are
  * exact. Null cells fail every comparison (SQL semantics) except
  * IsNull/IsNotNull. */
private[graft] object HttpFilterEval {
  import org.apache.spark.sql.sources._

  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull => true
    case _ => false
  }

  /** None when the filter shape/type is unsupported or the attribute
    * is missing from the (pruned) schema — it stays residual-only. */
  def compile(f: Filter, schema: StructType): Option[InternalRow => Boolean] = {
    def at(attr: String): Option[(Int, DataType)] =
      schema.fields.zipWithIndex.collectFirst {
        case (sf, i) if sf.name == attr => (i, sf.dataType)
      }
    def cmp(attr: String, v: Any, keep: Int => Boolean): Option[InternalRow => Boolean] =
      for { (i, dt) <- at(attr); l <- toComparable(dt, v) } yield { row: InternalRow =>
        !row.isNullAt(i) && keep(ordered(dt, row.get(i, dt)).compareTo(l))
      }
    f match {
      case EqualTo(a, v) => cmp(a, v, _ == 0)
      case GreaterThan(a, v) => cmp(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v, _ >= 0)
      case LessThan(a, v) => cmp(a, v, _ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v, _ <= 0)
      case In(a, vs) =>
        at(a).flatMap { case (i, dt) =>
          val lits = vs.toSeq.map(toComparable(dt, _))
          if (lits.exists(_.isEmpty)) None
          else {
            // a java.util.HashSet, NOT a Scala Set: Scala collections
            // compare boxed doubles through BoxesRunTime's NUMERIC
            // equality, where NaN != NaN — so `NaN IN (NaN)` dropped
            // the row while Spark's genEqual keeps it. Java's
            // Double.equals goes through doubleToLongBits (NaN equals
            // NaN), matching Spark once [[ordered]]'s negative-zero
            // normalization has run on both sides.
            val set = new java.util.HashSet[Any]()
            lits.flatten.foreach(set.add)
            Some({ row: InternalRow =>
              !row.isNullAt(i) && set.contains(ordered(dt, row.get(i, dt))) })
          }
        }
      case IsNull(a) => at(a).map { case (i, _) => (row: InternalRow) => row.isNullAt(i) }
      case IsNotNull(a) => at(a).map { case (i, _) => (row: InternalRow) => !row.isNullAt(i) }
      case _ => None
    }
  }

  /** Catalyst-literal → Comparable in the column's internal encoding.
    * Floating literals go through [[normZero]] — see [[ordered]]. */
  private def toComparable(dt: DataType, v: Any): Option[Comparable[Any]] =
    try Some((dt match {
      case StringType => UTF8String.fromString(v.toString)
      case IntegerType => Int.box(v.asInstanceOf[Number].intValue())
      case LongType => Long.box(v.asInstanceOf[Number].longValue())
      case DoubleType => Double.box(v.asInstanceOf[Number].doubleValue() + 0.0d)
      case FloatType => Float.box(v.asInstanceOf[Number].floatValue() + 0.0f)
      case BooleanType => Boolean.box(v.asInstanceOf[Boolean])
      case DateType => Int.box(v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
        case n: Number => n.intValue()
        case _ => return None
      })
      case _ => return None
    }).asInstanceOf[Comparable[Any]])
    catch { case _: Exception => None }

  /** Internal row value → the same Comparable encoding. Floating
    * values are NEGATIVE-ZERO-normalized (`+ 0.0` — IEEE 754 sums
    * opposite-signed zeros to +0.0, and leaves every other value
    * including NaN untouched): `java.lang.Double.compareTo` orders
    * -0.0 BELOW 0.0 while Spark's nanSafeCompareDoubles treats them
    * EQUAL, so without the normalization `EqualTo(col, 0.0)` (or In,
    * or a boundary <=) against a CSV cell "-0.0" dropped at the
    * reader a row Spark's residual would have kept — an UNDER-return,
    * the one direction this evaluator must never err (a reader-side
    * drop is unrecoverable). NaN needs no fix-up: Double.compareTo
    * already matches Spark's NaN-greatest, NaN-equals-NaN ordering. */
  private def ordered(dt: DataType, v: Any): Comparable[Any] = (dt match {
    case DoubleType => Double.box(v.asInstanceOf[Double] + 0.0d)
    case FloatType => Float.box(v.asInstanceOf[Float] + 0.0f)
    case _ => v
  }).asInstanceOf[Comparable[Any]]
}

/** Driver/executor-shared HTTP line utilities. */
private[graft] object HttpLines {

  /** Probe a URL with `Range: bytes=0-0`. 206 + Content-Range proves
    * the server honors ranges and yields the total byte length. */
  def probe(url: String): Option[Long] = {
    var conn: HttpURLConnection = null
    try {
      conn = open(url)
      conn.setRequestProperty("Range", "bytes=0-0")
      conn.connect()
      if (conn.getResponseCode == 206) {
        // the 206 body is the single requested byte — drain it so the
        // connection can keep-alive
        drain(conn.getInputStream)
        Option(conn.getHeaderField("Content-Range"))
          .flatMap(_.split('/').lastOption).flatMap(_.toLongOption)
      } else None
      // non-206: the body may be the WHOLE file (a server that
      // ignores Range answers 200 + full body) — disconnect without
      // draining (round-15 review); keep-alive is not worth a
      // driver-side full download
    } catch { case _: Exception => None }
    finally if (conn != null) conn.disconnect()
  }

  /** Open with explicit connect/read timeouts (round-15 review): a
    * server that accepts the TCP connection but never responds would
    * otherwise hang schema inference and planning on the DRIVER (and
    * reader tasks) indefinitely — there is no default timeout on
    * HttpURLConnection. */
  private[io] val ConnectTimeoutMs = 30000
  private[io] val ReadTimeoutMs = 120000

  private[io] def open(url: String): HttpURLConnection = {
    val c = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(ConnectTimeoutMs)
    c.setReadTimeout(ReadTimeoutMs)
    c
  }

  def firstLine(url: String): Option[String] = {
    var conn: HttpURLConnection = null
    try {
      conn = open(url)
      conn.connect()
      val in = new BufferedInputStream(conn.getInputStream)
      val buf = new ByteArrayOutputStream(128)
      var b = in.read()
      while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
      in.close()
      val s = buf.toString("UTF-8").stripSuffix("\r")
      if (s.isEmpty) None else Some(s)
    } catch { case _: Exception => None }
    finally if (conn != null) conn.disconnect()
  }

  private def drain(in: InputStream): Unit =
    try { while (in.read() >= 0) {}; in.close() } catch { case _: Exception => () }

  /** RFC-4180-ish split: delimiter outside quotes splits; `""` inside a
    * quoted field is a literal quote. Quotes may not span lines. */
  def splitCsv(line: String, delim: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
          else inQ = false
        } else cur.append(c)
      } else c match {
        case '"' => inQ = true
        case `delim` => out += cur.result(); cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.toArray
  }
}
