package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Postgres, RangeFileServer}
import graft.ops.Vectors
import graft.streaming.{DedupIngest, VectorIngest}

/** `ingest`: one operation is one cycle of two halves.
  *
  * (a) The reference scraper's refresh: a decree CSV served over HTTP
  * is read through `graft_http`, replaces a Postgres table with
  * `Postgres.overwriteTable`, and is read back with `readTable`; the
  * read-back checksum must equal the CSV's.
  *
  * (b) An ingest gate for one arriving document batch: exact Jaccard
  * and SRP probes against the stores, both of which must flag exactly
  * the batch's planted copies of stored documents; the admitted rest is
  * appended to both stores by AvailableNow streams, and every
  * [[CompactEvery]] cycles both stores are compacted.
  *
  * The stores are bootstrapped from a seeded corpus at load. */
final class Ingest(ctx: Ctx, storeDocs: Int, batchDocs: Int, plantedPerBatch: Int,
                   csvRows: Int) extends Workload {
  import Ingest._

  private val spark = ctx.spark
  private val gen = new Corpus.Gen(ctx.seed, VocabSize)
  private val conn = Postgres.PgConn("127.0.0.1",
    ctx.pgPort.getOrElse(sys.error("ingest needs --pg-port")), "postgres", "graft")
  private var server: RangeFileServer = _
  private var boot: VectorIngest.IndexBootstrap = _
  private lazy val stored: IndexedSeq[Corpus.Doc] = {
    val r = new SplittableRandom(ctx.seed * 104729 + 3)
    (0 until storeDocs).map(i =>
      Corpus.Doc(i.toLong, gen.text(gen.words(r, 45 + r.nextInt(25))), gen.vector(r)))
  }
  private val csvChecksums = mutable.Map.empty[Int, (Long, Long)]
  private var generation = 0
  private var cycle = 0
  private var staged: Option[(DataFrame, Set[Long])] = None

  private def storeDir = ctx.path(s"ingest/stores/g$generation")
  private def jaccardStore = s"$storeDir/jaccard"
  private def vectorStore = s"$storeDir/vectors"
  private def feed = s"$storeDir/feed"

  def minOps: Int = 2

  def sizes: Map[String, Any] = Map(
    "store_docs" -> storeDocs, "batch_docs" -> batchDocs,
    "planted_per_batch" -> plantedPerBatch,
    "planted_dup_rate" -> plantedPerBatch.toDouble / batchDocs,
    "csv_rows" -> csvRows, "csv_files" -> CsvFiles, "compact_every" -> CompactEvery,
    "input_bytes" -> Dirs.bytes(ctx.path("ingest/http")))

  def generate(): Unit = {
    stored.size // the store's seed corpus, built here so bootstrap timing excludes it
    val http = Paths.get(ctx.path("ingest/http"))
    Files.createDirectories(http)
    (0 until CsvFiles).foreach { f =>
      val rows = Dashboard.decrees(ctx.seed * 31 + f, 0, csvRows, CsvZones, 1L until CsvZones)
        .zipWithIndex.map {
        case (d, k) => Seq((f.toLong * csvRows + k).toString, d.zone.toString,
          Option(d.debut).getOrElse(""), Option(d.fin).getOrElse(""), d.level.toString,
          Dashboard.Levels(d.level), d.statut)
      }.toIndexedSeq
      val text = (CsvHeader +: rows.map(_.mkString(","))).mkString("", "\n", "\n")
      Files.write(http.resolve(s"decrees_$f.csv"), text.getBytes(UTF_8))
      csvChecksums(f) = checksum(rows.map(_.map(c => if (c.isEmpty) null else c)))
    }
    server = new RangeFileServer(http)
  }

  /** Fresh stores from the seeded corpus: the Jaccard store's order
    * authority and the vector store's quantizer are frozen here. */
  def load(t: Tracer): Unit = t.span("setup.bootstrap") {
    generation += 1
    cycle = 0
    val corpus = spark.createDataFrame(
      spark.sparkContext.parallelize(stored.map(_.row), ctx.cpus), Corpus.Schema)
    publish(corpus, "boot")
    boot = VectorIngest.IndexBootstrap(Corpus.Dim,
      Vectors.fitQuantizer(spark.read.parquet(feed), "embedding", nlist = 16))
    append()
  }

  /** One bootstrap costs 4-14 s, most of a run's budget; it is timed
    * once, and it warms the streaming and parquet paths the cycles use. */
  override def setupRepeats: Int = 1

  /** None: a warm-up cycle would cost as much as a measured one. The
    * first cycle pays the first probe and Postgres round trip. */
  def warmup(): Unit = ()

  /** Land `df` in the feed the store streams watch, as flat parquet
    * files named after `name` (a file source picks up each file once). */
  private def publish(df: DataFrame, name: String): Unit = {
    val stage = s"$storeDir/stage/$name"
    df.coalesce(1).write.parquet(stage)
    Files.createDirectories(Paths.get(feed))
    new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, k) => Files.move(f.toPath, Paths.get(feed, s"$name-$k.parquet")) }
  }

  private def stream: DataFrame = spark.readStream.schema(Corpus.Schema).parquet(feed)

  private def append(): Unit = {
    DedupIngest.maintainJaccardStore(stream.select("doc_id", "text"), "doc_id", "text",
      jaccardStore).awaitTermination()
    VectorIngest.maintainIndex(stream.select("doc_id", "embedding"), "doc_id", "embedding",
      boot, vectorStore).awaitTermination()
  }

  /** Stage cycle `cycle`'s batch: new background documents plus
    * verbatim copies (text and embedding) of stored documents. */
  override def prepare(i: Int): Unit = {
    val r = new SplittableRandom(ctx.seed * 8191 + generation * 100003L + cycle)
    val first = FirstBatchId + (generation * 1000L + cycle) * batchDocs
    val copies = r.ints(0, storeDocs).distinct().limit(plantedPerBatch).toArray
    val docs = (0 until batchDocs).map { k =>
      val id = first + k
      if (k < copies.length) { val s = stored(copies(k)); Corpus.Doc(id, s.text, s.embedding) }
      else Corpus.Doc(id, gen.text(gen.words(r, 45 + r.nextInt(25))), gen.vector(r))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(docs.map(_.row), 1), Corpus.Schema)
      .localCheckpoint(true)
    staged = Some((df, (first until first + copies.length).toSet))
  }

  def op(i: Int, t: Tracer): Op = {
    val (batch, planted) = staged.getOrElse(sys.error("no staged batch"))
    staged = None
    val f = cycle % CsvFiles
    val (csv, csvCount) = t.span("io.http_csv_read") {
      val df = spark.read.format("graft_http").schema(CsvSchema)
        .option("url", server.url(s"decrees_$f.csv"))
        .option("splits", ctx.cpus.toString)
        .load()
        .localCheckpoint(true)
      (df, df.count())
    }
    t.note("rows", csvCount.toDouble)
    t.span("io.pg_overwrite")(Postgres.overwriteTable(csv, conn, PgTable))
    t.note("rows", csvRows.toDouble)
    val back = t.span("io.pg_read")(Postgres.readTable(spark, conn, PgTable).collect())
    t.note("rows", back.length.toDouble)

    val jaccardFlags = t.span("streaming.jaccard_probe") {
      DedupIngest.jaccardProbeFromStore(spark, jaccardStore, batch.select("doc_id", "text"),
        "doc_id", "text", jaccardThreshold = JaccardThreshold)
        .select("id_a").collect().map(_.getLong(0)).toSet
    }
    t.counter("jaccard_probe_prefix_candidates").foreach { c =>
      t.note("jaccard_probe_prefix_candidates", c.toDouble)
      t.note("probe_yield", jaccardFlags.size.toDouble / math.max(1L, c))
    }
    val vectorFlags = t.span("streaming.vector_probe") {
      VectorIngest.srpProbeFromStore(spark, vectorStore, batch.select("doc_id", "embedding"),
        "doc_id", "embedding", boot, simThreshold = CosineThreshold)
        .select("probe_id").collect().map(_.getLong(0)).toSet
    }
    t.counter("srp_probe_candidates").foreach { c =>
      t.note("srp_probe_candidates", c.toDouble)
      t.note("probe_yield", vectorFlags.size.toDouble / math.max(1L, c))
    }
    val flagged = jaccardFlags ++ vectorFlags
    t.span("streaming.append") {
      publish(batch.filter(!col("doc_id").isin(flagged.toSeq: _*)), s"cycle$cycle")
      append()
    }
    storeNotes(t, batches = 2)
    cycle += 1
    if (cycle % CompactEvery == 0) {
      t.span("streaming.compact") {
        // bootstrap was micro-batch 0, cycle k is micro-batch k + 1
        DedupIngest.compactJaccardStore(spark, jaccardStore, upToBatch = cycle + 1L)
        VectorIngest.compactStore(spark, vectorStore, upToBatch = cycle + 1L)
      }
      storeNotes(t, batches = cycle + 1)
    }
    val want = csvChecksums(f)
    Op(docs = batchDocs, rows = csvRows.toLong + batchDocs,
      kind = if (cycle % CompactEvery == 0) "compacting cycle" else "cycle",
      check = () => Op.problems(
      "postgres read-back checksum differs from the CSV's" -> (checksum(back.toSeq.map(rowCells)) == want),
      s"jaccard probe flagged ${jaccardFlags.size}, want the ${planted.size} planted" ->
        (jaccardFlags == planted),
      s"vector probe flagged ${vectorFlags.size}, want the ${planted.size} planted" ->
        (vectorFlags == planted)))
  }

  private def storeNotes(t: Tracer, batches: Int): Unit = {
    t.note("batches", batches.toDouble)
    t.note("store_files", (Dirs.dataFiles(s"$jaccardStore/docs") + Dirs.dataFiles(vectorStore)).toDouble)
  }

  override def close(): Unit = if (server != null) server.stop()
}

object Ingest {
  val JaccardThreshold = 0.5
  val CosineThreshold = 0.9
  val CsvFiles = 4
  val CompactEvery = 2
  private val VocabSize = 30000
  private val FirstBatchId = 10000000L
  private val PgTable = "perfbench_arretes"
  private val CsvZones = 5000

  val CsvHeader = "id_arrete,id_zone,debut_validite_arrete,fin_validite_arrete," +
    "numero_niveau,nom_niveau,statut_arrete"

  val CsvSchema: StructType = StructType(Seq(
    StructField("id_arrete", LongType), StructField("id_zone", LongType),
    StructField("debut_validite_arrete", StringType), StructField("fin_validite_arrete", StringType),
    StructField("numero_niveau", IntegerType), StructField("nom_niveau", StringType),
    StructField("statut_arrete", StringType)))

  /** A row's cells as text, null kept as null. */
  def rowCells(r: Row): Seq[String] = r.toSeq.map(v => if (v == null) null else v.toString)

  /** Order-independent checksum of a table: row count and the sum of
    * per-row 64-bit hashes of the cells' text. */
  def checksum(rows: Seq[Seq[String]]): (Long, Long) = {
    val h = rows.iterator.map { cells =>
      cells.foldLeft(1125899906842597L)((acc, c) =>
        31 * acc + (if (c == null) 0x9e3779b9L else scala.util.hashing.MurmurHash3.stringHash(c).toLong))
    }.sum
    (rows.length.toLong, h)
  }
}
