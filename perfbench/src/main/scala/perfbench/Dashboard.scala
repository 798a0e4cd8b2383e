package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.queries.RefPipeline

/** `dashboard`: one UI interaction is one request — Q1, Q2, Q3 or Q4,
  * uniformly mixed — over one prepared relation built at session load.
  * Inputs are the reference's zones / arretes / departements, carrying
  * its dirty values: null validity bounds, `0023` years, severity ties,
  * Corsican and overseas department codes, a zone without decrees,
  * decrees of unknown zones and a department without zones.
  *
  * Every result is checked against an oracle in plain Scala over the
  * generated rows, which never touches `graft.ops`. */
final class Dashboard(ctx: Ctx, zonesN: Int, decreesN: Long) extends Workload {
  import Dashboard._

  private val spark = ctx.spark
  private val parts = GenParts
  private val perPart = ((decreesN + parts - 1) / parts).toInt
  private var prepped: DataFrame = _
  private var departements: DataFrame = _
  private lazy val zones: IndexedSeq[Zone] = genZones(ctx.seed, zonesN)
  private lazy val oracle = new Oracle(zones, ctx.seed, parts, perPart, openEnded(zones))
  private val requests = new SplittableRandom(ctx.seed * 31 + 7)
  private var deck = List.empty[Int]

  /** At least 50 requests leave ten beyond p80; 52 is 13 of each query. */
  def minOps: Int = 52

  def sizes: Map[String, Any] = Map(
    "zones" -> zonesN, "decrees" -> parts.toLong * perPart, "departements" -> (Depts.size + 1),
    "input_bytes" -> Dirs.bytes(ctx.path("dashboard")))

  def generate(): Unit = {
    import spark.implicits._
    val zs = zones
    spark.createDataFrame(spark.sparkContext.parallelize(zs.map(_.row), 1), ZoneSchema)
      .write.mode("overwrite").parquet(ctx.path("dashboard/zones"))
    val (seed, per, nz, open) = (ctx.seed, perPart, zonesN, openEnded(zs))
    spark.createDataFrame(
      spark.sparkContext.parallelize(0 until parts, parts)
        .flatMap(p => decrees(seed, p, per, nz, open).map(_.row)),
      DecreeSchema).write.mode("overwrite").parquet(ctx.path("dashboard/arretes"))
    (Depts.map(c => (c, s"Département $c", geometry(c))) :+
      ((EmptyDept, s"Département $EmptyDept", geometry(EmptyDept))))
      .toDF("code", "nom", "geometry")
      .coalesce(1).write.mode("overwrite").parquet(ctx.path("dashboard/departements"))
  }

  def load(t: Tracer): Unit = t.span("queries.prepData") {
    departements = spark.read.parquet(ctx.path("dashboard/departements"))
    prepped = RefPipeline.prepData(
      spark.read.parquet(ctx.path("dashboard/zones")),
      spark.read.parquet(ctx.path("dashboard/arretes")))
    prepped.queryExecution.analyzed
    ()
  }

  /** Two requests of each query: the first few of each run slower. */
  def warmup(): Unit = {
    val w = new SplittableRandom(ctx.seed + 99)
    (0 until 8).foreach(i => request(i % 4, w, Tracer.off(spark)))
  }

  /** Queries are dealt from shuffled decks holding each of Q1–Q4 once,
    * so every run sees the same mix, in a seeded order. */
  def op(i: Int, t: Tracer): Op = {
    if (deck.isEmpty) deck = shuffled(requests)
    val q = deck.head
    deck = deck.tail
    request(q, requests, t)
  }

  private def shuffled(r: SplittableRandom): List[Int] = {
    val a = Array(0, 1, 2, 3)
    (3 to 1 by -1).foreach { k => val j = r.nextInt(k + 1); val x = a(k); a(k) = a(j); a(j) = x }
    a.toList
  }

  private def request(q: Int, rnd: SplittableRandom, t: Tracer): Op = {
    val day = FirstQueryDay + rnd.nextInt(QueryDays)
    val zone = zones(rnd.nextInt(zones.length))
    val date = java.sql.Date.valueOf(LocalDate.ofEpochDay(day))
    val (span, df, expected, ordered) = q match {
      case 0 => ("queries.q1", () => RefPipeline.q1NbDepPerAlert(prepped, lit(date)),
        () => oracle.q1(day), true)
      case 1 => ("queries.q2", () => RefPipeline.q2MaxAlertPerDept(prepped, lit(date), departements),
        () => oracle.q2(day), false)
      case 2 => ("queries.q3", () => RefPipeline.q3ZoneDurations(prepped, zone.name),
        () => oracle.q3(zone.id), false)
      case _ => ("queries.q4", () => RefPipeline.q4SurfacePerDay(prepped),
        () => oracle.q4, true)
    }
    // planning is forced apart from execution so a traced run can tell
    // them apart; collect() would plan the same way
    val (rows, planMs) = t.span(span) {
      val frame = df()
      val p0 = System.nanoTime()
      frame.queryExecution.executedPlan
      val planMs = (System.nanoTime() - p0) / 1e6
      (frame.collect(), planMs)
    }
    t.note("plan_ms", planMs)
    t.note("rows_read_per_row_out", decreesRead / math.max(1, rows.length))
    val got = rows.toSeq.map(canonical)
    Op(docs = decreesRead.toLong, rows = got.length, kind = span,
      check = () => {
        val want = expected()
        Op.problems(s"$span differs from the oracle" ->
          (if (ordered) got == want else got.sorted == want.sorted))
      })
  }

  private def decreesRead: Double = parts.toDouble * perPart
}

object Dashboard {
  /** Generation partitions: fixed, so inputs depend on the seed alone. */
  val GenParts = 8
  val FirstQueryDay: Int = LocalDate.parse("2020-01-01").toEpochDay.toInt
  val QueryDays = 1827
  private val FirstDebutDay = FirstQueryDay
  private val DebutDays = 1642 // through 2024-06-30
  private val Day2023 = LocalDate.parse("2023-01-01").toEpochDay.toInt

  val Levels: Map[Int, String] =
    Map(1 -> "vigilance", 2 -> "alerte", 3 -> "alerte renforcée", 4 -> "crise")

  /** Metropolitan codes with Corsica split into 2A/2B, plus overseas. */
  val Depts: IndexedSeq[String] =
    ((1 to 95).filter(_ != 20).map(i => f"$i%02d") ++ Seq("2A", "2B", "971", "972", "973", "974", "976"))
  /** A department no zone belongs to: Q2 must still list it. */
  val EmptyDept = "975"

  private val Names = IndexedSeq("Ardèche", "Isère", "Hérault", "Lozère", "Côte-d'Or",
    "Saône amont", "Loire aval", "Gave de Pau", "Durance", "Allier", "Garonne", "Orne")
  private val Statuts = IndexedSeq("Publié", "Abrogé", "Terminé")

  private def geometry(code: String) = s"POLYGON((${code.hashCode % 97} 0, 1 1, 0 1))"

  final case class Zone(id: Long, name: String, dept: String, surface: Double, kind: String) {
    def row: Row = Row(id, name, dept, s"Département $dept", surface, kind)
    def cents: Long = math.round(surface * 100)
  }

  final case class Decree(zone: Long, debut: String, fin: String, level: Int, statut: String) {
    def row: Row = Row(zone, debut, fin, level, Levels(level), statut)
  }

  val ZoneSchema: StructType = StructType(Seq(
    StructField("id_zone", LongType), StructField("nom_zone", StringType),
    StructField("code_departement", StringType), StructField("nom_departement", StringType),
    StructField("surface_zone", DoubleType), StructField("type_zone", StringType)))

  val DecreeSchema: StructType = StructType(Seq(
    StructField("id_zone", LongType), StructField("debut_validite_arrete", StringType),
    StructField("fin_validite_arrete", StringType), StructField("numero_niveau", IntegerType),
    StructField("nom_niveau", StringType), StructField("statut_arrete", StringType)))

  /** Zone `n` (the last) never gets a decree. */
  def genZones(seed: Long, n: Int): IndexedSeq[Zone] = {
    val r = new SplittableRandom(seed)
    (1 to n).map { i =>
      Zone(i.toLong, s"${Names(r.nextInt(Names.length))} $i", Depts(r.nextInt(Depts.length)),
        (1 + r.nextInt(500000)) / 100.0, Seq("SUP", "SOU", "AEP")(r.nextInt(3)))
    }
  }

  /** Zones that may carry a decree without a start date. Its sentinel
    * start (1900) would add some 45 000 days to Q4's explode on a
    * surface-water zone, so these are never `SUP`: every seed then has
    * the same Q4 cost. */
  def openEnded(zones: IndexedSeq[Zone]): IndexedSeq[Long] =
    zones.filter(z => z.kind != "SUP" && z.id < zones.length).map(_.id)

  /** Partition `p` of the decrees: deterministic in (seed, p). Decrees
    * without a start date go to one of `openEnded`. */
  def decrees(seed: Long, p: Int, perPart: Int, zones: Int,
              openEnded: IndexedSeq[Long]): Iterator[Decree] = {
    val r = new SplittableRandom(seed * 1000003L + p)
    Iterator.range(0, perPart).map { k =>
      val g = p.toLong * perPart + k
      val noStart = g % 200000 == 7
      val zone =
        if (g % 997 == 3) zones + 1L + r.nextInt(100) // unknown zone: the join drops it
        else if (noStart) openEnded(r.nextInt(openEnded.length))
        else 1L + r.nextInt(zones - 1)
      val dirty = g % 10007 == 5
      val start = if (dirty) Day2023 + r.nextInt(300) else FirstDebutDay + r.nextInt(DebutDays)
      val dur = if (r.nextInt(20) == 0) 1 else 1 + r.nextInt(60)
      val debut = if (noStart) null else LocalDate.ofEpochDay(start).toString
      val finS = LocalDate.ofEpochDay(start + dur - 1).toString
      val fin =
        if (g % 20011 == 11) null
        else if (dirty) "0023" + finS.substring(4)
        else finS
      val u = r.nextInt(10)
      val level = if (u < 4) 1 else if (u < 7) 2 else if (u < 9) 3 else 4
      Decree(zone, debut, fin, level, Statuts(r.nextInt(Statuts.length)))
    }
  }

  /** Canonical text of a result row: nulls, dates and doubles spelled
    * the same way the oracle spells them. */
  def canonical(r: Row): String = r.toSeq.map {
    case null => "∅"
    case d: java.sql.Date => d.toLocalDate.toString
    case x => x.toString
  }.mkString("|")

  /** Q1–Q4 in plain Scala over the generated rows, as the reference
    * defines them: sentinel-filled and repaired bounds, an inner join
    * on zones, inclusive validity. Results are memoized per parameter. */
  final class Oracle(zones: IndexedSeq[Zone], seed: Long, parts: Int, perPart: Int,
                     openEnded: IndexedSeq[Long]) {
    private val byId = zones.map(z => z.id -> z).toMap
    private val deptIdx = Depts.zipWithIndex.toMap
    private val zoneOf = mutable.ArrayBuilder.make[Long]
    private val deptOf, debutOf, finOf = mutable.ArrayBuilder.make[Int]
    private val levelOf = mutable.ArrayBuilder.make[Byte]
    (0 until parts).foreach(p => decrees(seed, p, perPart, zones.length, openEnded).foreach { d =>
      byId.get(d.zone).foreach { z =>
        zoneOf += d.zone
        deptOf += deptIdx(z.dept)
        debutOf += day(Option(d.debut).getOrElse("1900-01-01"))
        finOf += day(Option(d.fin).getOrElse("2024-12-31").replace("0023", "2023"))
        levelOf += d.level.toByte
      }
    })
    private val zone = zoneOf.result()
    private val dept = deptOf.result()
    private val debut = debutOf.result()
    private val fin = finOf.result()
    private val level = levelOf.result()

    private def day(s: String): Int = LocalDate.parse(s).toEpochDay.toInt
    private def date(d: Int): String = LocalDate.ofEpochDay(d).toString

    private val memo = mutable.Map.empty[(Int, Long), Seq[String]]

    /** Highest level per department index among decrees valid at `d`. */
    private def topLevels(d: Int): Array[Int] = {
      val best = new Array[Int](Depts.length)
      var i = 0
      while (i < zone.length) {
        if (debut(i) <= d && d <= fin(i) && best(dept(i)) < level(i)) best(dept(i)) = level(i)
        i += 1
      }
      best
    }

    def q1(d: Int): Seq[String] = memo.getOrElseUpdate((1, d.toLong),
      topLevels(d).filter(_ > 0).groupBy(identity).toSeq.sortBy(-_._1)
        .map { case (l, ds) => s"$l|${Levels(l)}|${ds.length}" })

    def q2(d: Int): Seq[String] = memo.getOrElseUpdate((2, d.toLong), {
      val top = topLevels(d)
      (Depts.indices.map(i => Depts(i) -> top(i)) :+ (EmptyDept -> 0)).map { case (c, l) =>
        s"$c|Département $c|${geometry(c)}|$l|${Levels.getOrElse(l, "∅")}"
      }
    })

    def q3(z: Long): Seq[String] = memo.getOrElseUpdate((3, z),
      zone.indices.filter(zone(_) == z).map { i =>
        s"$z|${Levels(level(i).toInt)}|${level(i)}|${date(debut(i))}|${fin(i) - debut(i) + 1}"
      })

    lazy val q4: Seq[String] = {
      val cents = mutable.LongMap.empty[Long]
      zone.indices.foreach { i =>
        val z = byId(zone(i))
        if (z.kind == "SUP") {
          var d = debut(i)
          while (d <= fin(i)) {
            val k = d.toLong * 8 + level(i)
            cents(k) = cents.getOrElse(k, 0L) + z.cents
            d += 1
          }
        }
      }
      cents.toSeq.sortBy(_._1).map { case (k, c) =>
        val (d, l) = ((k >> 3).toInt, (k & 7).toInt)
        s"${date(d)}|${Levels(l)}|$l|${BigDecimal(c, 2).toDouble}"
      }
    }
  }
}
