package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.RefPipeline

/** Golden end-to-end tests: the reference's Q1–Q4 on a hand-built
  * zones/arretes fixture (FIXTURES.md §A) covering every edge the
  * reference's data exhibits — null validity bounds, dirty '0023'
  * years, severity ties, unmatched keys on both join sides, all three
  * type_zone values, interval boundaries. Expected values derived by
  * hand from the reference semantics
  * (tasks/visualization/src/visualization.py:29-193). */
class GoldenSpec extends AnyFunSuite with SparkTestBase {

  private lazy val zones = {
    import spark.implicits._
    Seq(
      // id, nom_zone, code_dept, nom_dept, surface, type
      (1L, "Zone Ardèche Nord", "07", "Ardèche", 100.0, "SUP"),
      (2L, "Zone Ardèche Sud", "07", "Ardèche", 200.0, "SOU"),
      (3L, "Zone Ajaccio", "2A", "Corse-du-Sud", 300.0, "SUP"),
      (4L, "Zone Pointe-à-Pitre", "971", "Guadeloupe", 400.0, "AEP"),
      (5L, "Zone Bourg-en-Bresse", "01", "Ain", 500.0, "SUP"),
      (6L, "Zone sans arrêté", "01", "Ain", 600.0, "SUP"), // no decrees
    ).toDF("id_zone", "nom_zone", "code_departement", "nom_departement",
      "surface_zone", "type_zone")
  }

  private lazy val arretes = {
    import spark.implicits._
    Seq(
      // id_zone, debut, fin, niveau, nom, statut
      (1L, "2023-08-01", "2023-08-15", 3, "alerte renforcée", "actif"),
      (1L, "2023-08-10", null, 2, "alerte", "actif"),              // null fin -> 2024-12-31
      (2L, null, "2023-08-20", 1, "vigilance", "actif"),           // null debut -> 1900-01-01
      (2L, "2023-08-12", "0023-08-18", 4, "crise", "actif"),       // dirty year -> 2023
      (3L, "2023-08-12", "2023-08-12", 2, "alerte", "actif"),      // 1-day decree
      (3L, "2023-07-01", "2023-07-31", 3, "alerte renforcée", "abrogé"),
      (5L, "2023-08-12", "2023-08-25", 2, "alerte", "actif"),      // tie with zone 3 on niveau? different dept
      (4L, "2023-08-01", "2023-08-31", 2, "alerte", "actif"),
      (4L, "2023-08-05", "2023-08-20", 2, "alerte", "actif"),      // same-dept same-niveau tie -> id_zone asc wins
      (99L, "2023-08-01", "2023-08-31", 4, "crise", "actif"),      // orphan id_zone: dropped by inner join
    ).toDF("id_zone", "debut_validite_arrete", "fin_validite_arrete",
      "numero_niveau", "nom_niveau", "statut_arrete")
  }

  private lazy val departements = {
    import spark.implicits._
    Seq(
      ("07", "Ardèche", "{\"type\":\"Polygon\"}"),
      ("2A", "Corse-du-Sud", "{\"type\":\"Polygon\"}"),
      ("971", "Guadeloupe", "{\"type\":\"Polygon\"}"),
      ("01", "Ain", "{\"type\":\"Polygon\"}"),
      ("75", "Paris", "{\"type\":\"Polygon\"}"), // no decree -> niveau 0
    ).toDF("code", "nom", "geometry")
  }

  private lazy val prepped = RefPipeline.prepData(zones, arretes)

  test("prepData: cleaning semantics (sentinels, 0023 repair, Duration)") {
    val rows = prepped.collect()
    // orphan decree (id_zone=99) dropped by inner join; zone 6 has no decrees
    assert(rows.length == 9)
    assert(!rows.exists(_.getLong(rows.head.fieldIndex("id_zone")) == 99L))
    val byKey = prepped.select("id_zone", "debut_validite_arrete",
      "fin_validite_arrete", "numero_niveau", "Duration").collect()
      .map(r => (r.getLong(0), r.getInt(3)) ->
        (r.getDate(1).toString, r.getDate(2).toString, r.getInt(4))).toMap
    assert(byKey((1L, 2)) == ("2023-08-10", "2024-12-31", 510))   // null fin sentinel
    assert(byKey((2L, 1))._1 == "1900-01-01")                     // null debut sentinel
    assert(byKey((2L, 4)) == ("2023-08-12", "2023-08-18", 7))     // 0023 -> 2023 repair
    assert(byKey((3L, 2))._3 == 1)                                // 1-day decree
  }

  test("Q1: max severity per department at a date, counted per level") {
    val d = lit(Date.valueOf("2023-08-12"))
    val res = RefPipeline.q1NbDepPerAlert(prepped, d).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // At 2023-08-12: dept 07 -> max(3 @z1, 2 @z1, 4 @z2) = 4 crise;
    // 2A -> 2 alerte (the July decree is out of window);
    // 01 -> 2 alerte; 971 -> 2 alerte (two tied level-2 decrees, one dept)
    assert(res == Seq((4, "crise", 1L), (2, "alerte", 3L)))
  }

  test("Q2: left join keeps all departments; missing severity -> 0") {
    val d = lit(Date.valueOf("2023-08-12"))
    val res = RefPipeline.q2MaxAlertPerDept(prepped, d, departements)
      .select("code", "numero_niveau").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(res == Map("07" -> 4, "2A" -> 2, "01" -> 2, "971" -> 2, "75" -> 0))
  }

  test("Q2: same-department severity tie broken by id_zone asc") {
    val d = lit(Date.valueOf("2023-08-12"))
    // dept 971 has two level-2 decrees on zone 4 — deterministic winner
    val top = RefPipeline.q2MaxAlertPerDept(prepped, d, departements)
      .filter(col("code") === "971").collect()
    assert(top.length == 1)
  }

  test("Q1/Q2 ties: the lower id_zone's label wins a same-level tie, and a null level loses to any level") {
    import spark.implicits._
    val zones = Seq(
      (11L, "Zone Tie A", "07", "Ardèche", 10.0, "SUP"),
      (12L, "Zone Tie B", "07", "Ardèche", 20.0, "SUP"),
      (13L, "Zone Null A", "2A", "Corse-du-Sud", 30.0, "SUP"),
      (14L, "Zone Null B", "2A", "Corse-du-Sud", 40.0, "SUP"),
      (15L, "Zone Null Only", "971", "Guadeloupe", 50.0, "SUP"),
    ).toDF("id_zone", "nom_zone", "code_departement", "nom_departement",
      "surface_zone", "type_zone")
    val arretes = Seq[(Long, String, String, Option[Int], String, String)](
      // one level, two labels: zone 11 wins on id_zone although zone
      // 12's label sorts first
      (12L, "2023-08-01", "2023-08-31", Some(3), "alerte", "actif"),
      (11L, "2023-08-05", "2023-08-20", Some(3), "alerte renforcée", "actif"),
      // the null level on the lower zone loses to vigilance
      (13L, "2023-08-01", "2023-08-31", None, "inconnu", "actif"),
      (14L, "2023-08-10", "2023-08-15", Some(1), "vigilance", "actif"),
      // only a null level: the department still has its decree
      (15L, "2023-08-01", "2023-08-31", None, "inconnu", "actif"),
    ).toDF("id_zone", "debut_validite_arrete", "fin_validite_arrete",
      "numero_niveau", "nom_niveau", "statut_arrete")
    val tied = RefPipeline.prepData(zones, arretes)
    try {
      def q1(day: String) = RefPipeline.q1NbDepPerAlert(tied, lit(Date.valueOf(day))).collect()
        .map(r => (Option(r.get(0)), r.getString(1), r.getLong(2))).toSeq
      def q2(day: String) = RefPipeline.q2MaxAlertPerDept(tied, lit(Date.valueOf(day)), departements)
        .select("code", "numero_niveau", "nom_niveau").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
      assert(q1("2023-08-12") == Seq((Some(3), "alerte renforcée", 1L), (Some(1), "vigilance", 1L),
        (None, "inconnu", 1L)))
      assert(q2("2023-08-12") == Map("07" -> (3, "alerte renforcée"), "2A" -> (1, "vigilance"),
        "971" -> (0, "inconnu"), "01" -> (0, null), "75" -> (0, null)))
      // outside zone 11's and zone 14's decrees, the other decree of each department wins
      assert(q1("2023-08-25") == Seq((Some(3), "alerte", 1L), (None, "inconnu", 2L)))
      assert(q2("2023-08-25")("07") == (3, "alerte"))
    } finally RefPipeline.release(tied)
  }

  test("Q3: per-zone duration bars") {
    val res = RefPipeline.q3ZoneDurations(prepped, "Zone Ardèche Nord")
      .orderBy("numero_niveau").collect()
      .map(r => (r.getInt(2), r.getInt(4))).toSeq
    assert(res == Seq((2, 510), (3, 15)))
  }

  test("Q4: explode-days conserves surface x duration for SUP zones") {
    import spark.implicits._
    val q4 = RefPipeline.q4SurfacePerDay(prepped)
    val total = q4.agg(sum($"surface_zone")).collect()(0).getDouble(0)
    // SUP decrees: z1 (100.0, 15d), z1 (100.0, 510d), z3 (300.0, 1d),
    // z3 (300.0, 31d), z5 (500.0, 14d)
    val expected = 100.0 * 15 + 100.0 * 510 + 300.0 * 1 + 300.0 * 31 + 500.0 * 14
    assert(math.abs(total - expected) < 1e-6)
    // spot-check one day x severity cell: 2023-08-12 niveau 2 =
    // z1(100, alerte) + z3(300, alerte) + z5(500, alerte)
    val cell = q4.filter($"day" === lit(Date.valueOf("2023-08-12")) && $"numero_niveau" === 2)
      .collect()(0).getDouble(3)
    assert(cell == 900.0)
  }

  test("driver contract: queries and oracleSql cover exactly the same keys") {
    // the driver compares each queries(k) result against oracleSql(k)
    // in DuckDB — a key present on one side only either goes untested
    // (silent coverage loss) or fails the run. Pin the alignment at
    // sbt-test time so a drift never reaches the driver.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without an oracle: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracles without a query: ${o.diff(q).toSeq.sorted}")
    // and the declared surface stays the full 182-key round-15 gate
    assert(q.size == 182, s"declared surface changed: ${q.size} keys")
  }

  test("Q1 at a date where only the open-ended decree is active") {
    val d = lit(Date.valueOf("2024-06-01"))
    val res = RefPipeline.q1NbDepPerAlert(prepped, d).collect()
      .map(r => (r.getInt(0), r.getLong(2))).toSeq
    // only z1's null-fin decree (sentinel 2024-12-31) is still valid
    assert(res == Seq((2, 1L)))
  }
}
