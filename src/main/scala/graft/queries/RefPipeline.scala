package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Aggregates, Relational, Temporal}

/** The reference application's own dataflows, on the reference's own
  * schema (zones / arretes / departements — FIXTURES.md §A), so that a
  * user of the reference can run the exact queries they run today.
  *
  * Mirrors tasks/visualization/src/visualization.py:
  *  - [[prepData]]   = prep_data (:29-62): clean → project → join → Duration
  *  - [[q1NbDepPerAlert]] = plot_nb_dep_per_alert (:100-105)
  *  - [[q2MaxAlertPerDept]] = plot_repart_restriction map side (:129-154)
  *  - [[q3ZoneDurations]] = plot_duration_evolution (:169-175)
  *  - [[q4SurfacePerDay]] = plot_surface_evolution (:184-193)
  *
  * Divergence from the reference (documented, deliberate): pandas
  * sorts are unstable so its argmax tie-break among equal severities is
  * nondeterministic (visualization.py:103, :130); we pin
  * `id_zone asc` / `code_departement asc` tiebreakers.
  */
object RefPipeline {

  val DebutSentinel = "1900-01-01"
  val FinSentinel   = "2024-12-31"

  /** prep_data (visualization.py:29-62): sentinel-fill null validity
    * bounds, repair dirty '0023' years, cast to DateType, project the
    * essential columns, inner-join zones⋈arretes on id_zone, derive the
    * inclusive Duration in days. `zones` is dimension-sized → Catalyst
    * broadcasts it under the 100 TB fact-side join.
    *
    * The join comes back persisted (MEMORY_AND_DISK) and materialized
    * by one eager count — the reference's `st.session_state.df`
    * (visualization.py:89-90, :223-224) — so Q1–Q4 scan the cache
    * instead of re-reading, re-cleaning and re-joining their sources.
    * The caller owns `unpersist()`. Calling this again on the same
    * inputs drops the old cache entry first and rebuilds, so a call
    * after the sources change (a re-scrape) sees the current rows. */
  def prepData(zones: DataFrame, arretes: DataFrame): DataFrame = {
    val cleaned = Seq[DataFrame => DataFrame](
      Relational.fillNullSentinel(_, "debut_validite_arrete", DebutSentinel),
      Relational.fillNullSentinel(_, "fin_validite_arrete", FinSentinel),
      Relational.strReplaceLiteral(_, "fin_validite_arrete", "0023", "2023"),
      Relational.toDate(_, "debut_validite_arrete"),
      Relational.toDate(_, "fin_validite_arrete"),
    ).foldLeft(arretes)((df, f) => f(df))
    val zp = Relational.project(zones, Seq(
      "id_zone", "nom_zone", "code_departement", "nom_departement",
      "surface_zone", "type_zone"))
    val ap = Relational.project(cleaned, Seq(
      "id_zone", "debut_validite_arrete", "fin_validite_arrete",
      "numero_niveau", "nom_niveau", "statut_arrete"))
    val joined = Relational.inclusiveDurationDays(
      zp.join(ap, Seq("id_zone"), "inner"),
      "Duration", "debut_validite_arrete", "fin_validite_arrete")
    joined.unpersist()
    joined.persist()
    val sc = joined.sparkSession.sparkContext
    val description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("RefPipeline.prepData:cache")
    try joined.count()
    finally sc.setJobDescription(description)
    joined
  }

  /** Decrees valid at date d (visualization.py:97-98). */
  def validAt(df: DataFrame, d: Column): DataFrame =
    Temporal.pointInInterval(df, d, "debut_validite_arrete", "fin_validite_arrete")

  /** Q1 (visualization.py:100-105): at date d, the max-severity decree
    * per department, counted per severity level, sorted desc. */
  def q1NbDepPerAlert(prepped: DataFrame, d: Column): DataFrame = {
    val top = Temporal.argmaxPerGroup(validAt(prepped, d),
      Seq(col("code_departement")),
      Seq(col("numero_niveau").desc, col("id_zone").asc))
    Aggregates.countByKey(top, Seq(col("numero_niveau"), col("nom_niveau")), "nb_departements")
      .orderBy(col("numero_niveau").desc)
  }

  /** Q2 map side (visualization.py:129-154): max severity per
    * department at date d, LEFT-joined onto the departements dimension
    * (every department survives), null severity → 0. */
  def q2MaxAlertPerDept(prepped: DataFrame, d: Column, departements: DataFrame): DataFrame = {
    val top = Temporal.argmaxPerGroup(validAt(prepped, d),
      Seq(col("code_departement")),
      Seq(col("numero_niveau").desc, col("id_zone").asc))
      .select(col("code_departement"), col("numero_niveau"), col("nom_niveau"))
    val joined = departements.join(top,
      departements("code") === top("code_departement"), "left")
    Relational.fillNullZero(joined, Seq("numero_niveau"))
      .drop("code_departement")
  }

  /** Q3 (visualization.py:169-175): one zone's decree bars
    * (start, Duration). */
  def q3ZoneDurations(prepped: DataFrame, zoneName: String): DataFrame =
    Relational.filterEq(prepped, "nom_zone", zoneName)
      .select(col("id_zone"), col("nom_niveau"), col("numero_niveau"),
        col("debut_validite_arrete"), col("Duration"))

  /** Q4 (visualization.py:184-193): surface-water zones only, each
    * decree exploded into its validity days, total restricted surface
    * per day × severity. */
  def q4SurfacePerDay(prepped: DataFrame): DataFrame = {
    val sup = Relational.filterEq(prepped, "type_zone", "SUP")
    val byDay = Temporal.explodeDays(sup, "day",
      col("debut_validite_arrete"), col("fin_validite_arrete"))
    byDay.groupBy(col("day"), col("nom_niveau"), col("numero_niveau"))
      .agg(Aggregates.sumExact(col("surface_zone")).as("surface_zone"))
      .orderBy(col("day"), col("numero_niveau"))
  }
}
