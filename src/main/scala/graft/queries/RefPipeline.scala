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
    * Two relations are persisted (MEMORY_AND_DISK) — the reference's
    * `st.session_state.df` (visualization.py:89-90, :223-224):
    *  - the join, which is returned, so Q1–Q3 scan it instead of
    *    re-reading, re-cleaning and re-joining their sources;
    *  - Q4's whole result, `q4SurfacePerDay(joined)`: Q4 has no request
    *    parameter, and a later `q4SurfacePerDay(prepped)` builds the
    *    same logical plan, which Spark's CacheManager serves from this
    *    summary, so a Q4 request is one scan of a one-partition cache.
    * One eager count of the summary materializes both, since building
    * the summary reads (and so fills) the join's cache; it runs as the
    * phase `prepdata_cache_ms`.
    *
    * The caller owns the join's `unpersist()`. That call leaves the
    * loaded summary in place (Spark keeps the loaded dependents of a
    * non-cascading uncache); `q4SurfacePerDay(prepped).unpersist()`
    * frees it, and so does the next call here on the same inputs. Such
    * a call drops the old summary, then the old join, and rebuilds
    * both, so a call after the sources change (a re-scrape) sees the
    * current rows. */
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
    val summary = q4SurfacePerDay(joined)
    // the summary goes first: dropping the join under a summary that is
    // still cached would make Spark recompile that summary over it
    summary.unpersist()
    joined.unpersist()
    // the join is cached first, so the summary's plan reads that cache
    joined.persist()
    summary.persist()
    graft.Metrics.phase("prepdata_cache_ms")(summary.count())
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

  /** Q4 (visualization.py:184-193): surface-water zones only, total
    * restricted surface per validity day × severity — the reference's
    * per-decree day explode, computed by [[Temporal.sumPerDay]]'s
    * interval sweep. Its one-partition result needs no exchange for the
    * final sort. Over a [[prepData]] result this plan is already cached
    * (prepData builds it), and `unpersist()` on it frees that cache. */
  def q4SurfacePerDay(prepped: DataFrame): DataFrame =
    Temporal.sumPerDay(Relational.filterEq(prepped, "type_zone", "SUP"), "day",
      col("debut_validite_arrete"), col("fin_validite_arrete"),
      Seq("nom_niveau", "numero_niveau"), col("surface_zone"), "surface_zone")
      .orderBy(col("day"), col("numero_niveau"))
}
