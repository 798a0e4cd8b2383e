package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  * nondeterministic (visualization.py:103, :130); we pin the order
  * `numero_niveau desc nulls last, id_zone asc, nom_niveau asc` for a
  * department's most severe decree, so two decrees of one zone at one
  * level with different labels also have one winner (the smaller label,
  * in Spark's binary string order), and `code_departement asc`
  * elsewhere.
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
    * Three relations are persisted (MEMORY_AND_DISK) — the reference's
    * `st.session_state.df` (visualization.py:89-90, :223-224):
    *  - the join, which is returned, so Q3 scans it instead of
    *    re-reading, re-cleaning and re-joining its sources;
    *  - Q4's whole result, `q4SurfacePerDay(joined)`: Q4 has no request
    *    parameter, so a Q4 request is one scan of a one-partition cache;
    *  - the severity timeline Q1 and Q2 filter (see
    *    [[severityTimeline]]), one partition of department × change
    *    point rows.
    * Two eager counts, of the summary and of the timeline, materialize
    * all three, since building either reads (and so fills) the join's
    * cache; they run as the phase `prepdata_cache_ms`.
    *
    * The summary and the timeline are recorded against the returned
    * relation, so Q1, Q2 and Q4 over it reuse those Datasets, their
    * analysis and their physical plans: `q4SurfacePerDay(prepped)` is
    * the summary itself. The record is keyed weakly by identity; over a
    * relation it does not hold, the frames are derived again with the
    * same plans, which Spark's CacheManager serves if they are cached.
    *
    * [[release]] frees all three. `prepped.unpersist()` alone frees the
    * join and leaves the loaded summary and timeline in place (Spark
    * keeps the loaded dependents of a non-cascading uncache). The next
    * call here on the same inputs drops all three, the frames before
    * the join, and rebuilds them, so a call after the sources change (a
    * re-scrape) sees the current rows. */
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
    val summary = surfacePerDay(joined)
    val timeline = severityTimeline(joined)
    // the frames go first: dropping the join under a frame that is
    // still cached would make Spark recompile that frame over it
    summary.unpersist()
    timeline.unpersist()
    joined.unpersist()
    // the join is cached first, so the frames' plans read that cache
    joined.persist()
    summary.persist()
    timeline.persist()
    graft.Metrics.phase("prepdata_cache_ms") {
      summary.count()
      timeline.count()
    }
    recorded.put(joined, Frames(summary, timeline))
    joined
  }

  /** Frees everything a [[prepData]] result holds: the Q4 summary and
    * the severity timeline, then the join. */
  def release(prepped: DataFrame): Unit = {
    q4SurfacePerDay(prepped).unpersist()
    timelineOf(prepped).unpersist()
    prepped.unpersist()
    recorded.remove(prepped)
    ()
  }

  /** Q1 (visualization.py:100-105): at date d, the max-severity decree
    * per department, counted per severity level, sorted desc. */
  def q1NbDepPerAlert(prepped: DataFrame, d: Column): DataFrame =
    Aggregates.countByKey(severityAt(prepped, d),
      Seq(col("numero_niveau"), col("nom_niveau")), "nb_departements")
      .orderBy(col("numero_niveau").desc)

  /** Q2 map side (visualization.py:129-154): max severity per
    * department at date d, LEFT-joined onto the departements dimension
    * (every department survives), null severity → 0. */
  def q2MaxAlertPerDept(prepped: DataFrame, d: Column, departements: DataFrame): DataFrame = {
    val top = severityAt(prepped, d)
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
    * final sort. Over a [[prepData]] result this is the cached summary
    * prepData built, and `unpersist()` on it frees that cache. */
  def q4SurfacePerDay(prepped: DataFrame): DataFrame =
    framesOf(prepped).fold(surfacePerDay(prepped))(_.summary)

  private def surfacePerDay(prepped: DataFrame): DataFrame =
    Temporal.sumPerDay(Relational.filterEq(prepped, "type_zone", "SUP"), "day",
      col("debut_validite_arrete"), col("fin_validite_arrete"),
      Seq("nom_niveau", "numero_niveau"), col("surface_zone"), "surface_zone")
      .orderBy(col("day"), col("numero_niveau"))

  /** The timeline rows of each department's most severe decree at d
    * (visualization.py:97-105): one row per department with a decree
    * valid at d, none for a null d. */
  private def severityAt(prepped: DataFrame, d: Column): DataFrame =
    Temporal.pointInInterval(timelineOf(prepped), d, "from", "until")

  private def timelineOf(prepped: DataFrame): DataFrame =
    framesOf(prepped).fold(severityTimeline(prepped))(_.timeline)

  /** The frames [[prepData]] builds over its join. */
  private final case class Frames(summary: DataFrame, timeline: DataFrame)

  /** [[prepData]]'s frames by the relation it returned. A Dataset keeps
    * Object's identity `equals`, and a weak key does not pin the frames
    * of a relation the caller dropped. */
  private val recorded =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[DataFrame, Frames]())

  /** The frames recorded for `prepped`. Without a record, callers
    * derive a frame the way prepData does. */
  private def framesOf(prepped: DataFrame): Option[Frames] = Option(recorded.get(prepped))

  /** One date segment of a department's severity timeline, in epoch
    * days, `until` inclusive, with the winning decree's severity key.
    * The timeline drops `id_zone` once the final sweep has ranked by
    * it. */
  private[queries] final case class Segment(code_departement: String, from: Int, until: Int,
                                            numero_niveau: Option[Long], nom_niveau: String,
                                            id_zone: Long)

  private implicit val SegmentEncoder: Encoder[Segment] = Encoders.product[Segment]

  /** Q1's and Q2's argmax order: `numero_niveau` desc nulls last, then
    * `id_zone` asc, then `nom_niveau` asc nulls first, strings compared
    * as Spark sorts them (UTF-8 bytes). */
  private val Priority: Ordering[Segment] =
    Ordering.by((s: Segment) => s.numero_niveau.isEmpty)
      .orElseBy(_.numero_niveau.getOrElse(0L))(Ordering.Long.reverse)
      .orElseBy(_.id_zone)
      .orElseBy(s => Option(s.nom_niveau).map(UTF8String.fromString))

  /** The argmax sweep over interval rows, per department: each row
    * adds its key at `from` and removes it at `until + 1`, and between
    * consecutive event days the best live key ([[Priority]]) owns the
    * days. Adjacent segments whose winners are `same` merge. A null
    * `code_departement` is a department of its own. */
  private def sweep(same: (Segment, Segment) => Boolean)(rows: Iterator[Segment]): Iterator[Segment] =
    rows.toVector.groupBy(r => Option(r.code_departement)).valuesIterator.flatMap { dept =>
      val indexed = dept.zipWithIndex
      val starts = indexed.sortBy(_._1.from)
      val ends = indexed.sortBy(_._1.until)
      // the row index keeps equal keys of distinct rows apart
      val live = new java.util.TreeSet[(Segment, Int)](
        Priority.on[(Segment, Int)](_._1).orElseBy(_._2))
      val out = Vector.newBuilder[Segment]
      var last: Segment = null
      var i = 0
      var j = 0
      // every start precedes its row's end, so an end is pending while
      // any row is live
      def next: Int = math.min(if (i < starts.length) starts(i)._1.from else Int.MaxValue,
        ends(j)._1.until + 1)
      while (j < ends.length) {
        val day = next
        while (i < starts.length && starts(i)._1.from == day) { live.add(starts(i)); i += 1 }
        while (j < ends.length && ends(j)._1.until + 1 == day) { live.remove(ends(j)); j += 1 }
        if (!live.isEmpty) {
          val winner = live.first._1
          if (last != null && last.until == day - 1 && same(last, winner))
            last = last.copy(until = next - 1)
          else {
            if (last != null) out += last
            last = winner.copy(from = day, until = next - 1)
          }
        }
      }
      if (last != null) out += last
      out.result()
    }

  // Dataset operators get stable function values, so that a re-derived
  // timeline plan equals the cached one
  private val partialSweep: Iterator[Segment] => Iterator[Segment] =
    sweep(Priority.equiv)
  private val finalSweep: Iterator[Segment] => Iterator[Segment] =
    sweep((a, b) => a.numero_niveau == b.numero_niveau && a.nom_niveau == b.nom_niveau)

  /** Per department, the maximal date segments (`from`, `until`
    * inclusive) over which the most severe decree valid that day
    * ([[Priority]]) has a constant (`numero_niveau`, `nom_niveau`) —
    * exactly the `argmax` of the decrees valid at any date in the
    * segment. Decrees with a null or inverted validity are valid on no
    * day. `numero_niveau` keeps its input type.
    *
    * One sweep runs twice: in each input partition, then over the
    * partial segments moved into one partition with `repartition(1)`.
    * The argmax over a union is the argmax of the parts' argmaxes, so
    * this is exact, and the partial sweep keeps the winner's `id_zone`
    * for it. The single partition receives at most departments ×
    * change points rows per input partition, not decrees, and the map
    * side stays parallel. */
  private def severityTimeline(prepped: DataFrame): DataFrame = {
    val level = prepped.schema("numero_niveau").dataType
    prepped.filter(col("debut_validite_arrete") <= col("fin_validite_arrete"))
      .select(col("code_departement"),
        unix_date(col("debut_validite_arrete")).as("from"),
        unix_date(col("fin_validite_arrete")).as("until"),
        col("numero_niveau").cast("long").as("numero_niveau"),
        col("nom_niveau"), col("id_zone").cast("long").as("id_zone"))
      .as[Segment]
      .mapPartitions(partialSweep)
      .repartition(1)
      .mapPartitions(finalSweep)
      .select(col("code_departement"),
        date_from_unix_date(col("from")).as("from"),
        date_from_unix_date(col("until")).as("until"),
        col("numero_niveau").cast(level).as("numero_niveau"), col("nom_niveau"))
  }
}
