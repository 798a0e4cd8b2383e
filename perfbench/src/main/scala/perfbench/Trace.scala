package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around calls into the engine's layers, plus a SparkListener
  * that attributes Spark jobs, task CPU and shuffle bytes to them.
  *
  * Disabled, [[span]] only runs its body. Enabled, every span records
  * its wall-clock interval and nesting depth, every job its interval,
  * every task its metrics, all in memory; [[report]] joins them after
  * the run. A job belongs to the innermost span open when it started
  * ([[Stats.attribute]]); its stages' tasks follow it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val closed = mutable.ArrayBuffer.empty[Closed]
  private var depth = 0
  private var nextId = 0
  private val listener = new JobListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Run `f` as span `name`. Traced, engine counters recorded inside
    * it land in a scope of their own, readable with [[counter]]. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val scope = s"pb$id"
      val d = depth
      depth += 1
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try graft.Metrics.withScope(scope)(f)
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        depth -= 1
        closed += Closed(id, name, d, startMs, System.currentTimeMillis(), wall, scope)
      }
    }

  /** Record a span that ran before tracing could start, such as the
    * session build timed from JVM start. It has no jobs. */
  def synthetic(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      closed += Closed(nextId, name, depth, startMs, endMs, (endMs - startMs).toDouble, s"pb$nextId")
      nextId += 1
    }

  /** An engine counter recorded inside the most recently closed span. */
  def counter(name: String): Option[Long] =
    closed.lastOption.flatMap { c =>
      graft.Metrics.snapshot.collectFirst { case (k, v) if k == s"${c.scope}.$name" => v }
    }

  /** Attach a named value to the most recently closed span. */
  def note(key: String, value: Double): Unit =
    if (enabled) closed.lastOption.foreach(_.notes(key) = value)

  def stop(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Per span name `s`: `s.calls`, and `s.wall_ms`, `s.jobs`,
    * `s.task_cpu_ms`, `s.outside_jobs_ms`, `s.shuffle_bytes` and every
    * noted value averaged over the span's calls; `s.max_task_ms` is the
    * longest task in any call. Plus the run-wide task counters. */
  def report(): Map[String, Double] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val jobs = listener.jobs.asScala.toMap
    val intervals = closed.map(c => Stats.Interval(c.id, c.startMs, c.endMs, c.depth)).toSeq
    val jobOf: Map[Int, Seq[Int]] = jobs.toSeq
      .flatMap { case (jobId, j) => Stats.attribute(intervals, j.start).map(_ -> jobId) }
      .groupMap(_._1)(_._2)
    val jobIntervals = jobs.values.map(j => (j.start, math.max(j.start, j.end))).toSeq
    val stageAgg = listener.stages.asScala.toMap
    val stagesOfJob = listener.stageJob.asScala.toSeq.groupMap(_._2)(_._1)
    val out = mutable.LinkedHashMap.empty[String, Double]
    closed.groupBy(_.name).foreach { case (name, calls) =>
      val n = calls.length.toDouble
      val stagesPerCall = calls.map(c =>
        jobOf.getOrElse(c.id, Nil).flatMap(j => stagesOfJob.getOrElse(j, Nil)).flatMap(stageAgg.get))
      out(s"$name.calls") = n
      out(s"$name.wall_ms") = calls.map(_.wallMs).sum / n
      out(s"$name.jobs") = calls.map(c => jobOf.getOrElse(c.id, Nil).size).sum / n
      out(s"$name.task_cpu_ms") = stagesPerCall.map(_.map(_.cpuNs).sum).sum / 1e6 / n
      out(s"$name.outside_jobs_ms") =
        calls.map(c => Stats.outsideJobs(jobIntervals, c.startMs, c.endMs).toDouble).sum / n
      out(s"$name.shuffle_bytes") = stagesPerCall.map(_.map(_.shuffleBytes).sum).sum.toDouble / n
      out(s"$name.max_task_ms") =
        stagesPerCall.flatMap(_.map(_.maxRunMs)).maxOption.getOrElse(0L).toDouble
      calls.flatMap(_.notes.keys).distinct.foreach { k =>
        val vs = calls.flatMap(_.notes.get(k))
        out(s"$name.$k") = vs.sum / vs.length
      }
    }
    out("run.retried_tasks") = stageAgg.values.map(_.retried).sum.toDouble
    out("run.failed_tasks") = stageAgg.values.map(_.failed).sum.toDouble
    out.toMap
  }
}

object Tracer {
  def off(spark: SparkSession): Tracer = new Tracer(spark, enabled = false)

  private final case class Closed(id: Int, name: String, depth: Int, startMs: Long,
                                  endMs: Long, wallMs: Double, scope: String) {
    val notes: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  }

  final class JobRec(val start: Long) { @volatile var end: Long = -1L }

  final class StageAgg {
    var cpuNs = 0L
    var maxRunMs = 0L
    var shuffleBytes = 0L
    var retried = 0
    var failed = 0
  }

  /** Job intervals, job-to-stage links and per-stage task totals, in
    * memory for the whole run. */
  final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val stages = new ConcurrentHashMap[Int, StageAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobRec(e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      agg.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          agg.cpuNs += m.executorCpuTime
          agg.maxRunMs = math.max(agg.maxRunMs, m.executorRunTime)
          agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
        if (e.taskInfo.attemptNumber > 0) agg.retried += 1
        if (e.reason != Success) agg.failed += 1
      }
    }
  }
}
