package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Process-wide scale-variable registry: operators whose cost is
  * dominated by a DATA-DEPENDENT intermediate (candidate-pair volume
  * in the similarity self-joins, band-collision counts) record it
  * here, and `Bench` folds the last-recorded values into
  * bench_full.json. The r8 lesson: a candidate blowup that is
  * invisible in the output (the rescore filters it away) is very
  * visible in wall clock — logging the volume makes the regression
  * diagnosable from the bench artifact alone.
  *
  * CALLER NAMESPACING (round 13): counters used to be last-writer-wins
  * across keys sharing a code path (`jaccard_probe_prefix_candidates_ms`
  * was written by both `dedup_jaccard_probe` and `stream_jaccard_probe`,
  * and the later suite position won), which made per-key adjudication
  * of a flagged key need a manual isolated rerun. The bench now opens a
  * scope per key ([[withScope]]), and every counter recorded inside it
  * lands as `<key>.<counter>` — both callers' phase numbers coexist in
  * bench_full.json. Records outside any scope (the untimed pre-builds,
  * Verify, specs) keep their raw names.
  *
  * PHASES: an eager step is timed and named in one place, [[phase]].
  * Its wall lands under its counter, and every Spark job it starts
  * carries `<scope>/<counter>` as its job description, so a job
  * listing reads back to the counter that timed it. [[counted]] is the
  * one observed-count checkpoint: a row count read off the job that
  * materializes the rows. */
object Metrics {
  private val counters = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Caller scope for namespacing — a DynamicVariable so the per-key
    * attribution survives any same-thread nesting and parallel test
    * suites cannot cross-pollute each other's scopes. Inheritance is
    * DELIBERATE: streaming keys record their ingest counters on the
    * per-query micro-batch execution thread, which Spark creates
    * inside the key's scope — a non-inheriting ThreadLocal would strip
    * exactly those counters' namespaces. */
  private val scope = new scala.util.DynamicVariable[Option[String]](None)

  /** Open-count per scope name (a REFCOUNT, not a set: two parallel
    * suites — or one nested — holding the same name must not lose
    * namespacing when the first exits). DynamicVariable is
    * InheritableThreadLocal-backed, so a long-lived thread CREATED
    * during a key's scope (a lazily initialized driver pool) inherits
    * that scope forever — a record fired from it during a LATER key
    * would silently land under the stale key (round-13 advice). The
    * guard: an inherited scope only namespaces while at least one
    * holder of that name is still open; records from outlived
    * inheritance fall back to raw names, which the bench reports
    * un-attributed rather than mis-attributed.
    *
    * KNOWN LIMIT (round-15 review): the guard only catches OUTLIVED
    * inheritance. Two scopes genuinely open CONCURRENTLY on one
    * SparkSession can still cross-attribute — a shared pool thread
    * created inside scope A records under A while A is open, even
    * when the work belongs to B. The bench (sequential keys) and sbt
    * test (sequential suites) never hit this; running suites in
    * parallel against the shared session would need scope tokens
    * threaded through the work itself, not thread inheritance. */
  private val open = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Run `f` with every [[record]] inside it namespaced as
    * `caller.<name>`. */
  def withScope[T](caller: String)(f: => T): T = {
    open.merge(caller, 1, (a, b) => a + b)
    try scope.withValue(Some(caller))(f)
    finally {
      open.compute(caller, (_, n) => if (n == null || n <= 1) null else n - 1)
      ()
    }
  }

  /** Record (overwrite) a named scale counter, qualified by the active
    * caller scope if one is open — and still open process-wide (see
    * [[open]]: stale inherited scopes degrade to raw names). */
  def record(name: String, value: Long): Unit = {
    counters.put(scoped(name), value)
    ()
  }

  /** `name` under the open caller scope, if any, joined by `sep`. */
  private def scoped(name: String, sep: String = "."): String =
    scope.value.filter(open.containsKey).map(_ + sep + name).getOrElse(name)

  /** Run `body` as the phase `counter`: the Spark jobs it starts (AQE's
    * stage jobs included) carry the job description `<scope>/<counter>`,
    * or the bare counter outside any open scope, and its wall in ms is
    * [[record]]ed under `counter` when it returns normally (a throw
    * records nothing). The previous description is restored on either
    * exit, so phases nest. Streaming micro-batches set their own
    * description and stay unnamed. */
  def phase[T](counter: String)(body: => T): T = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val outer = sc.map(_.getLocalProperty("spark.job.description")).orNull
    sc.foreach(_.setJobDescription(scoped(counter, "/")))
    try {
      val t0 = System.nanoTime()
      val out = body
      record(counter, (System.nanoTime() - t0) / 1000000L)
      out
    } finally sc.foreach(_.setJobDescription(outer))
  }

  /** `df` materialized by one eager local checkpoint, with its row count
    * observed during that same job (no separate `count()`). */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val out = df.observe(obs, count(lit(1)).as("__rows")).localCheckpoint(true)
    (out, observedCount(obs, "__rows"))
  }

  /** Blocking read of an observed row-count metric. A missing key reads
    * 0: when AQE proves the observed subtree empty (an alien probe
    * sharing no shingles), Catalyst's empty-relation propagation prunes
    * the CollectMetrics node and the observation completes WITHOUT the
    * metric — and pruning happens only under provable emptiness, so 0
    * is the exact count, not a guess. */
  private[graft] def observedCount(obs: Observation, name: String): Long =
    obs.get.get(name).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Accumulate into a named counter (same scoping rules as
    * [[record]]) — for per-task contributions that sum to a phase
    * total, e.g. each graft_pg partition reader's wall. Atomic via the
    * TrieMap merge loop, since parallel tasks land here together.
    * LOCAL-MODE observability only when called from task code: this
    * registry is a plain JVM singleton, so on a real cluster
    * executor-side adds land in executor JVMs nothing snapshots — the
    * bench (local[32] by design) sees them; a cluster job should not
    * rely on them. Driver-side records are unaffected. */
  def add(name: String, value: Long): Unit = {
    val key = scoped(name)
    var done = false
    while (!done) counters.get(key) match {
      case None => done = counters.putIfAbsent(key, value).isEmpty
      case Some(cur) => done = counters.replace(key, cur, cur + value)
    }
  }

  /** Snapshot of all recorded counters, sorted by name. */
  def snapshot: Seq[(String, Long)] = counters.toSeq.sortBy(_._1)

  /** Testing hook. */
  private[graft] def clear(): Unit = counters.clear()
}
