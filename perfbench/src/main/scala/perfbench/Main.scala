package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Runs one workload and prints its result.
  *
  * {{{
  * Main --workload dashboard|curation|ingest --seed N --seconds S --trace 0|1
  *      --work DIR [--pg-port P]
  * }}}
  *
  * Order of a run: session (timed from JVM start), input generation
  * (untimed), the workload's engine-side load (timed, usually three
  * times; the median counts toward `setup_s`), warm-up (untimed), then a closed
  * loop of operations for `S` seconds and at least the workload's
  * minimum count. With `--trace 1` a second, traced loop follows the
  * untraced one and its per-span measures (plus `overhead.*`, traced
  * minus untraced end-to-end values) replace the end-to-end ones.
  *
  * The last stdout line is `RESULT <json>` with every measured value;
  * the launcher keeps the ones BENCHMARK.json declares and adds their
  * units. The full artifact (host markers, sizes, sample counts) goes
  * to `DIR/result.json`. */
object Main {

  /** Safety cap on one measured phase, whatever its minimum count. */
  private val MaxPhaseSeconds = 100.0

  /** One measured operation: its kind, when it started (seconds since
    * JVM start), its latency and the hypervisor's steal share meanwhile. */
  final case class Sample(kind: String, atS: Double, ms: Double, steal: Double) {
    def fields: Map[String, Any] = Map("kind" -> kind, "at_s" -> atS, "ms" -> ms, "steal" -> steal)
  }

  final case class Phase(samples: Seq[Sample], docs: Long, rows: Long, failed: Int) {
    def latMs: Seq[Double] = samples.map(_.ms)
    def attempted: Int = samples.length
    /** Busy time with each operation at its kind's median latency, so one
      * operation the host stalled does not move throughput. */
    def busyS: Double = Stats.typicalTotal(samples.map(x => x.kind -> x.ms)) / 1000.0
    def e2e: Map[String, Double] = Map(
      "latency_p50_ms" -> Stats.median(latMs),
      "latency_p80_ms" -> Stats.percentile(latMs, 80),
      "docs_per_s" -> docs / busyS,
      "rows_per_s" -> rows / busyS)
  }

  def main(args: Array[String]): Unit = {
    // exit explicitly: threads the engine leaves behind must not hold
    // the JVM open after the result is out
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = parse(args)
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadAvg1m()
    val jiffies0 = Host.cpuJiffies()

    val cpus = Host.nproc
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = System.currentTimeMillis()

    val ctx = Ctx(spark, seed, work, opts.get("pg-port").map(_.toInt))
    val wl: Workload = workloadName match {
      case "dashboard" => new Dashboard(ctx, zonesN = 2000, decreesN = 30000)
      case "curation" => new Curation(ctx, docsN = 2000)
      case "ingest" =>
        new Ingest(ctx, storeDocs = 2000, batchDocs = 200, plantedPerBatch = 10, csvRows = 20000)
      case other => sys.error(s"unknown workload '$other'")
    }

    val off = Tracer.off(spark)
    val failures = mutable.ArrayBuffer.empty[String]
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = timeline(name) = (System.currentTimeMillis() - jvmStart) / 1000.0
    mark("session")
    try {
      wl.generate()
      mark("generated")
      val loadMs = (1 to wl.setupRepeats).map { _ =>
        val t0 = System.nanoTime()
        wl.load(off)
        (System.nanoTime() - t0) / 1e6
      }
      val setupS = (sessionReady - jvmStart) / 1000.0 + Stats.median(loadMs) / 1000.0
      mark("loaded")
      wl.warmup()
      mark("warm")

      val gc0 = Host.gcMs()
      // a traced run compares two phases of `seconds` each; only an
      // untraced run must reach the minimum count its percentiles need
      val minOps = if (trace) 1 else wl.minOps
      val untraced = measure(wl, seconds, minOps, off, failures)
      mark("measured")
      val traced = if (!trace) None else {
        val tracer = new Tracer(spark, enabled = true)
        tracer.synthetic("setup.session", jvmStart, sessionReady)
        wl.load(tracer)
        val gcT0 = Host.gcMs()
        val phase = measure(wl, seconds, minOps, tracer, failures)
        val gcMs = Host.gcMs() - gcT0
        tracer.stop()
        val report = tracer.report()
        mark("traced")
        Some((phase, report + ("run.gc_ms" -> gcMs.toDouble)))
      }
      val gcMs = Host.gcMs() - gc0
      val jiffies1 = Host.cpuJiffies()
      val peakRss = Host.peakRssMb()

      val attempted = untraced.attempted + traced.map(_._1.attempted).getOrElse(0)
      val failed = untraced.failed + traced.map(_._1.failed).getOrElse(0)
      val e2e: Map[String, Double] = untraced.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> peakRss)
      val metrics: Map[String, Double] = traced match {
        case None => e2e
        case Some((phase, layers)) =>
          val overhead = phase.e2e.map { case (k, v) => s"overhead.$k" -> (v - untraced.e2e(k)) }
          layers ++ overhead
      }
      val storage = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
      val artifact = mutable.LinkedHashMap[String, Any](
        "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failed_frac" -> failed.toDouble / math.max(1, attempted),
        "failures" -> failures.take(20),
        "samples" -> untraced.attempted,
        "samples_beyond_p80" -> Stats.samplesBeyond(untraced.attempted, 80),
        "ops" -> untraced.samples.map(_.fields),
        "setup_load_ms" -> loadMs, "session_ready_ms" -> (sessionReady - jvmStart),
        "timeline_s" -> timeline,
        "host" -> Map(
          "nproc" -> cpus, "load1_start" -> load0, "load1_end" -> Host.loadAvg1m(),
          "steal_frac" -> Host.stealFrac(jiffies0, jiffies1),
          "jvm_heap_max_mb" -> Host.heapMaxMb, "spark_storage_mem_mb" -> storage,
          "gc_ms" -> gcMs),
        "sizes" -> wl.sizes,
        "end_to_end" -> e2e,
        "traced_end_to_end" -> traced.map(_._1.e2e),
        "metrics" -> metrics)
      Files.write(Paths.get(s"$work/result.json"), Json.render(artifact).getBytes(UTF_8))
      println("RESULT " + Json.render(mutable.LinkedHashMap(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> metrics)))
    } finally {
      wl.close()
      spark.stop()
      System.err.println(f"perfbench: stopped at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
    }
  }

  /** A closed loop with one client: operations back to back until
    * `seconds` have passed and at least `minOps` have run.
    * Each check runs after its operation's clock stops. */
  def measure(wl: Workload, seconds: Double, minOps: Int, t: Tracer,
              failures: mutable.ArrayBuffer[String]): Phase = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    var docs, rows = 0L
    var failed = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while ((elapsed < seconds || samples.length < minOps) && elapsed < MaxPhaseSeconds) {
      val i = samples.length
      wl.prepare(i)
      val atS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      val j0 = Host.cpuJiffies()
      val t0 = System.nanoTime()
      val op = try Right(wl.op(i, t)) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val steal = Host.stealFrac(j0, Host.cpuJiffies())
      samples += Sample(op.fold(_ => "error", _.kind), atS, ms, steal)
      val problems = op match {
        case Right(o) =>
          docs += o.docs
          rows += o.rows
          try o.check() catch { case e: Exception => Seq(s"check threw $e") }
        case Left(e) => Seq(e.toString)
      }
      if (problems.nonEmpty) {
        failed += 1
        failures += s"op $i: ${problems.mkString("; ")}"
      }
    }
    Phase(samples.toSeq, docs, rows, failed)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val out = mutable.LinkedHashMap.empty[String, String]
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => out(k.stripPrefix("--")) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    Seq("workload", "seed", "seconds", "trace", "work").foreach(k =>
      require(out.contains(k), s"missing --$k"))
    out.toMap
  }
}
