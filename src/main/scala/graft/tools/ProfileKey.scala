package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job cost anatomy of one bench key (optimization round 21):
  * installs a listener that records every Spark job's wall, task count
  * and description while the key runs under the EXACT bench action
  * (`fn(spark, sfDir).count()` in the key's `Metrics` scope, so a
  * phase's jobs read `<key>/<counter>`), then prints the breakdown — the
  * local-mode stand-in for the Spark UI's Jobs page (spark.ui is off in
  * the bench contract). Run:
  * `sbt "runMain graft.tools.ProfileKey <key>[,<key>...]|ALL [runs]"`
  * (`ALL` is every key of `SparkEntry.queries`). A key that throws is
  * reported with its exception and the pass moves on. The last line
  * sums each key's last run: keys, failed keys, jobs, wall and wall
  * outside any job (the union of job intervals).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (bench defaults). */
object ProfileKey {
  def main(args: Array[String]): Unit = {
    val keys =
      if (args(0) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    final case class StageRec(name: String, tasks: Int, runMs: Long,
                              cpuMs: Long, shufR: Long, shufW: Long,
                              input: Long)
    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = -1L, var tasks: Int = 0,
                            var stages: List[StageRec] = Nil)
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]()
    val byId = new scala.collection.mutable.HashMap[Int, JobRec]()
    val stageToJob = new scala.collection.mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        val r = JobRec(e.jobId, desc, e.time)
        jobs += r; byId(e.jobId) = r
        e.stageInfos.foreach(si => stageToJob(si.stageId) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = e.stageInfo
          val m = si.taskMetrics
          val rec = StageRec(si.name.take(90), si.numTasks,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead)
          stageToJob.get(si.stageId).flatMap(byId.get).foreach { r =>
            r.tasks += si.numTasks; r.stages = r.stages :+ rec
          }
        }
    }

    // same warmup as the bench: one untimed key eats JIT/readahead
    try { graft.SparkEntry.queries("meta_table_exists")(spark, sfDir).count() }
    catch { case _: Throwable => () }
    // same prebuilds as the bench (untimed there, untimed here)
    try { graft.queries.HarnessLLM.ivfIndexFor(spark, sfDir) } catch { case _: Throwable => () }
    try { graft.queries.HarnessLLM.pqIndexFor(spark, sfDir) } catch { case _: Throwable => () }
    try { graft.queries.HarnessLLM.ivfPqIndexFor(spark, sfDir) } catch { case _: Throwable => () }
    try { graft.queries.HarnessLLM.opqModelsFor(spark, sfDir) } catch { case _: Throwable => () }
    try { graft.queries.HarnessLLM.shingledDocsFor(spark, sfDir) } catch { case _: Throwable => () }
    try { graft.queries.HarnessIO.bucketedTablesFor(spark, sfDir) } catch { case _: Throwable => () }

    // each key's last run: (wall ms, jobs, wall ms outside any job)
    val last = new scala.collection.mutable.LinkedHashMap[String, (Double, Int, Double)]()
    val failed = new scala.collection.mutable.LinkedHashMap[String, Throwable]()
    keys.foreach { key =>
      (1 to runs).foreach { r =>
        jobs.clear(); byId.clear()
        spark.sparkContext.addSparkListener(listener)
        System.gc()
        val t0 = System.nanoTime()
        val outcome =
          try { graft.Metrics.withScope(key)(graft.SparkEntry.queries(key)(spark, sfDir).count()); None }
          catch { case scala.util.control.NonFatal(e) => Some(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading the buffers
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        println(f"%n=== $key run $r: wall $wall%.3f s, ${jobs.size} jobs ===")
        outcome.foreach { e =>
          failed(key) = e
          println(s"    FAILED: $e")
        }
        val tracked = jobs.map(j => (j.end - j.start) / 1e3).sum
        println(f"    sum of job walls: $tracked%.3f s (gap to wall = driver-side/planning/untracked)")
        jobs.foreach { j =>
          val d = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d  $d%7.3f s  tasks=${j.tasks}%4d  ${j.desc.take(100)}")
          j.stages.foreach { s =>
            println(f"        stage run=${s.runMs}%6d ms cpu=${s.cpuMs}%6d ms tasks=${s.tasks}%4d in=${s.input}%9d shufR=${s.shufR}%8d shufW=${s.shufW}%8d  ${s.name.take(70)}")
          }
        }
        // the union of the job intervals, so overlapping jobs count once
        val inJobs = jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
            (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
          }._1
        last(key) = (wall * 1e3, jobs.size, math.max(0.0, wall * 1e3 - inJobs))
      }
    }
    failed.foreach { case (key, e) => println(s"FAILED $key: $e") }
    println(f"summary: ${last.size} keys, ${failed.size} failed, ${last.values.map(_._2).sum} jobs, " +
      f"wall ${last.values.map(_._1).sum / 1e3}%.1f s, outside jobs ${last.values.map(_._3).sum / 1e3}%.1f s")
    spark.stop()
  }
}
