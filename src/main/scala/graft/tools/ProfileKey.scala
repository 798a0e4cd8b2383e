package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job cost anatomy of one bench key (optimization round 21):
  * installs a listener that records every Spark job's wall, task count
  * and description while the key runs under the EXACT bench action
  * (`fn(spark, sfDir).count()` in the key's `Metrics` scope, so a
  * phase's jobs read `<key>/<counter>`), then prints the breakdown — the
  * local-mode stand-in for the Spark UI's Jobs page (spark.ui is off in
  * the bench contract). Run:
  * `sbt "runMain graft.tools.ProfileKey <key>[,<key>...] [runs]"`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (bench defaults). */
object ProfileKey {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty)
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

    keys.foreach { key =>
      val fn = graft.SparkEntry.queries(key)
      (1 to runs).foreach { r =>
        jobs.clear(); byId.clear()
        spark.sparkContext.addSparkListener(listener)
        System.gc()
        val t0 = System.nanoTime()
        graft.Metrics.withScope(key)(fn(spark, sfDir).count())
        val wall = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading the buffers
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
        println(f"%n=== $key run $r: wall $wall%.3f s, ${jobs.size} jobs ===")
        val tracked = jobs.map(j => (j.end - j.start) / 1e3).sum
        println(f"    sum of job walls: $tracked%.3f s (gap to wall = driver-side/planning/untracked)")
        jobs.foreach { j =>
          val d = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
          println(f"  job ${j.id}%4d  $d%7.3f s  tasks=${j.tasks}%4d  ${j.desc.take(100)}")
          j.stages.foreach { s =>
            println(f"        stage run=${s.runMs}%6d ms cpu=${s.cpuMs}%6d ms tasks=${s.tasks}%4d in=${s.input}%9d shufR=${s.shufR}%8d shufW=${s.shufW}%8d  ${s.name.take(70)}")
          }
        }
      }
    }
    spark.stop()
  }
}
