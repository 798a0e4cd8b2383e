package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Real streaming-path tests: the same transforms the harness verifies
  * in batch, executed incrementally over MemoryStream with watermarks,
  * late data, duplicates, and keyed state. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def e(id: Long, t: String, uid: Long = 1L, typ: String = "click"): Event =
    Event(id, ts(t), uid, typ, 1.0, "{}")

  test("tumbling counts: stream equals batch on the same data") {
    import spark.implicits._
    val events = Seq(
      e(1, "2024-01-01 10:05:00"), e(2, "2024-01-01 10:35:00"),
      e(3, "2024-01-01 11:05:00", typ = "view"), e(4, "2024-01-01 11:15:00"))

    val batch = Streams.tumblingCounts(events.toDF())
      .orderBy("window_start", "event_type").collect()

    val ms = MemoryStream[Event](spark)
    ms.addData(events: _*) // buffer BEFORE start: AvailableNow stops at the data horizon it sees
    val q = Streams.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("tumbling_t")
      .orderBy("window_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("sliding counts: stream equals batch on the same data") {
    import spark.implicits._
    val events = Seq(
      e(1, "2024-01-01 10:05:00"), e(2, "2024-01-01 10:40:00"),
      e(3, "2024-01-01 10:50:00", typ = "view"))

    val batch = Streams.slidingCounts(events.toDF())
      .orderBy("window_start", "event_type").collect()
    // 1h window / 30m slide: each event lands in exactly two windows
    assert(batch.map(_.getLong(2)).sum == events.length * 2L)

    val ms = MemoryStream[Event](spark)
    ms.addData(events: _*) // buffer BEFORE start: AvailableNow stops at the data horizon it sees
    val q = Streams.slidingCounts(ms.toDF())
      .writeStream.format("memory").queryName("sliding_t")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding_t")
      .orderBy("window_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val q = Streams.tumblingCounts(ms.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_t")
      .outputMode("append").start()

    // Batch 1 sets max event time to 11:00 -> watermark 10:50.
    ms.addData(e(1, "2024-01-01 10:05:00"), e(2, "2024-01-01 11:00:00"))
    q.processAllAvailable()
    // Batch 2: a 09:30 row is far behind the watermark -> dropped;
    // 12:15 advances the watermark to 12:05, past the end of the
    // 10:00 and 11:00 windows, finalizing them.
    ms.addData(e(3, "2024-01-01 09:30:00"), e(4, "2024-01-01 12:15:00"))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("late_t").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    // The dropped 09:30 row would have created a 09:00 window.
    assert(!out.contains("2024-01-01 09:00:00.0"))
    assert(out("2024-01-01 10:00:00.0") == 1L)
    assert(out("2024-01-01 11:00:00.0") == 1L)
  }

  test("dropDuplicatesWithinWatermark dedupes across micro-batches") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val q = Streams.dedupFirst(ms.toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()

    ms.addData(e(1, "2024-01-01 10:00:00"), e(1, "2024-01-01 10:00:30"))
    q.processAllAvailable()
    ms.addData(e(1, "2024-01-01 10:01:00"), e(2, "2024-01-01 10:02:00"))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup_t").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("keyed state (flatMapGroupsWithState) folds across micro-batches") {
    import spark.implicits._
    val ms = MemoryStream[Event](spark)
    val q = Streams.lastStatePerUser(ms.toDS())
      .writeStream.format("memory").queryName("state_t")
      .outputMode("update").start()

    ms.addData(e(1, "2024-01-01 10:00:00", uid = 7, typ = "view"))
    q.processAllAvailable()
    ms.addData(e(2, "2024-01-01 10:05:00", uid = 7, typ = "purchase"))
    q.processAllAvailable()
    q.stop()

    // Update mode re-emits the latest state per key; take the last row.
    val rows = spark.table("state_t").collect()
    val last = rows.last
    assert(last.getLong(0) == 7L)
    assert(last.getString(1) == "purchase")
    assert(last.getLong(2) == 2L)
  }

  test("stream-stream attribution join: stream equals batch, horizon excludes stale views") {
    import spark.implicits._
    val views = Seq(
      e(10, "2024-01-01 10:00:00", uid = 1, typ = "view"),
      e(11, "2024-01-01 08:00:00", uid = 1, typ = "view"), // > 1h before -> excluded
      e(12, "2024-01-01 10:10:00", uid = 2, typ = "view")) // no purchase
    val purchases = Seq(
      e(20, "2024-01-01 10:30:00", uid = 1, typ = "purchase"))

    val batch = Streams.attributionJoin(views.toDF(), purchases.toDF())
      .select("purchase_id", "view_id", "user_id")
      .orderBy("purchase_id", "view_id").collect()
    assert(batch.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((20L, 10L)))

    val msV = MemoryStream[Event](spark)
    val msP = MemoryStream[Event](spark)
    msV.addData(views: _*)
    msP.addData(purchases: _*)
    val q = Streams.attributionJoin(msV.toDF(), msP.toDF())
      .select("purchase_id", "view_id", "user_id")
      .writeStream.format("memory").queryName("attrib_t")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attrib_t")
      .orderBy("purchase_id", "view_id").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("lateCountsPerKey groups by the key it partitions by (not a hardcoded column)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val evs = Seq(
      e(1, "2024-01-01 10:00:00", uid = 1),
      e(2, "2024-01-01 11:00:00", uid = 1),
      e(3, "2024-01-01 10:00:00", uid = 1), // 60 min behind user 1's max -> late
      e(4, "2024-01-01 10:00:00", uid = 2),
      e(5, "2024-01-01 10:05:00", uid = 2)) // in order -> on time
      .toDF()
    val byUser = Streams.lateCountsPerKey(evs, col("user_id"))
    assert(byUser.columns.toSeq == Seq("user_id", "n_late"))
    val got = byUser.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L))
  }

  test("lateCountsPerKey equals global lateCounts on each key's own substream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = graft.queries.HarnessCore.events(spark, "/root/testdata/sf0.001")
    val order = Seq(col("event_id") % 97, col("event_id"))
    val perKey = Streams.lateCountsPerKey(ev, col("event_type"), arrivalOrder = order)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val types = ev.select("event_type").distinct().collect().map(_.getString(0))
    val perSub = types.flatMap { t =>
      Streams.lateCounts(ev.filter(col("event_type") === t), arrivalOrder = order)
        .collect().map(r => r.getString(0) -> r.getLong(1))
    }.toMap
    assert(perKey == perSub)
  }

  test("left-outer attribution join emits the unmatched purchase after the watermark closes its horizon") {
    import spark.implicits._
    val msV = MemoryStream[Event](spark)
    val msP = MemoryStream[Event](spark)
    val q = Streams.attributionJoin(msV.toDF(), msP.toDF(),
      joinType = "left_outer")
      .select($"purchase_id", $"view_id")
      .writeStream.format("memory").queryName("attrib_outer_t")
      .outputMode("append").start()
    // purchase with no matching view; the view stream sees an
    // unrelated user so both sides carry event time
    msP.addData(e(20, "2024-01-01 10:00:00", uid = 1, typ = "purchase"))
    msV.addData(e(10, "2024-01-01 09:30:00", uid = 2, typ = "view"))
    q.processAllAvailable()
    // the null row must NOT emit yet: a matching view could still arrive
    assert(spark.table("attrib_outer_t").isEmpty)
    // sentinels on BOTH streams push the global watermark past the
    // purchase's match horizon (10:00), allowing state eviction
    msP.addData(e(21, "2024-01-01 13:00:00", uid = 3, typ = "purchase"))
    msV.addData(e(11, "2024-01-01 13:00:00", uid = 2, typ = "view"))
    q.processAllAvailable()
    // eviction output lands in the batch AFTER the watermark advances
    msV.addData(e(12, "2024-01-01 13:30:00", uid = 2, typ = "view"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib_outer_t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.contains((20L, -1L)),
      s"unmatched purchase must emit with null view after watermark close: ${rows.toSeq}")
  }

  test("foreachBatch parquet sink: complete-mode refresh overwrites the file snapshot") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // The reference's refresh loop is a full recompute + replace
    // (visualization.py:226-233); the streaming-native equivalent is
    // complete-mode foreachBatch overwriting a parquet snapshot — the
    // production file-sink shape, checkpointed for exactly-once.
    val out = "/tmp/graft_stream_sink_test"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val events1 = Seq(e(1, "2024-01-01 10:05:00"), e(2, "2024-01-01 10:35:00"))
    val events2 = Seq(e(3, "2024-01-01 11:05:00", typ = "view"))
    val ms = MemoryStream[Event](spark)
    val q = Streams.tumblingCounts(ms.toDF())
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$out/_chk")
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("overwrite").parquet(s"$out/data")
      }
      .start()
    ms.addData(events1: _*)
    q.processAllAvailable()
    ms.addData(events2: _*)
    q.processAllAvailable()
    q.stop()
    val snap = spark.read.parquet(s"$out/data")
      .orderBy("window_start", "event_type").collect()
    val batch = Streams.tumblingCounts((events1 ++ events2).toDF())
      .orderBy("window_start", "event_type").collect()
    assert(snap.toSeq == batch.toSeq)
  }

  test("store compaction bounds partition count and preserves the row set") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 4
    def vecs(base: Long, n: Int, seed: Int) = {
      val rnd = new scala.util.Random(800 + seed)
      (0 until n).map(i => (base + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    }
    val batches = (0 until 5).map(k => vecs(k * 1000L, 10, k))
    val all = batches.flatten
    val centroids = Vectors.fitQuantizer(
      batches.head.toDF("vec_id", "embedding"), "embedding", nlist = 2)
    val boot = VectorIngest.IndexBootstrap(dim, centroids)
    def partitionDirs(store: String) =
      Option(new java.io.File(store).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("__batch="))
    def rows(store: String) = spark.read.parquet(store).drop("__batch")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)

    // integrated: count-triggered compaction inside the stream
    val store1 = "/tmp/graft_test/vec_compact_stream"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store1))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store1,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0),
      compactEvery = 3)
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    assert(partitionDirs(store1).length <= 3,
      s"compaction must bound partitions: ${partitionDirs(store1).map(_.getName).toSeq}")
    val batchBuild = VectorIngest.indexColumns(
      all.toDF("vec_id", "embedding"), "vec_id", "embedding", boot)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(rows(store1) == batchBuild,
      "compacted store must stay row-identical to the one-shot batch build")

    // direct: full fold preserves the row set and lands in ONE file
    val store2 = "/tmp/graft_test/vec_compact_direct"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store2))
    val ms2 = MemoryStream[(Long, Array[Float])](spark)
    val q2 = VectorIngest.maintainIndex(
      ms2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    batches.foreach { b => ms2.addData(b: _*); q2.processAllAvailable() }
    q2.stop()
    assert(partitionDirs(store2).length == 5)
    val before = rows(store2)
    VectorIngest.compactStore(spark, store2, upToBatch = 5)
    assert(rows(store2) == before, "compaction must preserve the row set exactly")
    val dirs = partitionDirs(store2)
    assert(dirs.map(_.getName).toSeq == Seq("__batch=-1"), dirs.map(_.getName).toSeq)
    val files = dirs.head.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"full fold must land in one file: ${files.length}")
  }

  test("replayed micro-batch overwrites its own partition — store equals a failure-free run") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 4
    def vecs(base: Long, n: Int, seed: Int) = {
      val rnd = new scala.util.Random(600 + seed)
      (0 until n).map(i => (base + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    }
    val b1 = vecs(0L, 20, 1)
    val b2 = vecs(1000L, 20, 2)
    val root = "/tmp/graft_test/vec_replay"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/src"
    val store = s"$root/store"
    val centroids = Vectors.fitQuantizer(b1.toDF("vec_id", "embedding"), "embedding", nlist = 2)
    val boot = VectorIngest.IndexBootstrap(dim, centroids)
    val schema = b1.toDF("vec_id", "embedding").schema
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      VectorIngest.maintainIndex(stream, "vec_id", "embedding", boot, store)
        .awaitTermination()
    }
    b1.toDF("vec_id", "embedding").write.mode("append").parquet(src)
    run() // batch 0 = b1
    b2.toDF("vec_id", "embedding").write.mode("append").parquet(src)
    run() // batch 1 = b2
    val committed = spark.read.parquet(store).drop("__batch")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // simulate a crash between the batch-1 write and its commit: the
    // offset survives, the commit record does not, so the restarted
    // query RE-EXECUTES batch 1 over the same source files
    assert(new java.io.File(s"$store/_checkpoint/commits/1").delete(),
      "expected a commit record for batch 1")
    // the local checksum fs keeps a .crc sidecar; a stale one blocks
    // the replayed commit's rename
    new java.io.File(s"$store/_checkpoint/commits/.1.crc").delete()
    run() // replays batch 1
    val replayed = spark.read.parquet(store).drop("__batch")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(replayed.size == 40,
      s"replay must not duplicate rows: ${replayed.size}")
    assert(replayed == committed,
      "store after a replayed batch must equal the failure-free store")
    // and still row-identical to a one-shot batch build over all rows
    val batchCols = VectorIngest.indexColumns(
      (b1 ++ b2).toDF("vec_id", "embedding"), "vec_id", "embedding", boot)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(replayed == batchCols,
      "replayed store must equal the one-shot batch build")
  }

  test("embedding probe served off the store equals the fresh-signed batch probe") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 8
    def vecs(base: Long, n: Int, seed: Int) = {
      val rnd = new scala.util.Random(900 + seed)
      (0 until n).map(i => (base + i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    }
    val batches = (0 until 3).map(k => vecs(k * 1000L, 15, k))
    val all = batches.flatten
    val corpus = all.toDF("vec_id", "embedding")
    val centroids = Vectors.fitQuantizer(
      batches.head.toDF("vec_id", "embedding"), "embedding", nlist = 2)
    val boot = VectorIngest.IndexBootstrap(dim, centroids)
    val store = "/tmp/graft_test/emb_probe_store_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // probes: a verbatim copy of a batch-0 vector, a half-scaled
    // (colinear) copy of a batch-1 vector, and a fresh random vector
    val probes = Seq(
      (9001L, all.find(_._1 == 1L).get._2),
      (9002L, all.find(_._1 == 1001L).get._2.map(x => (x * 0.5f))),
      (9003L, Array.fill(dim)(new scala.util.Random(77).nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def rel(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "dup_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = rel(VectorIngest.srpProbeFromStore(spark, store, probes,
      "vec_id", "embedding", boot, simThreshold = 0.9))
    val fresh = rel(Vectors.srpProbe(corpus, probes, "vec_id", "embedding",
      simThreshold = 0.9))
    assert(served === fresh,
      "store-served probe must equal the fresh-signed probe across batch splits")
    assert(served.contains((9001L, 1L)), s"verbatim copy must match its original: $served")
    assert(served.contains((9002L, 1001L)), s"colinear copy must match its original: $served")
    // the sidecar wins over the caller's bootstrap: a probe declared
    // with the WRONG geometry still signs with the store's persisted
    // params instead of silently joining to nothing
    val servedWrongBoot = rel(VectorIngest.srpProbeFromStore(spark, store, probes,
      "vec_id", "embedding", boot.copy(bits = 4, bands = 2, seed = 7L),
      simThreshold = 0.9))
    assert(servedWrongBoot === fresh,
      "persisted geometry must override a mismatched caller bootstrap")
    // and a maintainer re-declaring different geometry on the same
    // store throws instead of corrupting the band keyspace
    intercept[IllegalArgumentException] {
      VectorIngest.maintainIndex(
        MemoryStream[(Long, Array[Float])](spark).toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", boot.copy(bits = 4), store)
    }
  }

  test("embedding probe serves the newest version of a re-ingested cid, pre-compaction") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 4
    val vecA = Array(1f, 0f, 0f, 0f)
    val vecB = Array(0f, 1f, 0f, 0f) // orthogonal to A: cos(A, B) = 0
    val rnd = new scala.util.Random(42)
    val filler = (10 until 20).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val centroids = Vectors.fitQuantizer(
      (filler :+ (1L, vecA)).toDF("vec_id", "embedding"), "embedding", nlist = 2)
    val boot = VectorIngest.IndexBootstrap(dim, centroids)
    val store = "/tmp/graft_test/emb_probe_reingest_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    ms.addData(filler :+ (1L, vecA): _*); q.processAllAvailable() // batch 0: cid 1 = A
    ms.addData((1L, vecB)); q.processAllAvailable()               // batch 1: cid 1 = B
    q.stop()
    // both versions of cid 1 sit in their own __batch partitions now
    assert(spark.read.parquet(store).filter($"cid" === 1L).count() == 2)
    val probes = Seq((9001L, vecA), (9002L, vecB)).toDF("vec_id", "embedding")
    val got = VectorIngest.srpProbeFromStore(spark, store, probes,
      "vec_id", "embedding", boot, simThreshold = 0.9)
      .select($"probe_id", $"dup_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((9002L, 1L)),
      s"probe of the NEW vector must match the re-ingested cid: $got")
    assert(!got.contains((9001L, 1L)),
      s"probe of the STALE vector must not match (newest-version fold): $got")
    // the SEARCH servers apply the same fold: one cell row per cid,
    // and a query for the new version finds the re-ingested cid
    val idx = VectorIngest.indexFromStore(spark, store, boot)
    assert(idx.cells.filter($"cid" === 1L).count() == 1,
      "index server must fold a re-ingested cid to its newest row")
    val hit = Vectors.ivfSearch(idx,
      Seq((5000L, vecB)).toDF("vec_id", "embedding"), "vec_id", "embedding", k = 1)
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(hit == Seq(1L),
      s"search for the new version must rank the re-ingested cid first: $hit")
    // scan-width audit: the served probe's rescore reads only the
    // narrow (cid, __cv) fold — the signature fold lives entirely
    // inside the eager candidate reduction, so no __sig column (and no
    // wide combined fold) survives into the served plan
    val servedPlan = VectorIngest.srpProbeFromStore(spark, store, probes,
      "vec_id", "embedding", boot, simThreshold = 0.9)
      .queryExecution.executedPlan.toString
    assert(!servedPlan.contains("__sig"),
      s"rescore plan must not carry the signature column:\n$servedPlan")
    // the compaction fold applies the same per-cid newest-version rule:
    // cid 1 keeps exactly its batch-1 row, and the probes still resolve
    // against the new vector only
    VectorIngest.compactStore(spark, store, upToBatch = 2)
    val foldedCv = spark.read.parquet(store).filter($"cid" === 1L)
      .select($"__cv").as[Seq[Double]].collect()
    val vecBNormalized = Seq(Tuple1(vecB)).toDF("v")
      .select(Vectors.normalized($"v")).as[Seq[Double]].head()
    assert(foldedCv.toSeq === Seq(vecBNormalized),
      s"the fold must keep only cid 1's newest vector, got ${foldedCv.toSeq}")
    val gotFolded = VectorIngest.srpProbeFromStore(spark, store, probes,
      "vec_id", "embedding", boot, simThreshold = 0.9)
      .select($"probe_id", $"dup_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFolded.contains((9002L, 1L)) && !gotFolded.contains((9001L, 1L)),
      s"post-fold probes must match only the new vector: $gotFolded")
  }

  test("session windows split on gap > 30 minutes (batch and stream agree)") {
    import spark.implicits._
    val events = Seq(
      e(1, "2024-01-01 10:00:00", uid = 5), e(2, "2024-01-01 10:20:00", uid = 5),
      e(3, "2024-01-01 11:30:00", uid = 5)) // 70-min gap -> new session

    val batch = Streams.sessionAgg(events.toDF())
      .orderBy("session_start").collect()
    assert(batch.length == 2)
    assert(batch(0).getAs[Long]("n_events") == 2L)
    assert(batch(0).getAs[Timestamp]("session_end") == ts("2024-01-01 10:50:00"))
    assert(batch(1).getAs[Long]("n_events") == 1L)

    val ms = MemoryStream[Event](spark)
    val q = Streams.sessionAgg(ms.toDF())
      .writeStream.format("memory").queryName("session_t")
      .outputMode("complete").start()
    ms.addData(events: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("session_t").orderBy("session_start").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-maintained vector index equals the batch build") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 8
    def cluster(center: Array[Double], n: Int, base: Long, seed: Int) = {
      val rnd = new scala.util.Random(500 + seed)
      (0 until n).map { i =>
        (base + i, Array.tabulate(dim)(d =>
          (center(d) + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    def axis(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    def between(i: Int, j: Int) = Array.tabulate(dim)(d =>
      if (d == i || d == j) math.sqrt(0.5) else 0.0)
    // bootstrap: quantizer fit on the first two clusters' distribution
    val b1 = cluster(axis(0), 30, 0L, 1)
    val b2 = cluster(axis(1), 30, 1000L, 2)
    val b3 = cluster(between(2, 3), 30, 2000L, 3) // drifted batch
    val fitDf = (b1 ++ b2).toDF("vec_id", "embedding")
    val centroids = Vectors.fitQuantizer(fitDf, "embedding", nlist = 2)
    val boot = VectorIngest.IndexBootstrap(dim, centroids)
    val store = "/tmp/graft_test/vec_ingest_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    ms.addData(b3: _*); q.processAllAvailable()
    q.stop()
    // the stream-maintained store is EXACTLY the one-shot batch build
    // over the same rows (same frozen planes + quantizer, same rounding)
    // the store carries the per-batch partition column its
    // replay-safe dynamic-overwrite write added; drop it for the
    // row-identity comparison (it is layout, not index state)
    val streamCols = spark.read.parquet(store).drop("__batch")
    val batchCols = VectorIngest.indexColumns(
      (b1 ++ b2 ++ b3).toDF("vec_id", "embedding"), "vec_id", "embedding", boot)
    assert(streamCols.count() == 90)
    assert(streamCols.exceptAll(batchCols).isEmpty &&
      batchCols.exceptAll(streamCols).isEmpty,
      "stream-maintained index columns must be bit-identical to the batch build")
    // and the mid-stream store is searchable as a regular IVF index
    val idx = VectorIngest.indexFromStore(spark, store, boot)
    val res = Vectors.ivfSearch(idx,
      Seq((0L, axis(0).map(_.toFloat))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 5, nprobe = 1)
    assert(res.count() == 5)
  }

  test("stream-maintained PQ codes equal the batch encoding; store searches as a PQ index") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 8
    def cluster(center: Array[Double], n: Int, base: Long, seed: Int) = {
      val rnd = new scala.util.Random(700 + seed)
      (0 until n).map { i =>
        (base + i, Array.tabulate(dim)(d =>
          (center(d) + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    def axis(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    val b1 = cluster(axis(0), 30, 0L, 1)
    val b2 = cluster(axis(1), 30, 1000L, 2)
    val fitDf = (b1 ++ b2).toDF("vec_id", "embedding")
    val centroids = Vectors.fitQuantizer(fitDf, "embedding", nlist = 2)
    val cb = Vectors.pqFit(fitDf, "embedding", m = 2, ksub = 16)
    val boot = VectorIngest.IndexBootstrap(dim, centroids, pq = Some(cb))
    val store = "/tmp/graft_test/vec_pq_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // frozen codebooks → per-batch codes bit-identical to one batch pass
    val streamCols = spark.read.parquet(store).drop("__batch")
    val batchCols = VectorIngest.indexColumns(fitDf, "vec_id", "embedding", boot)
    assert(streamCols.columns.contains("__code"))
    assert(streamCols.exceptAll(batchCols).isEmpty &&
      batchCols.exceptAll(streamCols).isEmpty,
      "stream-maintained PQ codes must be bit-identical to the batch encoding")
    // the stream-built store answers PQ searches directly
    val pqIdx = VectorIngest.pqIndexFromStore(spark, store, boot)
    val res = Vectors.pqTopK(pqIdx,
      Seq((0L, axis(0).map(_.toFloat))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 5, rescoreK = 20)
      .collect().map(_.getLong(2))
    assert(res.length == 5)
    assert(res.forall(_ < 1000L), s"axis-0 query must surface cluster-0 members: ${res.toSeq}")
  }

  test("stream-maintained OPQ codes equal the batch opqIndex; store searches through the rotation") {
    import spark.implicits._
    import graft.ops.Vectors
    import graft.streaming.VectorIngest
    val dim = 8
    def cluster(center: Array[Double], n: Int, base: Long, seed: Int) = {
      val rnd = new scala.util.Random(800 + seed)
      (0 until n).map { i =>
        (base + i, Array.tabulate(dim)(d =>
          (center(d) + rnd.nextGaussian() * 0.05).toFloat))
      }
    }
    def axis(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    val b1 = cluster(axis(0), 30, 0L, 1)
    val b2 = cluster(axis(1), 30, 1000L, 2)
    val fitDf = (b1 ++ b2).toDF("vec_id", "embedding")
    val centroids = Vectors.fitQuantizer(fitDf, "embedding", nlist = 2)
    val opqM = Vectors.opqFitWithBaseline(fitDf, "embedding", m = 2, ksub = 16)._1
    val boot = VectorIngest.IndexBootstrap(dim, centroids, opq = Some(opqM))
    val store = "/tmp/graft_test/vec_opq_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Float])](spark)
    val q = VectorIngest.maintainIndex(
      ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", boot, store,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // frozen rotation + codebooks → per-batch rotated codes
    // bit-identical to the batch opqIndex over the same rows
    val streamCodes = spark.read.parquet(store)
      .select($"cid", $"__ocode").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    val batchCodes = Vectors.opqIndex(fitDf, "vec_id", "embedding", opqM)
      .codes.select($"cid", $"__code").collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
    assert(streamCodes == batchCodes,
      "stream-maintained OPQ codes must be bit-identical to the batch opqIndex")
    // the stream-built store answers OPQ searches through the rotation
    val res = Vectors.opqTopK(VectorIngest.opqIndexFromStore(spark, store, boot),
      opqM, Seq((0L, axis(0).map(_.toFloat))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 5, rescoreK = 20)
      .collect().map(_.getLong(2))
    assert(res.length == 5)
    assert(res.forall(_ < 1000L), s"axis-0 query must surface cluster-0 members: ${res.toSeq}")
  }

  test("stream-maintained image hashes equal the batch hashes; store serves the batch pairs") {
    import spark.implicits._
    import graft.ops.Multimodal
    import graft.streaming.MediaIngest
    // duplicate payloads split across DIFFERENT micro-batches — the
    // cross-batch pair is the point of the store
    def img(seed: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val px = new Array[Byte](16 * 16 * 3)
      var chunk = 0
      while (chunk * 16 < px.length) {
        val d = md.digest(s"spec:$seed:$chunk".getBytes("UTF-8"))
        System.arraycopy(d, 0, px, chunk * 16, math.min(16, px.length - chunk * 16))
        chunk += 1
      }
      Multimodal.ppmEncode(16, 16, px)
    }
    // the same pixels as img(seed) but PNG-encoded: the codec-routed
    // aHash (round 12) hashes it identical to its P6 twin, so a
    // CROSS-FORMAT duplicate must pair through the store like any other
    def pngImg(seed: Int): Array[Byte] = {
      val px = Multimodal.ppmDecode(img(seed)).get.pixels // RGB samples
      val bgr = new Array[Byte](px.length) // imageIoEncode takes BGR
      for (i <- 0 until px.length / 3) {
        bgr(3 * i) = px(3 * i + 2); bgr(3 * i + 1) = px(3 * i + 1); bgr(3 * i + 2) = px(3 * i)
      }
      Multimodal.imageIoEncode("png", 16, 16, bgr)
    }
    val b1 = Seq((1L, img(0)), (2L, img(1)), (9L, "junk".getBytes("UTF-8")))
    val b2 = Seq((3L, img(0)), (4L, img(2)), (5L, pngImg(1)))  // 3 dups 1, 5 dups 2 cross-format, across batches
    val store = "/tmp/graft_test/image_hash_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, Array[Byte])](spark)
    val q = MediaIngest.maintainImageHashes(
      ms.toDF().toDF("doc_id", "media"), "doc_id", "media", store,
      trigger = Trigger.ProcessingTime(0))
    ms.addData(b1: _*); q.processAllAvailable()
    ms.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // per-batch hashes are bit-identical to a one-shot batch pass;
    // the undecodable payload is norm-gated out, not stored
    val stored = spark.read.parquet(s"$store/hashes")
      .select($"doc_id", $"__ah").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (b1 ++ b2).flatMap { case (id, m) =>
      Multimodal.aHash64(m).map(id -> _) }.toMap
    assert(stored == expected)
    // served pairs == the batch tier over the same corpus
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val served = pairs(MediaIngest.imageNearDupsFromStore(spark, store, maxHamming = 3))
    val batch = pairs(Multimodal.imageNearDups(
      (b1 ++ b2).toDF("doc_id", "media"), "doc_id", "media", maxHamming = 3))
    assert(served == batch && served == Set((1L, 3L, 0), (2L, 5L, 0)),
      s"cross-batch P6 pair AND cross-format P6/PNG pair must serve: $served")
    // compaction folds the partitions and the crash window (stale
    // batch partition beside its relocated copy) stays dedup-safe
    MediaIngest.compactImageHashes(spark, store, upToBatch = Long.MaxValue)
    assert(pairs(MediaIngest.imageNearDupsFromStore(spark, store, maxHamming = 3)) == served)
  }

  test("stream-maintained minhash store serves exactly the batch near-dup pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DedupIngest
    // near-dup planted pairs across DIFFERENT micro-batches — the
    // cross-batch case is the whole point of the store
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),                       // near-dup of 1
      (3L, "completely different words entirely here about spark plans"),
      (4L, base.replace("lazy", "sleepy")),       // near-dup of 1 and 2
      (5L, "completely different words entirely here about spark joins"))
    val store = "/tmp/graft_test/minhash_store_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, String)](spark)
    val q = DedupIngest.maintainMinhash(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    ms.addData(docs(0), docs(2)); q.processAllAvailable()
    ms.addData(docs(1), docs(4)); q.processAllAvailable()
    ms.addData(docs(3)); q.processAllAvailable()
    q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val served = pairs(DedupIngest.nearDupsFromStore(spark, store))
    // ground truth: the one-shot batch op over the same rows
    val sh = docs.toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    val batch = pairs(graft.ops.Dedup.minhashLshPortableOnShingles(
      sh, "doc_id", "__sh"))
    assert(served === batch,
      "served pairs must be bit-identical to the batch op, across batch splits")
    assert(served.contains((1L, 2L)), "cross-batch near-dup pair must surface")
    // stream==batch signature equality (not just the final pairs)
    val streamSigs = spark.read.parquet(s"$store/sigs")
      .select($"doc_id", $"__band", $"__key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val batchSigs = graft.ops.Dedup.portableBandSignatures(sh, "doc_id", "__sh")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamSigs === batchSigs, "per-batch signatures must equal the batch build")
    // compaction: fold, serve same; crash window: stale partition
    // beside its relocated copy must not duplicate pairs or shingles
    val staleS = new java.io.File("/tmp/graft_test/minhash_stale_sigs")
    val staleD = new java.io.File("/tmp/graft_test/minhash_stale_docs")
    org.apache.commons.io.FileUtils.deleteQuietly(staleS)
    org.apache.commons.io.FileUtils.deleteQuietly(staleD)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/sigs", "__batch=0"), staleS)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/docs", "__batch=0"), staleD)
    DedupIngest.compactMinhash(spark, store, upToBatch = 2)
    def partitions(sub: String) = new java.io.File(s"$store/$sub").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch="))
    assert(partitions("sigs") == 2 && partitions("docs") == 2,
      "batches 0-1 fold to __batch=-1; batch 2 stays")
    assert(pairs(DedupIngest.nearDupsFromStore(spark, store)) === batch)
    org.apache.commons.io.FileUtils.copyDirectory(
      staleS, new java.io.File(s"$store/sigs", "__batch=0"))
    org.apache.commons.io.FileUtils.copyDirectory(
      staleD, new java.io.File(s"$store/docs", "__batch=0"))
    spark.catalog.refreshByPath(s"$store/sigs")
    spark.catalog.refreshByPath(s"$store/docs")
    val inWindow = DedupIngest.nearDupsFromStore(spark, store).collect()
    // row-level: duplicate result rows would vanish in the toMap
    // compare below, and they are exactly what the output-side
    // crash-window guard exists to prevent
    assert(inWindow.length == inWindow.map(r => (r.getLong(0), r.getLong(1))).toSet.size,
      s"crash-window serve must emit no duplicate rows: ${inWindow.length} rows")
    assert(inWindow.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap === batch,
      "serving inside the compaction crash window must not change pairs")
    DedupIngest.compactMinhash(spark, store, upToBatch = 2)
    assert(partitions("sigs") == 2 &&
      pairs(DedupIngest.nearDupsFromStore(spark, store)) === batch,
      "compaction is idempotent and self-heals the stale partition")
  }

  test("stream-maintained jaccard store serves the exact probe: stream == batch == brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DedupIngest
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"),
      (3L, "completely different words entirely here about spark plans"),
      (4L, base.replace("lazy", "sleepy")),
      (5L, "completely different words entirely here about spark joins"))
    val store = "/tmp/graft_test/jaccard_store_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, String)](spark)
    val q = DedupIngest.maintainJaccardStore(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    // split so the df-order bootstrap (batch 0) does NOT see docs 2/4:
    // their later shingles order under the frozen authority with df 0
    // fallbacks — the result must still be exact
    ms.addData(docs(0), docs(2)); q.processAllAvailable()
    ms.addData(docs(1), docs(4)); q.processAllAvailable()
    ms.addData(docs(3)); q.processAllAvailable()
    q.stop()
    val probeRows = Seq((500L, base), (501L, base.replace("lazy", "hungry")),
      (502L, "nothing like anything stored in this corpus at all"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val served = pairs(DedupIngest.jaccardProbeFromStore(spark, store,
      probeRows.toDF("doc_id", "text"), "doc_id", "text", jaccardThreshold = 0.5))
    // ground truth 1: the batch probe op over the same corpus (its df
    // authority is the FULL corpus, the store's is batch 0 — results
    // must agree anyway, because completeness is order-independent)
    def shOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    val batch = pairs(graft.ops.Dedup.jaccardProbeOnShingles(
      shOf(docs), shOf(probeRows), "doc_id", "__sh", 0.5))
    assert(served === batch,
      "store-served probe must equal the batch op despite different frozen df authorities")
    assert(served.contains((500L, 1L)) && served((500L, 1L)) == 1.0,
      s"verbatim copy must match its original at 1.0: $served")
    assert(served.keys.exists(_ == (500L -> 2L)), "cross-batch near-dup must surface")
    assert(!served.keys.exists(_._1 == 502L), "unseen text matches nothing")
    // compaction folds partitions, serve unchanged; crash window (stale
    // partition beside its relocated copy) self-heals via dropDuplicates
    val stale = new java.io.File("/tmp/graft_test/jaccard_stale_docs")
    org.apache.commons.io.FileUtils.deleteQuietly(stale)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/docs", "__batch=0"), stale)
    DedupIngest.compactJaccardStore(spark, store, upToBatch = 2)
    val parts = new java.io.File(s"$store/docs").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch="))
    assert(parts == 2, "batches 0-1 fold to __batch=-1; batch 2 stays")
    assert(pairs(DedupIngest.jaccardProbeFromStore(spark, store,
      probeRows.toDF("doc_id", "text"), "doc_id", "text")) === batch)
    org.apache.commons.io.FileUtils.copyDirectory(
      stale, new java.io.File(s"$store/docs", "__batch=0"))
    spark.catalog.refreshByPath(s"$store/docs")
    val inWindow = DedupIngest.jaccardProbeFromStore(spark, store,
      probeRows.toDF("doc_id", "text"), "doc_id", "text").collect()
    // row-level, not set-level: the round-12 scan-local serve collapses
    // crash-window duplicates on the OUTPUT, so duplicate result ROWS
    // (which a toMap comparison would silently absorb) are the
    // regression this pins against
    assert(inWindow.length == inWindow.map(r => (r.getLong(0), r.getLong(1))).toSet.size,
      s"crash-window serve must emit no duplicate rows: ${inWindow.length} rows")
    assert(inWindow.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap === batch,
      "serving inside the compaction crash window must not change pairs")
    // an UNREPRESENTATIVE bootstrap: the first batch's vocabulary never
    // recurs, so every later shingle orders at df 0 by raw hash and the
    // header shingles all 30 later docs share land in prefixes as often
    // as their unique tails do — the frozen order drifted as far as it
    // can, which costs candidates, never pairs
    val alienDocs = (0L to 1L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
    val header = "the common header always present here"
    val headerDocs = (100L until 130L).map { i =>
      (i, s"$header tail${i}a tail${i}b tail${i}c tail${i}d tail${i}e tail${i}f")
    }
    val drifted = "/tmp/graft_test/jaccard_drifted_store_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(drifted))
    val msD = MemoryStream[(Long, String)](spark)
    val qD = DedupIngest.maintainJaccardStore(
      msD.toDF().toDF("doc_id", "text"), "doc_id", "text", drifted,
      trigger = Trigger.ProcessingTime(0))
    msD.addData(alienDocs: _*); qD.processAllAvailable()
    msD.addData(headerDocs: _*); qD.processAllAvailable()
    qD.stop()
    val driftProbes = Seq((9000L, headerDocs.head._2),
      (9001L, s"$header tail100a tail100b tail100c other words"))
    // brute force: exact Jaccard of every (probe, stored) shingle-set
    // pair (the served score is rounded to 6 decimals)
    def shSets(rows: Seq[(Long, String)]) = shOf(rows).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    for (t <- Seq(0.5, 0.2)) {
      val brute = (for {
        (p, ps) <- shSets(driftProbes); (c, cs) <- shSets(alienDocs ++ headerDocs)
        j = (ps & cs).size.toDouble / (ps | cs).size if j >= t
      } yield (p, c) -> j).toMap
      val servedD = pairs(DedupIngest.jaccardProbeFromStore(spark, drifted,
        driftProbes.toDF("doc_id", "text"), "doc_id", "text", jaccardThreshold = t))
      assert(servedD.keySet == brute.keySet &&
        servedD.forall { case (k, j) => math.abs(j - brute(k)) <= 5e-7 },
        s"drifted frozen order at threshold $t: served $servedD, brute force $brute")
      assert(brute.contains((9000L, 100L)), s"the verbatim copy must match: $brute")
    }
  }

  test("stream-maintained term stats merge to exactly the batch aggregation across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.TextIngest
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the lazy dog and the quick cat"),
      (3L, "brown dog brown fox"),
      (4L, "  The   QUICK  fox "), // case + whitespace normalization
      (5L, "singleton"))
    val store = "/tmp/graft_test/term_stats_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ms = MemoryStream[(Long, String)](spark)
    val q = TextIngest.maintainTermStats(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0),
      onBatch = id => batchIds.synchronized { batchIds += id })
    // three micro-batches splitting the corpus arbitrarily
    ms.addData(docs(0), docs(1)); q.processAllAvailable()
    ms.addData(docs(2)); q.processAllAvailable()
    ms.addData(docs(3), docs(4)); q.processAllAvailable()
    q.stop()
    assert(batchIds.size == 3, s"expected 3 micro-batches, got $batchIds")
    val merged = TextIngest.termStatsFromStore(spark, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // ground truth: one-shot batch aggregation over the same rows
    val batch = docs.toDF("doc_id", "text")
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged === batch,
      "per-batch (tf, df) partials must sum to the one-shot aggregation")
    // spot-check df additivity across batches: 'the' is in docs 1, 2, 4
    // (batches 0 and 2), 'brown' in docs 1 and 3 (batches 0 and 1)
    assert(merged("the") === ((4L, 3L)))
    assert(merged("brown") === ((3L, 2L)))
  }

  test("term-stats store compaction: bounded partitions, stats preserved, crash-duplicate safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.TextIngest
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "alpha delta"), (4L, "gamma gamma gamma beta"))
    val store = "/tmp/graft_test/term_stats_compact_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, String)](spark)
    val q = TextIngest.maintainTermStats(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    ms.addData(docs(0)); q.processAllAvailable()
    ms.addData(docs(1)); q.processAllAvailable()
    ms.addData(docs(2)); q.processAllAvailable()
    ms.addData(docs(3)); q.processAllAvailable()
    q.stop()
    def stats() = TextIngest.termStatsFromStore(spark, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def partitions() = new java.io.File(store).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch="))
    val truth = docs.toDF("doc_id", "text")
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("tf"), countDistinct($"doc_id").as("df"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(partitions() == 4 && stats() === truth)
    // keep a stale copy of batch 0 to resurrect (the crash window:
    // compacted write landed, stale-partition delete did not)
    val stale = new java.io.File("/tmp/graft_test/term_stats_stale_copy")
    org.apache.commons.io.FileUtils.deleteQuietly(stale)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(store, "__batch=0"), stale)
    TextIngest.compactTermStats(spark, store, upToBatch = 3)
    assert(partitions() == 2, "batches 0-2 fold to __batch=-1; batch 3 stays")
    assert(stats() === truth, "compaction must not change the merged stats")
    // crash simulation: the stale partition reappears next to its
    // relocated rows — serving must dedup on provenance, not recount
    org.apache.commons.io.FileUtils.copyDirectory(
      stale, new java.io.File(store, "__batch=0"))
    spark.catalog.refreshByPath(store)
    assert(stats() === truth, "serving inside the crash window must not double-count")
    // and the next compaction self-heals: dedup + stale delete
    TextIngest.compactTermStats(spark, store, upToBatch = 3)
    assert(partitions() == 2 && stats() === truth, "compaction is idempotent")
  }

  test("BM25 served from the stream-built inverted index equals the batch formulation") {
    import spark.implicits._
    import graft.streaming.TextIngest
    val docs = Seq(
      (1L, "spark shuffles the hash join build side"),
      (2L, "a broadcast hash join skips the shuffle"),
      (3L, "sort merge join for the large side"),
      (4L, "window functions rank rows per partition"),
      (5L, "hash partitioning spreads the rows"))
    val store = "/tmp/graft_test/inv_index_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, String)](spark)
    val q = TextIngest.maintainInvertedIndex(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    ms.addData(docs(0), docs(1)); q.processAllAvailable()
    ms.addData(docs(2)); q.processAllAvailable()
    ms.addData(docs(3), docs(4)); q.processAllAvailable()
    q.stop()
    val queries = Seq((1, 1, "hash"), (1, 2, "join"), (2, 1, "shuffle"))
      .toDF("query_id", "term_pos", "term")
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val served = scores(TextIngest.bm25FromStore(spark, store, queries))
    val batch = scores(graft.ops.Text.bm25Dynamic(
      docs.toDF("doc_id", "text"), $"doc_id", $"text", queries))
    assert(served === batch,
      "served scores must be bit-identical to the batch formulation")
    assert(served.nonEmpty && served.keys.exists(_._1 == 1))
    // compaction folds the committed batches and serves the SAME
    // scores (unique (doc, term) keys -> pure relocation), twice over
    // (idempotent)
    def partitions(sub: String) = new java.io.File(s"$store/$sub").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__batch="))
    // keep stale copies of batch 0 to resurrect (the crash window:
    // compacted write landed, stale-partition delete did not)
    val staleP = new java.io.File("/tmp/graft_test/inv_index_stale_postings")
    val staleD = new java.io.File("/tmp/graft_test/inv_index_stale_docs")
    org.apache.commons.io.FileUtils.deleteQuietly(staleP)
    org.apache.commons.io.FileUtils.deleteQuietly(staleD)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/postings", "__batch=0"), staleP)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$store/docs", "__batch=0"), staleD)
    TextIngest.compactInvertedIndex(spark, store, upToBatch = 3)
    assert(partitions("postings") == 1 && partitions("docs") == 1)
    assert(scores(TextIngest.bm25FromStore(spark, store, queries)) === batch)
    TextIngest.compactInvertedIndex(spark, store, upToBatch = 3)
    assert(scores(TextIngest.bm25FromStore(spark, store, queries)) === batch)
    // crash window: stale partitions reappear beside their relocated
    // rows — served scores must dedup, not double df/N/Σdl
    org.apache.commons.io.FileUtils.copyDirectory(
      staleP, new java.io.File(s"$store/postings", "__batch=0"))
    org.apache.commons.io.FileUtils.copyDirectory(
      staleD, new java.io.File(s"$store/docs", "__batch=0"))
    spark.catalog.refreshByPath(s"$store/postings")
    spark.catalog.refreshByPath(s"$store/docs")
    assert(scores(TextIngest.bm25FromStore(spark, store, queries)) === batch,
      "serving inside the compaction crash window must not double-count")
    // and the next compaction self-heals the store
    TextIngest.compactInvertedIndex(spark, store, upToBatch = 3)
    assert(partitions("postings") == 1 && partitions("docs") == 1)
    assert(scores(TextIngest.bm25FromStore(spark, store, queries)) === batch)
  }

  test("doc re-ingest resolves to the NEWEST version at compaction (minhash + media + inverted index)") {
    import spark.implicits._
    import graft.streaming.{DedupIngest, MediaIngest, TextIngest}
    // ---- minhash tier: doc 1's text changes in batch 1 ----
    val mStore = "/tmp/graft_test/minhash_update_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mStore))
    val ms = MemoryStream[(Long, String)](spark)
    val q = DedupIngest.maintainMinhash(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", mStore,
      trigger = Trigger.ProcessingTime(0))
    val oldText = "the quick brown fox jumps over the lazy dog again and again"
    val newText = "an entirely rewritten document with different token content now"
    ms.addData((1L, oldText), (2L, "stable second document body with words"))
    q.processAllAvailable()
    ms.addData((1L, newText)) // UPDATE of doc 1
    q.processAllAvailable()
    ms.addData((3L, "third document keeps the fold honest"))
    q.processAllAvailable()
    q.stop()
    // pre-fold: both versions' rows sit in their batch partitions
    val preDocs = spark.read.parquet(s"$mStore/docs")
      .filter($"doc_id" === 1L).count()
    assert(preDocs == 2L, s"both versions visible pre-fold, got $preDocs")
    // keep batch 1 aside to resurrect after the fold (the crash window:
    // compacted write landed, stale-partition delete did not)
    val mAside = "/tmp/graft_test/minhash_update_spec_batch1"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mAside))
    for (sub <- Seq("sigs", "docs"))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$mStore/$sub/__batch=1"), new java.io.File(s"$mAside/$sub"))
    DedupIngest.compactMinhash(spark, mStore, upToBatch = 3)
    def storeRows(sub: String) = spark.read.parquet(s"$mStore/$sub")
      .collect().map(_.toString).sorted.toSeq
    val firstFold = Seq("sigs", "docs").map(storeRows)
    // post-fold: exactly the newest version's rows survive
    val postSh = spark.read.parquet(s"$mStore/docs").filter($"doc_id" === 1L)
      .select("__sh").as[Seq[String]].collect()
    assert(postSh.length == 1, s"one version post-fold, got ${postSh.length}")
    val expectSh = Seq((1L, newText)).toDF("doc_id", "text")
      .select(graft.ops.Dedup.shingles($"text").as("__sh"))
      .as[Seq[String]].head()
    assert(postSh.head === expectSh, "the NEWEST text's shingles must win the fold")
    val sigCount = spark.read.parquet(s"$mStore/sigs")
      .filter($"doc_id" === 1L).count()
    assert(sigCount == 4L, s"one band-signature set post-fold, got $sigCount")
    // crash simulation: the stale batch-1 partitions reappear beside
    // __batch=-1; the next fold must reproduce the first fold's rows
    for (sub <- Seq("sigs", "docs")) {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$mAside/$sub"), new java.io.File(s"$mStore/$sub/__batch=1"))
      spark.catalog.refreshByPath(s"$mStore/$sub")
    }
    DedupIngest.compactMinhash(spark, mStore, upToBatch = 3)
    assert(Seq("sigs", "docs").map(storeRows) === firstFold,
      "re-folding a resurrected stale partition must be idempotent")
    val refoldSh = spark.read.parquet(s"$mStore/docs").filter($"doc_id" === 1L)
      .select("__sh").as[Seq[String]].collect().toSeq
    assert(refoldSh === Seq(expectSh), "the NEWEST text's shingles must still win")
    // ---- media tier: doc 10's image changes ----
    def img(seed: Int): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val px = new Array[Byte](16 * 16)
      var chunk = 0
      while (chunk * 16 < px.length) {
        val d = md.digest(s"update-spec:$seed:$chunk".getBytes("UTF-8"))
        System.arraycopy(d, 0, px, chunk * 16, math.min(16, px.length - chunk * 16))
        chunk += 1
      }
      graft.ops.Multimodal.pgmEncode(16, 16, px)
    }
    val hStore = "/tmp/graft_test/media_update_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(hStore))
    val hs = MemoryStream[(Long, Array[Byte])](spark)
    val hq = MediaIngest.maintainImageHashes(
      hs.toDF().toDF("doc_id", "media"), "doc_id", "media", hStore,
      trigger = Trigger.ProcessingTime(0))
    hs.addData((10L, img(1))); hq.processAllAvailable()
    hs.addData((10L, img(40))); hq.processAllAvailable() // corrected media
    hs.addData((11L, img(7))); hq.processAllAvailable()
    hq.stop()
    MediaIngest.compactImageHashes(spark, hStore, upToBatch = 3)
    val hashes = spark.read.parquet(s"$hStore/hashes")
      .filter($"doc_id" === 10L).select("__ah").as[Long].collect()
    assert(hashes.length == 1, s"one hash post-fold, got ${hashes.length}")
    assert(hashes.head === graft.ops.Multimodal.aHash64(img(40)).get,
      "the corrected media's hash must win the fold")
    // ---- inverted index: doc 20 shrinks from 5 tokens to 2 ----
    val iStore = "/tmp/graft_test/invidx_update_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(iStore))
    val is = MemoryStream[(Long, String)](spark)
    val iq = TextIngest.maintainInvertedIndex(
      is.toDF().toDF("doc_id", "text"), "doc_id", "text", iStore,
      trigger = Trigger.ProcessingTime(0))
    is.addData((20L, "alpha beta gamma delta epsilon")); iq.processAllAvailable()
    is.addData((20L, "alpha beta")); iq.processAllAvailable()
    is.addData((21L, "zeta eta")); iq.processAllAvailable()
    iq.stop()
    TextIngest.compactInvertedIndex(spark, iStore, upToBatch = 3)
    val terms = spark.read.parquet(s"$iStore/postings")
      .filter($"doc_id" === 20L).select("term").as[String].collect().sorted.toSeq
    assert(terms === Seq("alpha", "beta"),
      s"dropped terms must not survive the fold, got $terms")
    val dl = spark.read.parquet(s"$iStore/docs")
      .filter($"doc_id" === 20L).select("dl").as[Long].collect().toSeq
    assert(dl === Seq(2L), s"the newest doc length must win, got $dl")
  }

  test("jaccard authority: empty first batch defers the freeze; a LOST authority refuses loudly") {
    import spark.implicits._
    import graft.streaming.DedupIngest
    val store = "/tmp/graft_test/jaccard_bootstrap_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val ms = MemoryStream[(Long, String)](spark)
    val q = DedupIngest.maintainJaccardStore(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    // batch 0 is EMPTY: the authority must NOT freeze on vocab 0
    q.processAllAvailable()
    assert(!new java.io.File(s"$store/dford/_SUCCESS").exists(),
      "an empty first batch must defer the authority freeze")
    ms.addData((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"))
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$store/dford/_SUCCESS").exists(),
      "the first NON-EMPTY batch freezes the authority")
    assert(spark.read.parquet(s"$store/dford").count() > 0, "non-empty vocabulary")
    // serve works off the deferred-freeze store
    val probes = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val hits = DedupIngest.jaccardProbeFromStore(spark, store, probes,
      "doc_id", "text", jaccardThreshold = 0.5).count()
    assert(hits >= 1, "probe must match the stored near-identical doc")
    // LOST SIDECAR (the bootstrap crash window between the dford
    // commit and the meta write): the next batch re-proves the
    // shared-order premise from the docs rows and HEALS the sidecar —
    // without it the store would stay sidecar-less forever and a
    // later lost dford would silently re-freeze
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/_order_meta"))
    val msH = MemoryStream[(Long, String)](spark)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/_checkpoint"))
    val qH = DedupIngest.maintainJaccardStore(
      msH.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    msH.addData((10L, "a brand new document arriving after the sidecar loss"))
    qH.processAllAvailable()
    qH.stop()
    assert(new java.io.File(s"$store/_order_meta/meta.txt").exists(),
      "the next batch must heal the lost order-meta sidecar")
    // LOST authority: dford vanishes (external cleanup) while
    // _order_meta still records the freeze -> the next batch must
    // refuse loudly, never silently re-freeze a NEW order
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/dford"))
    // fresh deployment over the same store: new checkpoint, new query
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$store/_checkpoint"))
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = DedupIngest.maintainJaccardStore(
      ms2.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      trigger = Trigger.ProcessingTime(0))
    ms2.addData((3L, "another document arriving after the authority vanished"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .filter(_ != null)).mkString(" | ")
    assert(rootMsg(e).contains("Refusing to") &&
      rootMsg(e).contains("re-freeze"), rootMsg(e))
  }

  test("store sidecars land at the store's real URI location (file:// path)") {
    import spark.implicits._
    import graft.streaming.DedupIngest
    // a file:// URI store path: java.io.File would silently write the
    // params pin to a junk RELATIVE local path; the Hadoop-FS sidecar
    // must land it inside the actual store directory
    val local = "/tmp/graft_test/sidecar_uri_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
    val store = s"file://$local"
    val ms = MemoryStream[(Long, String)](spark)
    val q = DedupIngest.maintainMinhash(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", store,
      numHashes = 16, bands = 8, trigger = Trigger.ProcessingTime(0))
    ms.addData((1L, "the quick brown fox jumps over the lazy dog again"))
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(s"$local/_sig_params/params.txt").exists(),
      "the sig-params sidecar must live inside the URI store")
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$local/_sig_params/params.txt")), "UTF-8") ==
      "numHashes=16\nbands=8\n", "the pin keeps its k=v line format")
    // a maintainer re-declaring different parameters on the same store
    // throws instead of corrupting the band keyspace
    intercept[IllegalArgumentException] {
      DedupIngest.maintainMinhash(
        MemoryStream[(Long, String)](spark).toDF().toDF("doc_id", "text"),
        "doc_id", "text", store, numHashes = 12, bands = 4)
    }
  }

  test("funnelSteps: strict first-touch chain on a hand-computed log") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1 converts fully in order; u2 clicked BEFORE its first view, so
    // it stalls at view (strict ordering, first-touch chain); u3 never
    // views; u4's purchase ties its click's ts — strict '>' drops it.
    val ev = Seq(
      (1L, "view", t(0)), (1L, "click", t(5)), (1L, "purchase", t(9)),
      (2L, "click", t(1)), (2L, "view", t(2)),
      (3L, "click", t(3)), (3L, "purchase", t(4)),
      (4L, "view", t(0)), (4L, "click", t(6)), (4L, "purchase", t(6))
    ).toDF("user_id", "event_type", "ts")
    val out = Streams.funnelSteps(ev, col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "purchase"))
      .orderBy("step_idx")
      .as[(Int, String, Long)].collect().toSeq
    assert(out === Seq((1, "view", 3L), (2, "click", 2L), (3, "purchase", 1L)))
  }
}
