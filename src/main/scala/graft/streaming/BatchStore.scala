package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The `__batch`-partitioned store layout every streaming tier
  * ([[TextIngest]], [[DedupIngest]], [[VectorIngest]], [[MediaIngest]])
  * keeps its state in — one module, so the tiers only say WHAT they
  * store and how a fold picks its surviving rows:
  *
  *  - each micro-batch lands in its own `__batch=<id>` partition by
  *    DYNAMIC partition overwrite ([[overwritePartitions]]), so a
  *    batch replayed after a failure replaces exactly its own
  *    partition instead of double-appending (exactly-once store
  *    contents);
  *  - committed batches fold into the reserved `__batch=-1` partition
  *    ([[fold]]), triggered by [[compactDue]], so a long-lived store
  *    does not accumulate one small partition per micro-batch;
  *  - the streaming query's checkpoint lives at `$storeDir/_checkpoint`
  *    ([[maintain]]);
  *  - small `k=v` sidecars (`_srp_params`, `_sig_params`,
  *    `_order_meta`) pin the parameters a store was built with
  *    ([[pinFields]], [[readFields]]).
  *
  * Every path goes through the Hadoop FileSystem API: the store path
  * is a production URI (hdfs://, s3a://, file://), and `java.io.File`
  * over such a path silently normalizes to a junk LOCAL path — a
  * listing returns nothing (disabling compaction) and a sidecar write
  * "succeeds" into the working directory, so a geometry pin would be inert
  * exactly where it matters. */
private[graft] object BatchStore {

  /** Reserved `__batch` partition id compaction folds old batches into
    * — real micro-batch ids are >= 0, so no replay ever claims it, and
    * it sorts below every real id in a newest-batch fold. */
  val CompactedBatchId = -1L

  /** ONE FileSystem getter for the whole store layer — sidecars,
    * partition listings, stale-dir deletes and marker files must all
    * resolve a store path through the SAME conf, or a session-level fs
    * override would split the store across two filesystems. Session
    * conf: it carries spark.hadoop.* overrides and is what the stores'
    * own DataFrame writes resolve against. */
  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def fs(spark: SparkSession, dir: String): FileSystem = fs(spark, new Path(dir))

  /** The store's `__batch=` partition directories (data partitions
    * only — `_checkpoint` and sidecars excluded). */
  def batchPartitionDirs(spark: SparkSession, storeDir: String): Array[Path] = {
    val root = new Path(storeDir)
    val f = fs(spark, root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__batch="))
      .map(_.getPath)
  }

  private def batchIdOf(p: Path): Long = p.getName.stripPrefix("__batch=").toLong

  private def deleteDir(spark: SparkSession, dir: Path): Unit = {
    fs(spark, dir).delete(dir, true)
    ()
  }

  /** Write `df` (which carries a `__batch` column) into `dir`,
    * replacing only the `__batch` partitions it holds rows for. */
  def overwritePartitions(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      // "DYNAMIC" pre-uppercased (round 16): Spark parses this option
      // through a DEFAULT-locale toUpperCase before the enum lookup, so
      // lowercase "dynamic" fails under tr_TR ("DYNAMİC", dotted İ);
      // the canonical uppercase form is a fixed point of any locale's
      // uppercasing and works everywhere
      .option("partitionOverwriteMode", "DYNAMIC")
      .partitionBy("__batch")
      .parquet(dir)

  /** Whether `dir` has accumulated `compactEvery` batch partitions
    * (never, when `compactEvery` <= 0). */
  def compactDue(spark: SparkSession, dir: String, compactEvery: Int): Boolean =
    compactEvery > 0 && batchPartitionDirs(spark, dir).length >= compactEvery

  /** Run a store's maintenance loop: `body` gets every micro-batch and
    * its id, and the query checkpoints under `$storeDir/_checkpoint`.
    * Returns the started query; callers await it. */
  def maintain(stream: DataFrame, storeDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch.toDF(), batchId) }
      .trigger(trigger)
      .option("checkpointLocation", s"$storeDir/_checkpoint")
      .start()

  /** Fold committed batch partitions (id < `upToBatch`, including a
    * previous `__batch=-1`) into the reserved `__batch=-1` partition.
    * `resolve` maps the loaded rows (with `__batch`) to the surviving
    * rows (without it); it must be idempotent over a stale batch
    * partition left beside its relocated `-1` copy — the crash window
    * between the compacted write and the stale-partition delete, which
    * plain parquet (no multi-partition transaction) cannot close. The
    * in-flight batch keeps its own partition, so a replayed batch still
    * overwrites exactly itself. A no-op below two foldable partitions. */
  def fold(spark: SparkSession, dir: String, upToBatch: Long)(
      resolve: DataFrame => DataFrame): Unit = {
    val parts = batchPartitionDirs(spark, dir).filter(batchIdOf(_) < upToBatch)
    if (parts.length > 1) {
      val folded = resolve(spark.read.option("basePath", dir)
          .parquet(parts.map(_.toString).toIndexedSeq: _*))
        .withColumn("__batch", lit(CompactedBatchId))
        .coalesce(1)
        // materialize BEFORE the write: the fold may read the very
        // __batch=-1 partition the write replaces
        .localCheckpoint(true)
      overwritePartitions(folded, dir)
      // stale partitions delete in ASCENDING batch order: relabeling to
      // -1 loses provenance, so if a crash left an OLD batch partition
      // standing while every newer one was already gone, the next
      // fold's newest-batch rule would crown the stale version —
      // permanently reverting an update. With ascending deletes a
      // surviving batch b implies every batch > b also survives, so
      // the true newest always outranks it.
      parts.filter(batchIdOf(_) != CompactedBatchId)
        .sortBy(batchIdOf)
        .foreach(deleteDir(spark, _))
      spark.catalog.refreshByPath(dir)
    }
  }

  /** The doc-grained [[fold]] resolver: keep ONLY each `doc_id`'s
    * newest-batch rows, projected to `dataCols`. This gives every
    * doc-grained tier one update semantic — a doc re-ingested in a
    * later batch resolves to its newest version at the fold
    * (compaction-bounded visibility: until the next fold, both
    * versions' rows serve). A stale batch partition beside its
    * relocated `-1` copy folds back to the batch rows (−1 sorts below
    * every real id), identical content, so the fold stays idempotent. */
  def newestPerDoc(dataCols: String*): DataFrame => DataFrame =
    loaded => loaded
      .withColumn("__mb", max(col("__batch")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("__batch") === col("__mb"))
      .select(dataCols.map(col): _*)
      .distinct()

  /** Write a `k=v`-per-line sidecar, keys in the given order: tmp
    * file in the sidecar directory, then delete-dest + rename — a
    * concurrent reader sees the OLD file or (in the delete-to-rename
    * window) NO file, never a torn one, and every sidecar defines an
    * absent fallback. Rename is atomic on HDFS and local filesystems;
    * object stores emulate it per-object, which suffices for one small
    * file. */
  def writeFields(spark: SparkSession, file: String, fields: (String, Any)*): Unit = {
    val dest = new Path(file)
    val f = fs(spark, dest)
    f.mkdirs(dest.getParent)
    val tmp = new Path(dest.getParent, "." + dest.getName + ".tmp")
    val out = f.create(tmp, true)
    try out.write(fields.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    f.delete(dest, false)
    require(f.rename(tmp, dest),
      s"sidecar swap $tmp -> $dest failed — refusing to leave a stale pin")
    ()
  }

  /** The values of a `k=v`-per-line sidecar, in the order of `keys`;
    * None when the sidecar is absent. The exists/open pair races the
    * writer's delete-to-rename window, so a FileNotFoundException from
    * open IS the absent case, not an error. A key the file lacks
    * throws. */
  def readFields(spark: SparkSession, file: String, keys: String*): Option[Seq[String]] = {
    val dest = new Path(file)
    val f = fs(spark, dest)
    val in = if (!f.exists(dest)) null else try f.open(dest) catch {
      case _: java.io.FileNotFoundException => null
    }
    if (in == null) None
    else {
      val fields = try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.split("=", 2)).collect { case Array(k, v) => k -> v.trim }.toMap
      } finally in.close()
      Some(keys.map(k => fields.getOrElse(k,
        throw new IllegalArgumentException(s"sidecar $file has no $k= line"))))
    }
  }

  /** Pin build parameters beside a store: first writer wins, and a
    * changed re-declaration throws — band keys are only comparable
    * between relations signed with the SAME parameters, so a mismatch
    * would otherwise be a silent recall-0 join, not an error. */
  def pinFields(spark: SparkSession, file: String, fields: (String, Any)*): Unit = {
    val declared = fields.map(_._2.toString)
    readFields(spark, file, fields.map(_._1): _*) match {
      case Some(stored) =>
        def show(vs: Seq[String]) =
          fields.map(_._1).zip(vs).map { case (k, v) => s"$k=$v" }.mkString(", ")
        require(stored == declared,
          s"$file pins (${show(stored)}); re-declaring (${show(declared)}) " +
            "would corrupt the band keyspace")
      case None => writeFields(spark, file, fields: _*)
    }
  }
}
