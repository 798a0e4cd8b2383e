package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustered file layout via Z-ordering (Morton
  * curve) — the 100 TB answer to "queries filter on TWO columns but a
  * sort can only cluster one".
  *
  * A single-column sort gives perfect file-level min/max pruning on
  * that column and none on any other; interleaving the bits of both
  * columns' quantized ranks into one sort key clusters the curve so
  * that EVERY z-ordered file covers a small rectangle of the
  * (colA, colB) space — a box predicate on either column (or both)
  * then intersects only the files whose rectangle overlaps, and the
  * parquet row-group min/max stats make the skip automatic at scan
  * time. The write costs one range-shuffle, exactly like a sort.
  *
  * Ranks here are linear min/max scalings (one tiny agg pass; at
  * production scale the ranges come from table statistics). Heavily
  * skewed columns would want quantile ranks instead — same interleave,
  * different rank source.
  */
object Layout {

  /** Bit-interleave `n` per-column ranks, `bits` bits each, LSB-first:
    * bit b of column c lands at z-bit (b*n + c). A JVM udf, not a
    * composed expression — a once-per-ingest write pass (the
    * [[graft.ops.Vectors.cellAssigner]] precedent), and n*bits
    * shift-or expressions would bloat codegen for zero query-path
    * benefit. */
  private def interleaveUdf(bits: Int, n: Int) = udf { (ranks: Seq[Int]) =>
    var z = 0L
    var b = 0
    while (b < bits) {
      var c = 0
      while (c < n) {
        if ((ranks(c) & (1 << b)) != 0) z |= 1L << (b * n + c)
        c += 1
      }
      b += 1
    }
    z
  }

  /** The z-value column over numeric columns, each scaled into
    * [0, 2^bits) by its (min, max) range. Nulls and NaNs rank 0
    * (cluster at the curve origin); values outside the stated range
    * clamp. The clamp happens in DOUBLE space BEFORE the int cast
    * (round-15 review): Spark 4 defaults to ANSI mode, where an
    * out-of-range double->int cast is a runtime error, so the old
    * cast-then-clamp shape crashed exactly the out-of-range inputs
    * the scaladoc promises to clamp. `bits` is capped at 30 so the
    * per-column rank mask stays in positive Int range (1 << 31 flips
    * sign; 1 << 32 wraps to 1 and silently zeroed every rank). */
  def zValue(cols: Seq[Column], ranges: Seq[(Double, Double)],
             bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.size == ranges.size,
      "one (min, max) range per z-order column")
    require(bits >= 1 && bits <= 30 && bits * cols.size <= 63,
      s"bits=$bits x ${cols.size} columns must fit a long z-value (bits <= 30)")
    val maxRank = (1 << bits) - 1
    val ranks = cols.zip(ranges).map { case (c, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      val scaled = (c.cast("double") - lit(lo)) / lit(span) * lit(maxRank)
      val clamped = least(lit(maxRank.toDouble), greatest(lit(0.0),
        when(isnan(scaled), lit(0.0)).otherwise(scaled)))
      coalesce(clamped.cast("int"), lit(0))
    }
    interleaveUdf(bits, cols.size)(array(ranks: _*))
  }

  /** Write `df` z-order-clustered on `zCols` into `numFiles` parquet
    * files: one tiny agg pass for the column ranges, a range shuffle on
    * the z-value, an in-partition sort, and the z-value is DROPPED
    * before the write — the clustering lives in the data columns' own
    * per-file min/max stats, which is what scan-time skipping reads.
    * Row content is untouched (pure layout), so a read-back is
    * multiset-identical to the input. */
  def writeZOrdered(df: DataFrame, zCols: Seq[String], outDir: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    val aggs = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // an all-null column (or empty input) has no range — every value
    // ranks 0 via the null coalesce, any non-degenerate span works
    val ranges = zCols.indices.map { i =>
      if (r.isNullAt(2 * i) || r.isNullAt(2 * i + 1)) (0.0, 1.0)
      else (r.getDouble(2 * i), r.getDouble(2 * i + 1))
    }
    df.withColumn("__z", zValue(zCols.map(col), ranges, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Quantile-ranked interleave: each value's rank is its position
    * among the column's quantile breaks (binary search in the udf), so
    * rank occupancy is uniform under ANY value distribution. */
  private def interleaveBreaksUdf(breaks: Array[Array[Double]], bits: Int) =
    udf { (vals: Seq[Double]) =>
      var z = 0L
      val n = breaks.length
      var c = 0
      while (c < n) {
        val bks = breaks(c)
        val v = vals(c)
        // rank = #breaks <= v, in [0, 2^bits)
        var lo = 0
        var hi = bks.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bks(mid) <= v) lo = mid + 1 else hi = mid
        }
        var b = 0
        while (b < bits) {
          if ((lo & (1 << b)) != 0) z |= 1L << (b * n + c)
          b += 1
        }
        c += 1
      }
      z
    }

  /** [[writeZOrdered]] with QUANTILE ranks instead of linear min/max
    * scaling — the skew-robust form: a linear rank collapses when the
    * value range is outlier-dominated (99% of the mass lands in one
    * rank cell, so files span the whole dense region and nothing
    * prunes), while quantile breaks put equal row mass in every rank
    * regardless of the distribution. Breaks come from one
    * approxQuantile pass (GK sketch — at production scale, table
    * statistics). Nulls rank 0. */
  def writeZOrderedQuantile(df: DataFrame, zCols: Seq[String], outDir: String,
                            numFiles: Int, bits: Int = 8,
                            relErr: Double = 0.001): Unit = {
    require(bits >= 1 && bits <= 30 && bits * zCols.size <= 63,
      s"bits=$bits x ${zCols.size} columns must fit a long z-value (bits <= 30)")
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    val casted = zCols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zq_$c", col(c).cast("double")))
    // ONE multi-column GK pass — a per-column loop would rescan the
    // table N times for N z-columns
    val breaks = casted.stat.approxQuantile(
      zCols.map(c => s"__zq_$c").toArray, probs, relErr)
    val vals = array(zCols.map(c =>
      coalesce(col(c).cast("double"), lit(Double.NegativeInfinity))): _*)
    df.withColumn("__z", interleaveBreaksUdf(breaks, bits)(vals))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Small-file compaction — the maintenance pass that keeps a
    * long-appended table scannable (every tiny parquet file costs a
    * task, a footer read, and an open at 100 TB; bin-packing to
    * size-targeted files restores scan throughput). Sizes the output
    * from the ACTUAL byte total (not a row guess), folds with
    * `coalesce` (narrow — no shuffle, unlike repartition), writes to a
    * sibling temp dir and swaps — the read never races its own
    * overwrite and nothing is materialized driver-side. Plain parquet
    * has no atomic multi-file commit, so a crash between delete and
    * rename loses the directory (a table format with transactional
    * commits closes that window; at this layer it is documented).
    * Returns the output file-bin count. */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20): Int =
    rewriteSwapping(spark, dir, targetFileBytes) { (df, n, tmp) =>
      df.coalesce(n).write.mode("overwrite").parquet(tmp)
    }

  /** Compaction that PRESERVES z-clustering: [[compact]]'s narrow
    * coalesce merges arbitrary neighbor partitions — right for an
    * unclustered append dir, but it DESTROYS an existing z-order
    * (each merged file's min/max box becomes the union of its inputs,
    * and scan pruning dies with the boxes). This form sizes the bins
    * from the actual byte total exactly like [[compact]] but rewrites
    * through [[writeZOrdered]], so the compacted files re-establish
    * tight per-file stat boxes and pruning survives the maintenance
    * pass. Costs one range shuffle instead of a narrow fold — the
    * price of keeping the layout property; at 100 TB this runs per
    * partition/bucket of the table, never as one global rewrite. */
  def compactZOrdered(spark: org.apache.spark.sql.SparkSession, dir: String,
                      zCols: Seq[String], targetFileBytes: Long = 128L << 20,
                      bits: Int = 16): Int =
    rewriteSwapping(spark, dir, targetFileBytes) { (df, n, tmp) =>
      writeZOrdered(df, zCols, tmp, numFiles = n, bits = bits)
    }

  /** Shared maintenance-rewrite harness: size output bins from the
    * ACTUAL byte total (not a row guess), run `write(df, bins, tmpDir)`
    * into a sibling temp dir, then swap — the read never races its own
    * overwrite and nothing is materialized driver-side. Plain parquet
    * has no atomic multi-file commit, so a crash between delete and
    * rename loses the directory (a table format with transactional
    * commits closes that window; at this layer it is documented).
    * Returns the output file-bin count. */
  private def rewriteSwapping(spark: org.apache.spark.sql.SparkSession,
                              dir: String, targetFileBytes: Long)
                             (write: (DataFrame, Int, String) => Unit): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    // normalize (round-15 review): a trailing-slash dir made the
    // string-suffixed tmp land INSIDE the table instead of beside it
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    // a crashed earlier rewrite's leftover tmp is ours to reclaim —
    // without this, one crash bricked every future compact() of the
    // dir on the flat-directory require below (round-15 review)
    val tmp = new org.apache.hadoop.fs.Path(path.getParent,
      path.getName + ".compact.tmp")
    fs.delete(tmp, true)
    // FLAT directories only: the rewrite carries no partitionBy, so
    // compacting a Hive-partitioned layout here would silently flatten
    // it (and the swap would drop sidecar dirs like _srp_params) —
    // partitioned stores compact per partition (see
    // [[graft.streaming.VectorIngest.compactStore]] for the
    // __batch-partitioned form)
    val entries = fs.listStatus(path)
    require(!entries.exists(e => e.isDirectory && !e.getPath.getName.startsWith("_")),
      s"compact() handles flat parquet directories; $dir has partition " +
        "subdirectories — compact those per partition instead")
    var total = 0L
    entries.foreach { s =>
      if (s.isFile && s.getPath.getName.endsWith(".parquet")) total += s.getLen
    }
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    write(spark.read.parquet(dir), n, tmp.toString)
    // swap data files only — underscore sidecars (_SUCCESS aside, e.g.
    // a _checkpoint or _srp_params dir) survive the rewrite untouched
    entries.filterNot(_.getPath.getName.startsWith("_"))
      .foreach(e => fs.delete(e.getPath, true))
    fs.listStatus(tmp).filterNot(_.getPath.getName.startsWith("_")).foreach { e =>
      if (!fs.rename(e.getPath, new org.apache.hadoop.fs.Path(path, e.getPath.getName)))
        throw new java.io.IOException(s"compaction swap failed: ${e.getPath} -> $path")
    }
    fs.delete(tmp, true)
    // the session's FileStatusCache still lists the pre-swap files;
    // readers through this session must see the compacted directory
    spark.catalog.refreshByPath(dir)
    n
  }
}
