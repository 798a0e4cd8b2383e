package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Bucketing
import graft.ops.Skew

/** Scale-mechanism tests: salting and bucketing produce the same
  * answers as the naive forms AND the plan shapes that make them worth
  * doing (uniform salted partials; no Exchange on bucketed joins). */
class ScaleSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** File-level (min, max) stats of `statCols` for every file under
    * `dir` — the spec's window into what scan-time pruning would skip:
    * a predicate box prunes every file whose stat box misses it. */
  private def fileStats(spark: org.apache.spark.sql.SparkSession, dir: String,
                        statCols: Seq[String]): DataFrame = {
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  test("saltedAggregate equals plain groupBy aggregation") {
    import spark.implicits._
    val li = spark.read.parquet(sf("lineitem"))
    val plain = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").cast("decimal(28,2)").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(li,
      keys = Seq($"l_returnflag"), fineGrain = Seq($"l_orderkey", $"l_linenumber"),
      saltBuckets = 8,
      partials = Seq(sum($"l_quantity".cast("decimal(28,2)")).as("s"), count(lit(1)).as("n")),
      merges = Seq(sum($"s").cast("decimal(28,2)").as("s"), sum($"n").as("n")))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("saltedJoin equals plain join") {
    import spark.implicits._
    val c = spark.read.parquet(sf("customer"))
    val n = spark.read.parquet(sf("nation"))
    val plain = c.join(n, $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(c, n, $"c_nationkey", $"n_nationkey",
      factFineGrain = Seq($"c_custkey"), saltBuckets = 4)
      .select($"c_custkey", $"n_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted == plain)
  }

  test("salt spreads a hot key over all buckets") {
    import spark.implicits._
    val hot = (1 to 1000).map(i => ("hot", i.toLong)).toDF("k", "id")
    val buckets = hot.withColumn("s", Skew.salt(Seq($"id"), 8))
      .groupBy($"s").count().collect().map(_.getLong(1))
    assert(buckets.length == 8, "all 8 salt buckets populated")
    assert(buckets.max < 1000 / 8 * 2, s"roughly uniform: ${buckets.toSeq}")
  }

  test("jaccard prefix-filter candidates grow sub-quadratically with corpus size") {
    import spark.implicits._
    // The r8 scale-killer regression guard in miniature: the exact
    // AllPairs/PPJoin tier's cost variable is CANDIDATE volume, and the
    // rare-first prefix + length + positional filters are what keep it
    // near-linear on a corpus whose docs share dense boilerplate
    // shingles (df ~ n — exactly the shape that went quadratic-ish in
    // r8). Generate that shape at n, 2n, 4n: per-doc content shingles
    // from a vocab scaling with n (constant df — new docs bring new
    // content, the realistic web-corpus shape) PLUS 5 boilerplate
    // shingles shared by EVERY doc, and a planted near-dup per 10 docs.
    // A quadratic candidate generator shows c(4n)/c(n) ~ 16; the
    // filtered one must stay under 8 (growth exponent < 1.5).
    def corpus(n: Int): org.apache.spark.sql.DataFrame = {
      val vocab = 3 * n
      def base(i: Int): Seq[String] = {
        val rnd = new scala.util.Random(1000L * i)
        (Seq.fill(25)(s"s${rnd.nextInt(vocab)}").distinct ++
          (0 until 5).map(j => s"common$j"))
      }
      (0 until n).map { i =>
        val sh = if (i % 10 == 9) base(i - 1).drop(2) :+ s"mut$i" else base(i)
        (i.toLong, sh)
      }.toDF("doc_id", "__sh")
    }
    def candidatesAt(n: Int): Long = {
      graft.ops.Dedup.jaccardPairsExactOnShingles(corpus(n), "doc_id", "__sh",
        threshold = 0.5).count()
      Metrics.snapshot.toMap.apply("jaccard_prefix_candidates")
    }
    val c1 = candidatesAt(300)
    val c2 = candidatesAt(600)
    val c4 = candidatesAt(1200)
    assert(c1 >= 30, s"planted near-dups must surface as candidates: $c1")
    assert(c2 <= 4 * c1,
      s"2x corpus must stay under 4x candidates (got $c1 -> $c2)")
    assert(c4 <= 8 * c1,
      s"4x corpus must stay sub-quadratic: quadratic would be ~16x, got $c1 -> $c4")
  }

  test("bucketed-by-join-key tables sort-merge join with zero Exchange") {
    import spark.implicits._
    val s = spark // warehouse.dir is static conf, set in SparkTestBase
    // the catalog is in-memory per JVM but the warehouse dir persists —
    // clear stale locations from previous runs
    Seq("graft_orders_b", "graft_lineitem_b").foreach { tbl =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val dir = new java.io.File(s"/tmp/graft_warehouse/$tbl")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    val orders = s.read.parquet(sf("orders"))
    val lineitem = s.read.parquet(sf("lineitem"))
    Bucketing.writeBucketed(orders, "graft_orders_b", "o_orderkey", 4, Some("o_orderkey"))
    Bucketing.writeBucketed(lineitem, "graft_lineitem_b", "l_orderkey", 4, Some("l_orderkey"))
    val joined =
      withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
        val df = Bucketing.readTable(s, "graft_orders_b")
          .join(Bucketing.readTable(s, "graft_lineitem_b"),
            $"o_orderkey" === $"l_orderkey")
          .select($"o_orderkey", $"l_linenumber", $"l_quantity")
        assert(!plan(df).contains("Exchange"), plan(df))
        df.count()
      }
    // and the join is still correct
    val expected = orders.join(lineitem, $"o_orderkey" === $"l_orderkey").count()
    assert(joined == expected)
  }

  test("z-ordered layout: box predicates on EITHER column prune files; linear layout can't") {
    import graft.io.Layout
    import spark.implicits._
    // pinned input partitioning (the quantile-test discipline below):
    // repartitionByRange samples per input partition, so the scan's
    // ambient split — which drifts with session state earlier suites
    // leave behind — moved one z-file boundary and flaked the margin
    // assertion (9 of 16 touched vs the <=8 bound, in-suite only;
    // isolated runs pass). A canonical layout makes the range split,
    // and therefore the per-file stat boxes, deterministic.
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
      .repartition(8, $"l_orderkey")
    val zdir = "/tmp/graft_stage/scalespec_zorder"
    val ldir = "/tmp/graft_stage/scalespec_linear"
    Layout.writeZOrdered(li, Seq("l_partkey", "l_orderkey"), zdir, numFiles = 16)
    li.repartitionByRange(16, $"l_orderkey").sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(ldir)
    // a layout rewrite is content-neutral
    val back = spark.read.parquet(zdir)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    // file-level min/max boxes — what parquet scan-time skipping reads
    def touched(dir: String, c: String, lo: Long, hi: Long): Long =
      fileStats(spark, dir, Seq("l_partkey", "l_orderkey"))
        .filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo)
        .count()
    val files = spark.read.parquet(zdir).select(input_file_name()).distinct().count()
    assert(files >= 12, s"expected ~16 z-ordered files, got $files")
    // data: l_partkey spans 0..199, l_orderkey 0..1499 (uncorrelated).
    // 16 files ~ 2 rank bits per dimension = 4 coarse strips per
    // column, so a box inside one strip should touch ~4 of 16 files
    val zPart = touched(zdir, "l_partkey", 52, 71)
    val zOrd = touched(zdir, "l_orderkey", 400, 490)
    val linPart = touched(ldir, "l_partkey", 52, 71)
    val linOrd = touched(ldir, "l_orderkey", 400, 490)
    // the linear layout clusters orderkey perfectly — and partkey not
    // at all: every file spans nearly the full partkey range
    assert(linPart >= 12, s"linear layout should NOT prune partkey: $linPart")
    assert(linOrd <= 3, s"linear layout prunes its own sort column: $linOrd")
    // the z-order clusters BOTH: each box touches a strip, not the table
    assert(zPart <= 8, s"z-order should prune the partkey box: $zPart of $files")
    assert(zOrd <= 8, s"z-order should prune the orderkey box: $zOrd of $files")
  }

  test("quantile-ranked z-order prunes an outlier-dominated column where linear ranks collapse") {
    import graft.io.Layout
    import spark.implicits._
    // 90% of the mass in [0, 100), 10% outliers pushing the range to
    // ~1e8 — a linear rank maps the whole dense region to rank 0
    val rows = (0 until 10000).map { i =>
      val a = if (i % 10 != 0) (i % 100).toDouble else (i + 1) * 1e4
      (i.toLong, a, ((i * 37) % 1000).toDouble)
    }
    // pinned input partitioning: the quantile sketch and the range
    // split both see a canonical layout, so the pruning margin below
    // is stable regardless of what ambient session state earlier
    // suites left behind (first flaked round 15 at 1.78x in-suite vs
    // >2x isolated, same code)
    val df = rows.toDF("id", "a", "b").repartition(8, col("id"))
    val ldir = "/tmp/graft_stage/scalespec_zlin"
    val qdir = "/tmp/graft_stage/scalespec_zq"
    Layout.writeZOrdered(df, Seq("a", "b"), ldir, numFiles = 16)
    Layout.writeZOrderedQuantile(df, Seq("a", "b"), qdir, numFiles = 16)
    // content-neutral
    val back = spark.read.parquet(qdir)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    def touched(dir: String, lo: Double, hi: Double): Long =
      fileStats(spark, dir, Seq("a"))
        .filter(col("min_a") <= hi && col("max_a") >= lo).count()
    val files = spark.read.parquet(qdir).select(input_file_name()).distinct().count()
    assert(files >= 12, s"expected ~16 files, got $files")
    // box inside the dense region: linear ranks put ALL dense rows in
    // rank-0 cells, so the files holding them span [0, 100) unsorted —
    // no pruning; quantile ranks split the dense mass across most rank
    // values, so only the overlapping strip of files is touched
    val linT = touched(ldir, 40, 49)
    val qT = touched(qdir, 40, 49)
    assert(linT >= 10, s"linear ranks should NOT prune the dense box: $linT")
    assert(qT * 2 <= linT, s"quantile ranks must prune at least 2x better: $qT vs $linT")
  }

  test("round-15 io review pins: ANSI-safe z clamp, bit-width guard, leftover compact tmp, geojson opacity, derby abs path") {
    import graft.io.{Layout, Sources}
    import spark.implicits._
    // (1) out-of-range + NaN values CLAMP under Spark 4 ANSI defaults
    // instead of crashing the int cast (values far outside the stated
    // range, plus a NaN row)
    val weird = Seq((1L, 1e12), (2L, -1e12), (3L, Double.NaN), (4L, 5.0))
      .toDF("id", "a")
    val zdir = "/tmp/graft_stage/scalespec_zclamp"
    Layout.writeZOrdered(weird, Seq("a"), zdir, numFiles = 2)
    val back = spark.read.parquet(zdir)
    assert(back.count() == 4L, "clamped write must keep every row")
    // (2) bits past Int-shift range refuse loudly instead of silently
    // zeroing every rank
    val e = intercept[IllegalArgumentException] {
      Layout.zValue(Seq(org.apache.spark.sql.functions.col("a")),
        Seq((0.0, 1.0)), bits = 32)
    }
    assert(e.getMessage.contains("bits"), e.getMessage)
    // (3) a crashed rewrite's leftover tmp dir must not brick compact()
    val cdir = "/tmp/graft_stage/scalespec_compact_tmp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cdir))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(cdir + ".compact.tmp"))
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").repartition(4)
      .write.parquet(cdir)
    new java.io.File(cdir + ".compact.tmp").mkdirs() // the crash leftover
    Layout.compact(spark, cdir)
    assert(spark.read.parquet(cdir).count() == 2L,
      "compact must reclaim a leftover tmp dir and still rewrite")
    // ...and a trailing-slash dir keeps the tmp OUTSIDE the table
    Layout.compact(spark, cdir + "/")
    assert(spark.read.parquet(cdir).count() == 2L)
    // (4) mixed-geometry GeoJSON stays VALID per-feature JSON — the
    // parse-and-reserialize shape silently quoted coordinates
    val gj = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"name":"pt"},
       "geometry":{"type":"Point","coordinates":[2.35,48.85]}},
      {"type":"Feature","properties":{"name":"poly"},
       "geometry":{"type":"Polygon","coordinates":[[[0,0],[1,0],[1,1],[0,0]]]}}
    ]}"""
    val gpath = "/tmp/graft_stage/scalespec_mixed.geojson"
    java.nio.file.Files.write(java.nio.file.Paths.get(gpath),
      gj.getBytes("UTF-8"))
    val feats = Sources.geojsonFeatures(spark, gpath)
      .orderBy("name").collect()
    val geoms = feats.map(_.getAs[String]("geometry"))
    // both geometries must round-trip as REAL JSON with numeric
    // coordinates — parse them back and check the types survived
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val pt = om.readTree(geoms(1))
    assert(pt.get("type").asText() == "Point" &&
      pt.get("coordinates").get(0).isNumber,
      s"point coordinates must stay numeric: ${geoms(1)}")
    val poly = om.readTree(geoms(0))
    assert(poly.get("type").asText() == "Polygon" &&
      poly.get("coordinates").get(0).get(0).get(0).isNumber,
      s"polygon rings must stay numeric arrays: ${geoms(0)}")
    // (5) relative derby dir resolves absolute (no dir/dir nesting)
    val url = Sources.embeddedDerbyUrl("target/derby_relcheck")
    assert(url.contains(new java.io.File("target/derby_relcheck")
      .getAbsolutePath), url)
  }

  test("compact bin-packs small files without touching rows, via a narrow coalesce") {
    import graft.io.Layout
    import spark.implicits._
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    val dir = "/tmp/graft_stage/scalespec_compact"
    li.repartition(32).write.mode("overwrite").parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles() == 32, "staged the small-files problem")
    val bins = Layout.compact(spark, dir, targetFileBytes = 64L << 20)
    assert(bins >= 1 && parquetFiles() == bins && bins <= 2,
      s"6k rows must fold to ~1 size-targeted file, got $bins")
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty,
      "compaction must be row-content-neutral")
    // idempotent: compacting a compacted dir is a no-op fold (a fresh
    // read — the swap replaces the files a prior DataFrame had listed)
    assert(Layout.compact(spark, dir, 64L << 20) == bins)
    assert(spark.read.parquet(dir).count() == li.count())
  }

  test("compactZOrdered bin-packs AND keeps pruning; plain compact destroys it") {
    import graft.io.Layout
    import spark.implicits._
    val li = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    def stage(dir: String): Unit = {
      // the post-append state: 64 tiny UNCLUSTERED files (appends land
      // in arrival order, not z-order). Hash on l_orderkey, NOT plain
      // repartition: round-robin picks a random start per partition,
      // which would make the staged layout (and the strip boundaries
      // the z-rewrite samples from it) vary run to run.
      li.repartition(64, $"l_orderkey").write.mode("overwrite").parquet(dir)
    }
    def touched(dir: String, c: String, lo: Long, hi: Long): Long =
      fileStats(spark, dir, Seq("l_partkey", "l_orderkey"))
        .filter(col(s"min_$c") <= hi && col(s"max_$c") >= lo).count()
    def files(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    // target ~16 bins out of the 64 fragments so rank strips survive
    val zc = "/tmp/graft_stage/scalespec_compactz"
    stage(zc)
    val bytes = new java.io.File(zc).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // ceil division so ceil(bytes/target) lands AT 16 bins (4x4 rank
    // strips), not 17 — floor division overshoots the bin count by one
    val target = math.max(1L, (bytes + 15) / 16)
    val bins = Layout.compactZOrdered(spark, zc, Seq("l_partkey", "l_orderkey"),
      targetFileBytes = target)
    assert(files(zc) == bins && bins < 64, s"must bin-pack 64 fragments, got $bins")
    val back = spark.read.parquet(zc)
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty,
      "clustered compaction must be row-content-neutral")
    // +1: repartitionByRange strips come from reservoir SAMPLING whose
    // seed derives from the RDD id, so a boundary can shift by one file
    // between runs (stable in isolation, jitters under the full suite's
    // thousands of prior jobs) — the pruning claim is half-the-files,
    // give or take that one sampled boundary
    assert(touched(zc, "l_partkey", 52, 71) <= bins / 2 + 1,
      "partkey box must still prune after clustered compaction")
    assert(touched(zc, "l_orderkey", 400, 490) <= bins / 2 + 1,
      "orderkey box must still prune after clustered compaction")
    // contrast: the same unclustered fragments through plain compact()
    // at the same bin target stay unclustered — every bin's box spans
    // (nearly) the whole partkey range, so the box prunes nothing.
    // (On fragments that were ALREADY z-ordered, coalesce's contiguous
    // partition grouping preserves locality incidentally — the
    // clustered form's value is the GUARANTEE on arbitrary input.)
    // (note: coalesce folds the PACKED read partitions, so the actual
    // file count can land below the byte-derived bin target — compare
    // against the files that exist, not the target)
    val pc = "/tmp/graft_stage/scalespec_compactz_plain"
    stage(pc)
    Layout.compact(spark, pc, targetFileBytes = target)
    val plainFiles = files(pc)
    assert(touched(pc, "l_partkey", 52, 71) >= math.max(1, plainFiles - 1),
      s"plain compact of unclustered appends must not cluster ($plainFiles files)")
  }

  test("table checksum: layout-invariant, and a single changed row flips it") {
    import graft.ops.Aggregates
    import spark.implicits._
    val c = spark.read.parquet(sf("customer"))
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    def sig(df: org.apache.spark.sql.DataFrame) =
      Aggregates.tableChecksum(df, cols, 16).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val base = sig(c)
    assert(base == sig(c.repartition(7)) && base == sig(c.orderBy($"c_name")),
      "checksums are content-addressed, not layout-addressed")
    // one-character change in one row must flip at least one bucket
    val mutated = c.withColumn("c_name",
      when($"c_custkey" === 1L, concat($"c_name", lit("x"))).otherwise($"c_name"))
    assert(sig(mutated) != base, "a single-row change must be detected")
    // and a dropped row changes a count even if XOR collided
    assert(sig(c.filter($"c_custkey" =!= 1L)) != base)
  }

  test("HLL sketch merge is lossless: rollup of persisted sketches == direct sketch") {
    import graft.ops.Aggregates
    import spark.implicits._
    val c = spark.read.parquet(sf("customer"))
    val n = spark.read.parquet(sf("nation")).select($"n_nationkey", $"n_regionkey")
    // fine grain once, merge up — no rescan of customers
    val perNation = Aggregates.sketchByKey(c, Seq($"c_nationkey"), $"c_custkey", "sk")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
    val merged = Aggregates.mergeSketches(perNation, Seq($"n_regionkey"), $"sk", "nd")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the direct sketch over the union (one rescan) must agree EXACTLY:
    // HLL register merge at equal lgK is lossless
    val direct = Aggregates.mergeSketches(
      Aggregates.sketchByKey(c.join(broadcast(n), $"c_nationkey" === $"n_nationkey"),
        Seq($"n_regionkey"), $"c_custkey", "sk"),
      Seq($"n_regionkey"), $"sk", "nd")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged == direct, s"merged=$merged direct=$direct")
    // and the estimate lands within HLL error of the exact count
    val exact = c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_regionkey").agg(countDistinct($"c_custkey").as("nd"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    for ((rk, est) <- merged) {
      val ex = exact(rk).toDouble
      assert(math.abs(est.toDouble - ex) / ex <= 0.05, s"region $rk: est=$est exact=$ex")
    }
  }

  test("approx quantiles land within the GK rank-error bound of exact") {
    import graft.ops.Aggregates
    import spark.implicits._
    val li = spark.read.parquet(sf("lineitem"))
    val acc = 10000
    val got = Aggregates.approxQuantilesByKey(li, Seq($"l_returnflag"),
      $"l_extendedprice", Seq(0.25, 0.5, 0.75), accuracy = acc)
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(1)))
    val groups = li.select($"l_returnflag", $"l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(got.nonEmpty && got.length == groups.size * 3)
    for ((flag, q, v) <- got) {
      val vs = groups(flag)
      val n = vs.length
      // rank window of the returned value vs the target rank
      val lo = vs.count(_ < v)
      val hi = vs.count(_ <= v)
      val target = q * n
      val tol = n.toDouble / acc + 1
      assert(lo - tol <= target && target <= hi + tol,
        s"$flag q=$q v=$v rank=[$lo,$hi] target=$target n=$n")
    }
  }

  test("TopKByValue aggregator equals the window top-k and partial-aggregates") {
    import spark.implicits._
    val orders = spark.read.parquet(sf("orders"))
    val topk = graft.functions.TopKByValue.topK(3)
    val viaUdaf = orders.groupBy($"o_orderpriority")
      .agg(topk($"o_totalprice", $"o_orderkey").as("tk"))
      .select($"o_orderpriority", posexplode($"tk").as(Seq("pos", "pair")))
      .select($"o_orderpriority", ($"pos" + 1).cast("long").as("rnk"), $"pair._2".as("id"))
    val viaWindow = graft.ops.Temporal.topKPerGroup(orders,
      Seq($"o_orderpriority"), Seq($"o_totalprice".desc, $"o_orderkey".asc), 3)
      .select($"o_orderpriority", $"rnk".cast("long"), $"o_orderkey".as("id"))
    val a = viaUdaf.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val b = viaWindow.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
    // the scale property: partial (map-side) + final aggregate stages
    val agged = orders.groupBy($"o_orderpriority")
      .agg(topk($"o_totalprice", $"o_orderkey").as("tk"))
    val p = plan(agged)
    assert("Aggregate".r.findAllIn(p).length >= 2, p)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
