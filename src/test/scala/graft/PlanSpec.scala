package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.ops.{Relational, Temporal}
import graft.queries.RefPipeline

/** Plan-shape assertions: correctness tests prove the answers, these
  * prove the plans are the ones that survive a 100 TB scale-up —
  * filters reach the parquet scan, dimension joins broadcast, top-k
  * never globally sorts, argmax costs exactly one shuffle. */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def countExchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(plan(df)).length

  test("filter pushdown reaches the parquet scan") {
    import spark.implicits._
    val df = spark.read.parquet(sf("orders"))
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("o_orderpriority"), p)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    import spark.implicits._
    val df = spark.read.parquet(sf("lineitem")).select($"l_orderkey", $"l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("dimension join broadcasts the small side") {
    import spark.implicits._
    val c = spark.read.parquet(sf("customer"))
    val n = spark.read.parquet(sf("nation"))
    val df = c.join(n, $"c_nationkey" === $"n_nationkey")
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("topK plans as TakeOrderedAndProject, not a global sort") {
    import spark.implicits._
    val df = Relational.topK(spark.read.parquet(sf("orders")),
      Seq($"o_totalprice".desc, $"o_orderkey".asc), 10)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("argmaxPerGroup costs exactly one shuffle") {
    import spark.implicits._
    val df = Temporal.argmaxPerGroup(spark.read.parquet(sf("customer")),
      Seq($"c_nationkey"), Seq($"c_acctbal".desc, $"c_custkey".asc))
    assert(countExchanges(df) == 1, plan(df))
  }

  test("groupBy aggregation is partial+final (map-side combine)") {
    import spark.implicits._
    val df = spark.read.parquet(sf("lineitem"))
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
    val p = plan(df)
    // two HashAggregate nodes (partial below the exchange, final above)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(countExchanges(df) == 1, p)
  }

  test("explode-days pipeline stays a Generate, no nested-loop join") {
    val df = Temporal.explodeDays(
      spark.read.parquet(sf("orders"))
        .withColumn("d0", to_date(col("o_orderdate")))
        .withColumn("d1", date_add(col("d0"), 6)),
      "day", col("d0"), col("d1"))
    val p = plan(df)
    assert(p.contains("Generate"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("date-partitioned layout prunes partitions for a date-ranged query") {
    import spark.implicits._
    val out = "/tmp/graft_part_test"
    val li = spark.read.parquet(sf("lineitem"))
      .withColumn("ship_month", date_format(to_date($"l_shipdate"), "yyyy-MM"))
    graft.io.Sources.overwriteParquetPartitioned(li, out, Seq("ship_month"))
    val pruned = spark.read.parquet(out)
      .filter($"ship_month" === "1996-06")
      .select($"l_orderkey", $"l_quantity")
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: [isnotnull(ship_month"), p)
    // the pruned scan must read only the matching partition directory
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("PartitionFilters"), scanned)
    assert(pruned.count() ==
      li.filter($"ship_month" === "1996-06").count())
  }

  test("golden Q2 pipeline broadcasts the dimension side of its left join") {
    val df = graft.queries.Golden.q2(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("prepData's cache serves Q1–Q4: no file scan, no broadcast of the sources; the build broadcasts zones") {
    import spark.implicits._
    val dir = "/tmp/graft_prep_plan_test"
    Sources.overwriteParquet(Seq(
      (1L, "Zone Ardèche Nord", "07", "Ardèche", 100.0, "SUP"),
      (2L, "Zone Ajaccio", "2A", "Corse-du-Sud", 200.0, "SOU"))
      .toDF("id_zone", "nom_zone", "code_departement", "nom_departement",
        "surface_zone", "type_zone"), s"$dir/zones")
    // the fact side outweighs the dimension, as in the reference's data
    Sources.overwriteParquet((1 to 400).map(i =>
      (1L + i % 2, s"2023-08-${1 + i % 12}", "0023-08-20", i % 5, s"niveau ${i % 5}", "actif"))
      .toDF("id_zone", "debut_validite_arrete", "fin_validite_arrete",
        "numero_niveau", "nom_niveau", "statut_arrete"), s"$dir/arretes")
    val prepped = RefPipeline.prepData(
      spark.read.parquet(s"$dir/zones"), spark.read.parquet(s"$dir/arretes"))
    val departements = Seq(("07", "Ardèche", "{}"), ("2A", "Corse-du-Sud", "{}"))
      .toDF("code", "nom", "geometry")
    val d = lit(Date.valueOf("2023-08-12"))
    // walks AQE stages but not the cached relation's own plan
    object Stages extends AdaptiveSparkPlanHelper
    def nodes(p: SparkPlan) = Stages.collect(p) { case n => n }
    val cacheScans = Seq(
      "q1" -> RefPipeline.q1NbDepPerAlert(prepped, d),
      "q2" -> RefPipeline.q2MaxAlertPerDept(prepped, d, departements),
      "q3" -> RefPipeline.q3ZoneDurations(prepped, "Zone Ardèche Nord"),
      "q4" -> RefPipeline.q4SurfacePerDay(prepped)).map { case (name, q) =>
      q.collect()
      val p = q.queryExecution.executedPlan
      val ops = nodes(p)
      assert(!ops.exists(_.isInstanceOf[FileSourceScanExec]), s"$name re-reads its sources:\n$p")
      val broadcasts = ops.filter(_.isInstanceOf[BroadcastExchangeExec])
      // Q2's left join onto departements broadcasts the timeline's rows
      // at d, the join's only exchange; no query broadcasts anything else
      if (name == "q2") {
        assert(broadcasts.size == 1 && nodes(broadcasts.head).exists(_.isInstanceOf[InMemoryTableScanExec]), s"$name:\n$p")
        assert(ops.count(_.isInstanceOf[Exchange]) == 1, s"$name:\n$p")
      }
      else assert(broadcasts.isEmpty, s"$name re-broadcasts:\n$p")
      val scan = ops.collectFirst { case s: InMemoryTableScanExec => s }
      assert(scan.isDefined, s"$name does not scan the cache:\n$p")
      // Q1 filters the severity timeline, Q4 is served whole by the
      // summary: one scan of a one-partition cache, nothing recomputed
      if (name == "q1" || name == "q4") {
        assert(ops.count(_.isInstanceOf[InMemoryTableScanExec]) == 1, s"$name:\n$p")
        assert(!ops.exists(o => o.isInstanceOf[Exchange] || o.isInstanceOf[WindowExec] ||
          o.isInstanceOf[GenerateExec]), s"$name recomputes:\n$p")
      }
      if (name == "q4")
        assert(nodes(scan.get.relation.cachedPlan).exists(_.isInstanceOf[WindowExec]), s"$name:\n$p")
      name -> scan.get
    }.toMap
    // the timeline and Q2's broadcast side are the same cache, built
    // through exactly one exchange: into the single partition
    val timeline = cacheScans("q1").relation
    assert(cacheScans("q2").relation.cacheBuilder eq timeline.cacheBuilder)
    val timelineExchanges = nodes(timeline.cachedPlan).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
      case e: Exchange => e
    }
    assert(timelineExchanges == Seq(SinglePartition), timeline.cachedPlan)
    assert(!nodes(timeline.cachedPlan).exists(_.isInstanceOf[WindowExec]), timeline.cachedPlan)
    // Q4 is the recorded summary itself, so its plan is built once
    assert(RefPipeline.q4SurfacePerDay(prepped) eq RefPipeline.q4SurfacePerDay(prepped))
    // a relation prepData did not return derives the same timeline plan,
    // which the cache serves
    val derived = RefPipeline.q1NbDepPerAlert(prepped.toDF(), d)
    assert(derived.collect().toSeq == RefPipeline.q1NbDepPerAlert(prepped, d).collect().toSeq)
    val derivedOps = nodes(derived.queryExecution.executedPlan)
    val derivedScans = derivedOps.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    assert(derivedScans.size == 1 && (derivedScans.head eq timeline.cacheBuilder) &&
      !derivedOps.exists(_.isInstanceOf[Exchange]),
      derived.queryExecution.executedPlan)
    val build = cacheScans("q3").relation.cachedPlan
    val buildOps = nodes(build)
    assert(buildOps.count(_.isInstanceOf[FileSourceScanExec]) == 2, build)
    val zonesBroadcast = buildOps.filter(_.isInstanceOf[BroadcastExchangeExec])
      .flatMap(nodes).collect { case f: FileSourceScanExec => f.relation.location.rootPaths }
    assert(zonesBroadcast.flatten.map(_.getName) == Seq("zones"), build)
    RefPipeline.release(prepped)
  }

  test("annTopK plans equi-joins only — no cartesian or nested-loop candidate generation") {
    import spark.implicits._
    val emb = spark.read.parquet(sf("embeddings"))
    val df = graft.ops.Vectors.annTopK(emb, emb.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("similarity rank is partial top-k aggregation — no per-query window shuffle") {
    import spark.implicits._
    // A row_number window partitioned by qid would shuffle EVERY
    // candidate of a query to one reducer (corpus-sized when queries
    // are few); the TopKByValue aggregator truncates map-side, so the
    // plan must show partial aggregation and no Window operator on any
    // similarity search path (exact, SRP-ANN, IVF — routing included).
    val emb = spark.read.parquet(sf("embeddings"))
    val q = emb.filter($"vec_id" < 5)
    val ivf = graft.ops.Vectors.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
    val pq = graft.ops.Vectors.pqIndex(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val ivfPq = graft.ops.Vectors.ivfPqIndex(emb, "vec_id", "embedding",
      nlist = 4, m = 8, ksub = 16)
    for (df <- Seq(
      graft.ops.Vectors.cosineTopK(emb, q, "vec_id", "embedding", k = 10),
      graft.ops.Vectors.annTopK(emb, q, "vec_id", "embedding", k = 10),
      graft.ops.Vectors.ivfSearch(ivf, q, "vec_id", "embedding", k = 10),
      graft.ops.Vectors.pqTopK(pq, q, "vec_id", "embedding", k = 10),
      graft.ops.Vectors.ivfPqSearchResidual(ivfPq, q, "vec_id", "embedding", k = 10))) {
      val p = plan(df)
      assert(!p.contains("Window"), p)
      assert(p.contains("partial_topkbyvalue") || p.contains("ObjectHashAggregate"), p)
    }
  }

  test("bloom prefilter sits below the fact-side join exchange") {
    import spark.implicits._
    val fact = spark.read.parquet(sf("lineitem"))
      .select($"l_orderkey", $"l_partkey")
    val dim = spark.read.parquet(sf("part")).filter($"p_size" <= 2)
      .select($"p_partkey").hint("merge")
    val df = graft.ops.RuntimeFilters.bloomPrefilterJoin(
      fact, dim, "l_partkey", "p_partkey", expectedDimKeys = 10000)
    // the join shuffles (merge hint held — this is the regime where the
    // prefilter pays), and the fact side's exchange input is already
    // bloom-filtered: the UDF filter sits BELOW the exchange (its child
    // lines in the plan text), so only matching rows (+ fpp) travel
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
    val factExchangeThenBloom =
      """Exchange hashpartitioning\(l_partkey[\s\S]{0,400}?Filter \(?UDF\(l_partkey""".r
    assert(factExchangeThenBloom.findFirstIn(p).isDefined,
      s"expected a UDF bloom filter below the fact-side shuffle exchange:\n$p")
    // equality with the plain join — the no-false-negatives contract
    val plain = fact.join(dim, $"l_partkey" === $"p_partkey")
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
  }

  test("attributionJoin (batch) plans as an equi-join on user_id, range as post-filter") {
    import spark.implicits._
    val ev = graft.queries.HarnessCore.events(spark, "/root/testdata/sf0.001")
    val df = graft.streaming.Streams.attributionJoin(
      ev.filter($"event_type" === "view"),
      ev.filter($"event_type" === "purchase"))
    val p = plan(df)
    // the user_id equality must drive the join (hash/merge), never a
    // nested loop over the time-range predicate
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p)
  }

  test("contaminatedIds probes a BROADCAST benchmark gram set — corpus never shuffles") {
    import spark.implicits._
    val docs = spark.read.parquet(sf("documents"))
    val df = graft.ops.Text.contaminatedIds(docs, docs.filter($"doc_id" < 10),
      $"doc_id", $"text", $"text")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("packTokenBudget is one keyed window shuffle — no global sort") {
    import spark.implicits._
    val scored = graft.ops.Text.qualityScore(
      spark.read.parquet(sf("documents")), $"text")
    val df = graft.ops.Text.packTokenBudget(scored, $"lang",
      Seq($"n_tok".desc, $"doc_id".asc), $"n_tok", budget = 2000L)
    val p = plan(df)
    // hashpartitioning on the group key, never a rangepartitioning
    // (global sort) — the shape that scales with group cardinality
    assert(p.contains("hashpartitioning(lang"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(countExchanges(df) == 1, p)
  }

  test("stableStratifiedSample is a scan-local filter — zero exchanges") {
    import spark.implicits._
    val df = graft.ops.Dedup.stableStratifiedSample(
      spark.read.parquet(sf("documents")), $"doc_id", $"source",
      Map("src0" -> 80, "src3" -> 50))
    assert(countExchanges(df) == 0, plan(df))
  }

  test("join_bucketed: zero Exchange beneath the sort-merge join") {
    val df = graft.queries.HarnessIO.joinBucketed(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    val smjAt = p.indexOf("SortMergeJoin")
    assert(smjAt >= 0, p)
    // everything printed below the SMJ is its subtree (the only ops
    // above it are the post-join agg + sort, whose Exchanges are fine):
    // the bucketed layout must have replaced BOTH pre-join shuffles
    assert(!p.substring(smjAt).contains("Exchange"), p)
    assert(p.contains("Bucketed: true"), p)
    assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
  }

  test("lmScore materializes pairs once — final plan holds at most 1 corpus scan") {
    import spark.implicits._
    // before the featurize-once checkpoint this plan re-read + re-
    // tokenized the corpus 4x (cb, cu, score probe, vocab); now the
    // three pairs consumers share one checkpointed RDD and only the
    // vocab branch still scans parquet
    val df = graft.ops.Text.lmScore(
      spark.read.parquet(sf("documents")), $"doc_id", $"text")
    val scans = "Scan parquet".r.findAllIn(plan(df)).length
    assert(scans <= 1, s"expected <=1 parquet scan, got $scans:\n${plan(df)}")
  }

  test("portable dedup pair generation plans equi-joins only — no cartesian anywhere") {
    import spark.implicits._
    val sh = spark.read.parquet(sf("documents"))
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    for (df <- Seq(
      graft.ops.Dedup.minhashLshPortableOnShingles(sh, "doc_id", "__sh"),
      graft.ops.Dedup.jaccardPairsExactOnShingles(sh, "doc_id", "__sh", 0.5),
      graft.ops.Dedup.jaccardProbeOnShingles(sh,
        sh.filter($"doc_id" < 10).select(($"doc_id" + 100000L).as("doc_id"), $"__sh"),
        "doc_id", "__sh", 0.5))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      // the only nested-loop join allowed anywhere in the family is a
      // broadcast of a 1-row stats relation; candidate generation here
      // has none at all
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
    // the jaccard tiers' final outputs arrive checkpointed since round
    // 18 (the timed string-rescore phase), which hides their rescore
    // joins from the plans above — pin the LAZY rescore shape
    // directly: id-keyed equi-joins only, no cartesian/nested-loop
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val rescorePlan = plan(graft.ops.Dedup.rescoreJaccardTwoSided(
      cand, sh, sh, "doc_id", "__sh", 0.5, candRows = 1L))
    assert(!rescorePlan.contains("CartesianProduct"), rescorePlan)
    assert(!rescorePlan.contains("BroadcastNestedLoopJoin"), rescorePlan)
    // the media family's Hamming self-join: the lazy band join and the
    // op's id-keyed rescore behind its candidate checkpoint
    val hashed = Seq((1L, 0x0fL), (2L, 0x0eL), (3L, -1L)).toDF("__id", "__ah")
    for (df <- Seq(
      graft.ops.Bands.selfJoin(graft.ops.Multimodal.hammingBanded(hashed, "__ah", 3), "__id"),
      graft.ops.Multimodal.hammingNearDupsOnHashes(hashed, 3, "plan_hamming_candidates"))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("probe joins broadcast-prune the corpus side below its exchange (LeftSemi)") {
    import spark.implicits._
    val sh = spark.read.parquet(sf("documents"))
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    val probes = sh.filter($"doc_id" < 10)
      .select(($"doc_id" + 100000L).as("doc_id"), $"__sh")
    // the 100 TB contract: the store-sized postings/band relation must
    // reach its exchange already filtered to the probe's key set — a
    // future change that drops the semi-join would silently reinstate
    // a full-corpus shuffle per probe batch. The probe ops checkpoint
    // their candidate stage eagerly, so the pin targets the LAZY
    // candidate joins those ops consume.
    val dfreq = graft.ops.Dedup.hashedShingles(sh, "doc_id", "__sh")
      .groupBy($"__h").agg(count(lit(1)).as("__df"))
    val cOrd = graft.ops.Dedup.orderedByDf(
      graft.ops.Dedup.hashedShingles(sh, "doc_id", "__sh"), dfreq, "doc_id")
    val pOrd = graft.ops.Dedup.orderedByDf(
      graft.ops.Dedup.hashedShingles(probes, "doc_id", "__sh"), dfreq, "doc_id")
    // the jaccard probe's live candidate join, as probePairsOnOrdered
    // builds it
    val pCounts = graft.ops.Dedup.probePrefixCounts(pOrd, "doc_id", 0.5)
    val jacCand = graft.ops.Dedup.probeCandidatesOn(pOrd,
      graft.ops.Dedup.prunedCorpusPostings(cOrd, pCounts, pCounts.count(), "doc_id", 0.5),
      "doc_id", 0.5, 32)
    // the shared band probe join over the minhash signatures
    val mhCand = graft.ops.Bands.probeJoin(
      graft.ops.Dedup.portableBandSignatures(probes, "doc_id", "__sh")
        .withColumnRenamed("doc_id", "id_a"),
      graft.ops.Dedup.portableBandSignatures(sh, "doc_id", "__sh")
        .withColumnRenamed("doc_id", "id_b"))
    // ... and over SRP embedding signatures, same contract
    def srpBands(df: org.apache.spark.sql.DataFrame, as: String) =
      df.select($"cid".as(as), posexplode($"__sig").as(Seq("__band", "__key")))
    val srpCand = graft.ops.Bands.probeJoin(
      srpBands(Seq((9L, Seq(3, 7))).toDF("cid", "__sig"), "probe_id"),
      srpBands(Seq((1L, Seq(3, 7)), (2L, Seq(4, 9))).toDF("cid", "__sig"), "dup_id"))
    for (df <- Seq(jacCand, mhCand, srpCand)) {
      val p = plan(df)
      assert(p.contains("LeftSemi"),
        s"corpus side must be semi-pruned by the probe key set:\n$p")
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"the probe key set must arrive broadcast, not shuffled:\n$p")
    }
  }

  test("jaccard store order join broadcasts a sidecar-proven small authority") {
    import spark.implicits._
    import graft.streaming.DedupIngest
    val store = "/tmp/graft_test/plan_dford_gate"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val sh = spark.read.parquet(sf("documents"))
      .select($"doc_id", graft.ops.Dedup.shingles($"text").as("__sh"))
      .filter(size($"__sh") > 0)
    val ex = graft.ops.Dedup.hashedShingles(sh, "doc_id", "__sh")
    ex.groupBy($"__h").agg(count(lit(1)).as("__df"))
      .write.mode("overwrite").parquet(s"$store/dford")
    val dford = spark.read.parquet(s"$store/dford")
    // sidecar proves the vocabulary small: the per-batch/per-serve
    // order join must broadcast the authority, skipping the
    // vocabulary shuffle every micro-batch otherwise pays
    DedupIngest.writeOrderMeta(spark, store, 1000L)
    val small = graft.ops.Dedup.orderedByDf(
      ex, DedupIngest.dfreqFor(spark, store, dford), "doc_id")
    assert(plan(small).contains("BroadcastHashJoin"),
      s"sidecar-small dford must broadcast into the order join:\n${plan(small)}")
    // vocabulary above the bound: the GATE must not hint (the planner
    // may still broadcast from size stats at test scale, so the pin
    // targets the analyzed plan's hint, which is the gate's decision)
    DedupIngest.writeOrderMeta(spark, store,
      DedupIngest.DfordBroadcastMaxRows + 1)
    assert(!DedupIngest.dfreqFor(spark, store, dford)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "a vocabulary past the broadcast bound must stay un-hinted")
    // no sidecar (pre-round-12 store): status quo, un-hinted
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$store/_order_meta"))
    assert(!DedupIngest.dfreqFor(spark, store, dford)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "a store without the sidecar must keep the shuffle join")
  }

  test("dynamic BM25: query vocabulary broadcasts into the token stream, stats are 1-row broadcast") {
    import spark.implicits._
    val queries = Seq((1, 1, "hash"), (1, 2, "join")).toDF("query_id", "term_pos", "term")
    val df = graft.ops.Text.bm25Dynamic(
      spark.read.parquet(sf("documents")), $"doc_id", $"text", queries)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "tiny query/stats relations must broadcast, not shuffle:\n" + p)
    // tfq is materialized once; the only remaining corpus scans are
    // the stats pass and the (checkpoint-feeding) token pass already
    // executed — the final plan re-reads parquet at most twice
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected <=2 parquet scans, got $scans:\n$p")
  }

  test("whole-stage codegen covers the scan-filter-project hot path") {
    import spark.implicits._
    val df = spark.read.parquet(sf("lineitem"))
      .filter($"l_quantity" > 10)
      .select($"l_orderkey", ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    // codegen'd stages print with a "*(n)" prefix in the physical plan
    assert(plan(df).contains("*("), plan(df))
  }

  test("graft_nfc_clean is a codegen expression, not a udf: the cleaning projection stays in WSCG") {
    import spark.implicits._
    val df = spark.read.parquet(sf("documents"))
      .select($"doc_id", graft.ops.Text.nfcClean($"text").as("clean"))
      .filter(length($"clean") > 0)
    val p = plan(df)
    // a Scala udf would print BatchEvalPython/ScalaUDF and break the
    // codegen span; the native expression keeps the whole
    // scan-clean-filter pipeline inside one "*(n)" stage
    assert(p.contains("*("), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(p.contains("graft_nfc_clean"), p)
  }
}
