package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: the formatted physical plans of the headline
  * queries, for plan-audit review (does the filter reach the scan, does
  * the dim broadcast, where are the shuffles). Run:
  * `sbt "runMain graft.tools.DumpPlans /root/testdata/sf0.01 PLANS.md"` */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outPath) = args match {
      case Array(sf, out) => (sf, out)
      case _ => sys.error("usage: graft.tools.DumpPlans <sfDir> <outPath>")
    }
    val spark = graft.SparkEntry.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q1_agg", "q1_pipeline", "q2_pipeline", "q4_pipeline",
      "join_asof", "join_range_interval", "agg_argmax_per_group",
      "win_topk_udaf", "sim_cosine_topk", "dedup_exact_diff",
      "sim_ann_lsh", "dedup_embedding_lsh", "stream_join_attrib",
      "join_bucketed", "src_http_csv",
      "sim_ann_pq", "sim_ann_ivfpq", "join_bloom_prefilter",
      "text_lm_score", "sample_weighted",
      // round 8: the portable dedup pair joins and the dynamic BM25
      "dedup_minhash", "dedup_ngram_jaccard", "text_bm25_dynamic",
      // round 9: the big-x-big range join (plain + salted), the OPQ
      // serving path, and the perceptual-hash dedup tiers
      "join_range_bigbig", "join_range_salted", "sim_ann_opq",
      "multimodal_image_dedup", "text_nfc_clean", "dedup_minhash_probe",
      // round 10: the store-served embedding probe (the audited plan is
      // the serving join over the maintained store's __sig/__cv columns)
      "stream_embedding_probe",
      // round 12: the exact-jaccard probe tier (r11 keys), plus
      // flt_like — the r11 bench-guard adjudication hinged on its
      // StringStartsWith reaching the part scan, so keep the evidence
      // in the committed dump
      "dedup_jaccard_probe", "flt_like",
      // late round 12: the in-JDK codec tier — the audit point is the
      // ABSENCE of anything but a scan + the partition-wise decode
      // (no shuffle, no exchange before the mapPartitions), and the
      // codec-routed perceptual dedup keeping the banded join shape
      "multimodal_codec_resize", "multimodal_codec_image_dedup",
      // round 13: the nested-avro read — the audit point is the scan's
      // ReadSchema holding pricing=struct<price> ONLY (nested pruning
      // reached the graft_avro reader schema)
      "src_avro",
      // round 14: the live-postgres wire read — the audit point is the
      // graft_pg BatchScan's partitions=4 + ReadSchema (the SELECT
      // list the wire carries), with no exchange below the sort
      "src_pg_table")
    val qs = graft.SparkEntry.queries
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` at sf0.01. Things to check\n")
    sb.append("per plan: `PushedFilters`/`ReadSchema` on every scan,\n")
    sb.append("`BroadcastHashJoin` for dimension joins, Exchange count (one per\n")
    sb.append("semantic wide op), `WholeStageCodegen` spans over the hot path.\n")
    headline.foreach { name =>
      val df = qs(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // Round 18: the exact-jaccard tiers' outputs arrive eagerly
    // checkpointed (the timed string-rescore phase), so the
    // harness-key plans above end at a Scan ExistingRDD — dump the
    // LAZY rescore stage directly to keep the audit evidence (id-keyed
    // equi-joins over the candidate pair set, no cartesian) in the
    // committed record, the same pin PlanSpec holds at test time.
    locally {
      import spark.implicits._
      val sh = graft.queries.HarnessLLM.shingledDocsFor(spark, sfDir)
      val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
      val rescore = graft.ops.Dedup.rescoreJaccardTwoSided(
        cand, sh, sh, "doc_id", "__sh", 0.5, candRows = 1L)
      sb.append("\n## jaccard string-rescore stage (lazy; feeds " +
        "dedup_ngram_jaccard / dedup_jaccard_probe)\n\n```\n")
      sb.append(rescore.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // Round 20: the codec keys' outputs also arrive eagerly
    // checkpointed now (the encode/decode phase-wall split, VERDICT
    // r19 #1), so their harness-key plans above end at a Scan
    // ExistingRDD — dump the LAZY stages directly, same precedent as
    // the jaccard rescore above. The audit points are unchanged from
    // the round-12 comment on the headline list: the resize chain
    // must show NO exchange between the scan and the partition-wise
    // decode, and the dedup tail must stay the banded-Hamming join
    // over the checkpointed (id, hash) relation — no cartesian.
    locally {
      implicit val sp: SparkSession = spark
      val staged = graft.queries.HarnessLLM.codecImageMedia(spark, sfDir, "png")
      sb.append("\n## codec resize chain (lazy; feeds " +
        "multimodal_codec_resize)\n\n```\n")
      sb.append(graft.ops.Multimodal.resizeImagePartitions(staged, 8, 8).toDF()
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
      val corpus = graft.queries.HarnessLLM.codecDedupCorpus(spark, sfDir)
      sb.append("\n## codec image-dedup join (lazy tail; feeds " +
        "multimodal_codec_image_dedup)\n\n```\n")
      sb.append(graft.ops.Multimodal
        .imageNearDups(corpus, "doc_id", "media", maxHamming = 3)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(outPath), sb.toString)
    println(s"wrote $outPath")
    spark.stop()
  }
}
