package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}

/** Dev tool: dumps `explain(formatted)` for the flagship queries to
  * PLANS.md (generated on demand, not committed) — the evidence that
  * filters push down, dims broadcast, and hot paths stay in
  * whole-stage codegen.
  * `sbt 'runMain graft.tools.DumpPlans /root/testdata/sf0.01'`
  */
object DumpPlans {
  val flagship = Seq(
    "q1_pricing_summary", "c_join_inner_5way", "c_join_asof",
    "f_topk", "a_partitioned_glob_scan", "c_join_bucketed",
    "c_join_asof_forward", "n_dedup_incremental",
    "n_dedup_minhash_lsh", "n_dedup_ngram_jaccard", "n_dedup_simhash",
    "n_cosine_topk_bruteforce", "n_ann_ivf", "i_date_series",
    "n_ann_ivf_portable", "m_decode_features",
    // continuation-session flagships: the scale-shaped additions
    "c_join_bloom_prefilter", "n_seq_packing", "n_line_dedup",
    "i_zorder_layout", "j_funnel", "n_heavy_hitters",
    // round-5 additions with distinctive plan shapes
    "d_equidepth_hist", "n_dedup_semantic", "n_chunk_overlap",
    "n_shard_assign",
    // round-6 additions: LM scoring pairs (token-keyed model joins)
    // and the memoized-pair-graph consumers
    "n_quality_unigram_lm", "n_dsir_importance",
    "n_dedup_keep_best", "n_dedup_containment",
    // round-8 additions: linear span extraction + single-aggregate covariance
    "n_dup_span_extract", "n_dup_span_apply", "n_embed_covariance",
    // round-9 additions: partial top-k aggregation (no window sort) and
    // the broadcast-assign/exploded-recompute k-means loop
    "n_knn_join_topk", "n_kmeans_lloyd",
    // round-9 second batch: the posting-scan + TakeOrdered shape of
    // BM25, the hash-join-on-codes PQ scan, and the deletion-key
    // blocking join are the plans to pin
    "n_bm25_topk", "n_ann_pq", "n_fuzzy_join_edit1",
    // round-10: the 64-row bit_or filter + broadcast probe join, the
    // doc-partitioned winnowing window + fingerprint-bucket join, the
    // top-5-posting candidate join + exact rerank, and the dual-rank
    // recall harness over one shared scored-pair relation
    "n_bloom_filter", "n_winnowing", "n_tfidf_cosine", "n_ann_recall",
    // round-11: the 64-group HLL register aggregate, the 4096-lane
    // broadcast Bloom probe, the banded two-level rank (equidepth and
    // ECDF share the shape), and the continuation-count KN join chain
    "n_hll_distinct", "n_dedup_bloom_screen", "n_quality_ecdf",
    "n_kneser_ney_lm",
    // round-11c/d/e: the mutual-best double-window margin join, the
    // keyed-rank skew audit, the k^2 Bradley-Terry MM chain, the
    // broadcast-verdict domain gate, the blocked Fellegi-Sunter pair
    // join with broadcast u-estimates, and the ensemble vote's
    // shingle-keyed pair-intersection shape (the 40 s -> 1.7 s fix)
    "n_bitext_mining", "n_skew_audit", "n_pref_bradley_terry",
    "n_domain_gate_apply", "n_record_linkage", "n_dedup_ensemble",
    // round-12: the executable ANN tier — the 37-mask probe explode
    // into the signature equi-join (look for the shuffle on psig/sig,
    // no cartesian anywhere in candidate generation)
    "n_bitext_mining_ann", "n_decontam_semantic_ann", "n_label_noise_ann",
    // round-12b/c: the Heaps fit (O(log n) threshold BNLJ over two
    // linear aggregates), the transfer matrix (token-keyed self-join,
    // k^2 broadcast skeleton), the conformal gate (one-row threshold
    // broadcast against the linear apply scan)
    "n_heaps_law", "n_lm_transfer_matrix", "n_conformal_quality_gate",
    // round-13: the TPC-H shapes with distinctive plans — correlated
    // MIN decorrelation (q2), EXISTS/NOT-EXISTS double semi/anti
    // (q21), view-over-aggregate with a max scalar subquery (q15) —
    // plus the banded rank twin (status × band keyed windows, zero
    // single-task sorts)
    "tpch_q02", "tpch_q15", "tpch_q21", "e_rank_family_banded",
    // round-14: the fence-fixed MMR shape (fixed 200-probe broadcast,
    // top-20 rank over 30-byte rows, vector re-join AFTER the cut —
    // look for no embedding column below the WindowGroupLimit) and the
    // EXCLUDE decomposition (two window aggregates sharing one
    // WindowExec sort + the peer-frame pass, no extra shuffle)
    "n_mmr_rerank", "e_frame_exclude_served")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.tune(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder(
      s"""# PLANS — explain(formatted) of the flagship queries
         |
         |Generated by `graft.tools.DumpPlans` on $sfDir. What to look
         |for: `PushedFilters`/`ReadSchema` on every FileScan (pushdown +
         |pruning), `BroadcastHashJoin` on dimension joins, `*(n)`
         |whole-stage-codegen prefixes on hot operators,
         |`TakeOrderedAndProject` for top-k, `PartitionFilters` on the
         |hive-partitioned scan, `SelectedBucketsCount` on the bucketed
         |join, one (key, time-bucket)-salted shuffle+sort plus a tiny
         |carry-in join for the as-of join, and `InMemoryTableScan` of
         |the once-persisted DF-capped shingle relation feeding every
         |dedup pipeline (the cap costs one cached window, not one
         |shuffle per reference). Round 6: the verified pair-
         |intersection relation and the CC label frame are ALSO
         |memoized, so Jaccard / containment / clusters / keep-best /
         |leakage all read one `InMemoryTableScan` instead of
         |re-running the candidate self-join.
         |
         |""".stripMargin)
    flagship.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // settle AQE on the final plan
      sb.append(s"## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${flagship.size} plans)")
    spark.stop()
  }
}
