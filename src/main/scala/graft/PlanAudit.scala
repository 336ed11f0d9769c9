package graft

/** Dev tool: dump formatted physical plans for selected queries and flag
  * known scale-killer shapes (unpartitioned windows, cartesian products,
  * non-broadcast joins of tiny dims). Usage:
  *   sbt "runMain graft.PlanAudit [sfDir] [query ...]"
  * With no query args, audits every SparkEntry query and prints only the
  * flags summary; with query names, prints their full formatted plans. */
object PlanAudit {

  /** Queries whose BroadcastNestedLoopJoin is the documented
    * tiny-broadcast scalar/probe shape (a 1-row aggregate or a ≤8-row
    * probe set joined without an equi-key). Anything flagged OUTSIDE
    * this list is a regression and fails the audit (exit 1), so the
    * dev tool doubles as a plan-shape gate. */
  val expectedBnlj: Set[String] = Set(
    "cdc_lag", "doc_budget_select",
    "doc_bm25_topk", // 1-row (n_docs, avgdl) corpus-stats broadcast
    "doc_bm25_rrf", // same 1-row BM25 corpus-stats broadcast, inherited
    "q_skew_report", // 1-row key-distribution stats broadcast
    "doc_cooc_lift", // 1-row token-total scalar broadcast
    "doc_dsir_weights", // 1-row (tr, tt) model-total broadcast
    "doc_dedup_incremental",
    "doc_dedup_incremental_bloom", // same 1-row __half boundary agg as doc_dedup_incremental
    "doc_mixture", "doc_tfidf", "doc_unigram_lp", "doc_vocab",
    "doc_lm_deciles", // inherits doc_unigram_lp's 1-row corpus-total broadcast
    "emb_ann_recall", // wraps the ≤8-row probe broadcasts of every path it scores + a 3-row method spine
    "emb_ann_mrl", // same ≤8-row probe broadcast at each truncation tier + tier spine
    "emb_ivf_balance", // 1-row occupancy-stats broadcast
    "emb_ann_ivf", "emb_ann_topk", "emb_ann_topk_q",
    "emb_ann_ivfpq", // probe × |lists|-row centroid broadcast (the emb_ann_ivf routing shape)
    "emb_ann_pq", // same broadcast ≤8-row probe-table shape
    "emb_ann_pq_refined", // inherits the shortlist stage's probe broadcast
    "emb_ann_pq_learned", // same probe-table broadcast, learned codebook
    "emb_index_roundtrip", // same ≤8-row probe-table broadcast over the reloaded codes index
    "emb_index_ivf_roundtrip", // emb_ann_ivfpq's probe × centroid routing broadcast over the reloaded list-partitioned index
    "emb_index_ivf_append", // same routing broadcast over the incrementally-appended index
    "emb_decontaminate", // ≤8-row benchmark-side broadcast (the decontamination sweep's tiny side by design)
    "doc_retrieval_eval", // inherits doc_bm25_topk's 1-row corpus-stats broadcast + the |queries|-row spine join
    "doc_bigram_lp", // 1-row corpus-total broadcast (Bigram.scala:53)
    "doc_bigram_kn", // same 1-row KN model-totals broadcast (Bigram.scala knLogProbScores)
    "emb_ood", // 1-row per-dim moment-stats broadcast (Pca.diagOod)
    "doc_epoch_plan", // 1-row mixture-normalizer broadcast (Sampling.epochPlan), the doc_mixture shape
    "q_join_estimate", // 1-row × 1-row exact/estimate join (Cms.joinSizeEstimate)
    "cdc_syncpoint", // 1-row syncpoint-ts broadcast into both tables' as-of filters
    "cdc_topic_compacted", // 1-row delete.retention cutoff broadcast (Topic.compact)
    "cdc_topic_redelivery", // 1-row broker-clock broadcast (TopicAcks.redeliveryScan, the compact() cutoff shape)
    "cdc_topic_retention", // 1-row retention-cutoff broadcast (Topic.retain, the compact() cutoff shape)
    "cdc_topic_offsets_topic", // 1-row tombstone-retention cutoff broadcast (Topic.compact) + the 2-row group × 3-row ladder spine crossJoins (|groups×k| commit planting, metadata-sized)
    "doc_dup_triangles", // 1-row n_edges × 1-row n_nodes summary crossJoin (Graph.triangles)
    "doc_source_pagerank", // 1-row dangling-mass × 1-row |V| broadcast per PR iteration (Graph.pagerank)
    "doc_prefix_jaccard", // 1-row max-posting guard broadcast (PrefixJoin fail-fast, the Similarity.neardupPairs shape)
    "q_table_profile", // 1-row per-column ndv × 1-row stats-frame joins (B71 report assembly)
    "doc_vocab_drift", // 1-row per-side token-total broadcast (Drift.scala:54)
    "emb_knn_classify", // wraps annTopK's broadcast ≤8-row probe set
    "emb_hard_negatives", // same broadcast ≤8-row probe shape
    "emb_neardup",
    "emb_semdedup", // 1-row max-cluster-size guard broadcast
    "q22_churned_customers", "q_gapfill",
    "q11_important_stock", // 1-row global-total scalar broadcast (Q11 fraction threshold)
    "q_ts_similarity", // users-dimension all-pairs baseline (|users| ≪ |events|) + 1-row day-spine broadcast
    "q_ts_similarity_lsh", // 1-row spine-constants broadcast + small day-spine broadcast; pairing itself is a (band, key) equi-join
    "cdc_topic_txn_produce", // 1-row ts-max broadcast planting marker records (Topic.transactionalLog markerRows — the compact() cutoff shape) + the |markers|-row spec spine crossJoin, both metadata-sized
    "cdc_topic_txn_produce_visible", // inherits the same transactionalLog marker-planting broadcasts
    "cdc_topic_mirror", // inherits txnProducedTopic's marker planting; cursor translation itself is a broadcast equi-join
    "cdc_topic_group_liveness") // 1-row coordinator-clock broadcast (group's newest heartbeat vs session timeout — the A42 gap shape)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    val targets =
      if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    var flagged = 0
    var regressions = 0
    for (name <- targets) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val flags = Seq(
        "unpartitioned window" -> plan.contains("Window Partition Specification: []"),
        "cartesian product" -> plan.contains("CartesianProduct"),
        "broadcast nested loop" -> plan.contains("BroadcastNestedLoopJoin"))
        .collect { case (what, true) => what }
      if (flags.nonEmpty) flagged += 1
      // an unpartitioned window or cartesian is ALWAYS a regression; a
      // BNLJ only when the query isn't in the documented allowlist
      val isRegression = flags.exists(_ != "broadcast nested loop") ||
        (flags.contains("broadcast nested loop") && !expectedBnlj(name))
      if (isRegression) regressions += 1
      println(s"== $name${if (flags.isEmpty) "" else flags.mkString("  [", ", ", "]")}" +
        (if (isRegression) "  <-- REGRESSION" else ""))
      if (names.nonEmpty) println(plan)
    }
    println(s"== audited ${targets.size} plans, $flagged flagged " +
      s"(${flagged - regressions} documented), $regressions regressions")
    if (regressions > 0) sys.exit(1)
  }
}
