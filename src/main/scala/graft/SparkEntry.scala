package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.{Ann, IvfIndex, Lsh, PqIndex, QdTree, SqIndex}
import graft.dedup.Dedup
import graft.operators.Analytics
import graft.multimodal.Multimodal
import graft.rbac.{Hierarchy, Maintenance, Partitioned, Rbac}
import graft.text.TextOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query key has (a) a Spark implementation and (b) unless marked
  * rows-only in SURVEY.md, a DuckDB oracle SQL over the same parquet
  * tables producing identical column names, types, and values.
  */
object SparkEntry {

  /** Flagship: permission-aware exact vector top-k (the reference's core
    * query) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Rbac.prefilterTopK(spark, "/root/testdata/sf0.001", userId = 1, k = 10)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- A. RBAC vector search core ---
    "rbac_accessible_docs" -> ((s, d) => Rbac.accessibleDocs(s, d, 1).orderBy("document_id")),
    "rbac_prefilter_topk" -> ((s, d) => Rbac.prefilterTopK(s, d, 1, 10)),
    "rbac_prefilter_pruned" -> ((s, d) => graft.sources.Layouts.prefilterPruned(s, d, 1, 10)),
    "sql_prefilter_topk" -> ((s, d) => SqlSurface.prefilterTopKSql(s, d)),
    "sql_batch_topk" -> ((s, d) => SqlSurface.batchTopKSql(s, d)),
    "sql_funnel" -> ((s, d) => SqlSurface.funnelSql(s, d)),
    "rbac_postfilter_topk" -> ((s, d) => Rbac.postfilterTopK(s, d, 1, 10)),
    "rbac_rls_topk" -> ((s, d) => Rbac.rlsTopK(s, d, 1, 10)),
    "rbac_role_partition_topk" -> ((s, d) => Partitioned.rolePartitionTopK(s, d, 1, 10)),
    "rbac_comb_partition_topk" -> ((s, d) => Partitioned.combPartitionTopK(s, d, 1, 10)),
    "rbac_dynamic_partition_topk" -> ((s, d) => Partitioned.dynamicPartitionTopK(s, d, 1, 10)),
    "rbac_costmodel_layout" -> ((s, d) => Partitioned.costModelLayout(s, d)),
    "rbac_user_partition_topk" -> ((s, d) => Partitioned.userPartitionTopK(s, d, 1, 10)),
    "rbac_batch_ground_truth" -> ((s, d) => Partitioned.batchGroundTruth(s, d, 8, 5)),
    "rbac_space_report" -> ((s, d) => Partitioned.spaceReport(s, d)),
    "rbac_recall_report" -> ((s, d) => Partitioned.recallReport(s, d)),
    "rbac_delete_topk" -> ((s, d) => Maintenance.deleteAwareTopK(s, d, 1, 10)),
    "rbac_partition_refine" -> ((s, d) => Maintenance.partitionRefine(s, d)),
    "rbac_workload_gen" -> ((s, d) => Maintenance.workloadGen(s, d)),
    "rbac_hierarchy_docs" -> ((s, d) => Hierarchy.accessibleDocs(s, d, 7).orderBy("document_id")),
    "rbac_hierarchy_topk" -> ((s, d) => Hierarchy.hierarchyTopK(s, d, 7, 10)),
    "rbac_hierarchy_selectivity" -> ((s, d) => Hierarchy.selectivityStats(s, d)),
    "rbac_hierarchy_costmodel" -> ((s, d) => Hierarchy.costModelLayout(s, d)),
    "rbac_hierarchy_dag_docs" -> ((s, d) => Hierarchy.dagAccessibleDocs(s, d, 7).orderBy("document_id")),
    "rbac_hierarchy_dag_topk" -> ((s, d) => Hierarchy.dagTopK(s, d, 7, 10)),
    "rbac_hierarchy_dag_costmodel" -> ((s, d) => Hierarchy.dagCostModelLayout(s, d)),
    "rbac_selectivity_stats" -> ((s, d) => Rbac.selectivityStats(s, d)),
    "rbac_permission_matrix" -> ((s, d) => Rbac.permissionMatrix(s, d)),
    "rbac_user_role_stats" -> ((s, d) => Rbac.userRoleStats(s, d)),
    // --- B. ANN / vector ops ---
    "ann_bruteforce_topk" -> ((s, d) => Ann.bruteForceCosineTopK(s, d, 10)),
    "ann_bruteforce_l2_topk" -> ((s, d) => Ann.bruteForceL2TopK(s, d, 10)),
    "ann_pca_build" -> ((s, d) => graft.ann.Pca.pcaBuild(s, d)),
    "ann_pca_topk" -> ((s, d) => graft.ann.Pca.pcaTopK(s, d)),
    "ann_maxip_topk" -> ((s, d) => Ann.maxInnerProductTopK(s, d, 10)),
    "ann_l1_topk" -> ((s, d) => Ann.bruteForceL1TopK(s, d, 10)),
    "ann_sparse_topk" -> ((s, d) => graft.ann.Sparse.sparseTopK(s, d)),
    "ann_sparse_inverted_topk" -> ((s, d) => graft.ann.Sparse.invertedTopK(s, d)),
    "ann_batch_topk" -> ((s, d) => Ann.batchTopK(s, d, nq = 8, k = 10)),
    "ann_range_search" -> ((s, d) => Ann.rangeSearch(s, d, tau = 1.3)),
    "ann_knn_graph" -> ((s, d) => Ann.knnGraph(s, d, 5)),
    // 1 descent round in the workload entry (the convergence trajectory
    // 0.29→0.61→0.88→0.95 over rounds is asserted in ScalaTest)
    "ann_knn_graph_nnd" -> ((s, d) => Ann.knnGraphDescent(s, d, 5, iters = 1)),
    // r12 dispatch (VERDICT r11 #7): exact build below the measured
    // corpus ceiling, NN-Descent above — at every oracle SF this IS
    // the exact branch, so B11's quadratic SQL oracles the key
    "ann_knn_graph_auto" -> ((s, d) => Ann.knnGraphAuto(s, d, 5)),
    "ann_knn_centrality" -> ((s, d) => Ann.knnCentrality(s, d)),
    // B41: the at-scale centrality — PageRank over the NND graph.
    // Fully oracle-checked since r11: the descent edges persist as the
    // nnd_graph_k5 sidecar and the DuckDB oracle replays the 10-round
    // recurrence as unrolled CTEs (oracle below, near line 1218).
    "ann_knn_centrality_nnd" -> ((s, d) => Ann.knnCentralityNnd(s, d)),
    "ann_graph_topk_model" -> ((s, d) => graft.ann.GraphSearch.graphTopKModel(s, d)),
    "ann_graph_topk" -> ((s, d) => graft.ann.GraphSearch.graphTopK(s, d)),
    "rbac_graph_topk" -> ((s, d) => graft.ann.GraphSearch.rbacGraphTopK(s, d)),
    "ann_graph_delete_topk" -> ((s, d) => graft.ann.GraphSearch.graphDeleteTopK(s, d)),
    "ann_graph_insert" -> ((s, d) => graft.ann.GraphSearch.insertNeighbors(s, d)),
    "ann_graph_insert_links" -> ((s, d) => graft.ann.GraphSearch.insertReciprocalLinks(s, d)),
    "ann_graph_upsert_topk" -> ((s, d) => graft.ann.GraphSearch.graphUpsertTopK(s, d)),
    "ann_graph_topk_nnd" -> ((s, d) => graft.ann.GraphSearch.graphTopKNnd(s, d)),
    // B43 (r13): NND serving at the MEASURED (iters, ef) policy — the
    // key that meets the recall target at every corpus size, escalating
    // descent iterations only where the beam knob has saturated
    "ann_graph_topk_nnd_model" -> ((s, d) => graft.ann.GraphSearch.graphTopKNndModel(s, d)),
    "ann_knn_classify" -> ((s, d) => graft.ann.Classify.knnClassify(s, d)),
    "ann_graph_classify" -> ((s, d) => graft.ann.Classify.graphClassify(s, d)),
    "ann_cell_label_stats" -> ((s, d) => graft.ann.Classify.cellLabelStats(s, d)),
    "rbac_partition_graph_topk" -> ((s, d) => graft.ann.GraphSearch.partitionGraphTopK(s, d)),
    // A22 (r14): the partitioned serving path AT the measured
    // (iters, ef) policy — B43's sidecar-replay convention, so the
    // key stays value-checkable above the exact-build ceiling
    "rbac_partition_graph_policy_topk" -> ((s, d) => graft.ann.GraphSearch.partitionGraphPolicyTopK(s, d)),
    "rbac_partition_graph_sweep" -> ((s, d) => graft.ann.GraphSearch.partitionGraphSweep(s, d)),
    "hybrid_rrf_topk" -> ((s, d) => graft.ann.Hybrid.hybridRrfTopK(s, d)),
    "ann_half_topk" -> ((s, d) => graft.ann.Half.halfTopK(s, d)),
    "events_props_stats" -> ((s, d) => Analytics.eventsPropsStats(s, d)),
    "vector_norms" -> ((s, d) => Ann.vectorNorms(s, d, n = 100)),
    "ann_ivf_build" -> ((s, d) => IvfIndex.buildReport(s, d)),
    "ann_ivf_search" -> ((s, d) => IvfIndex.search(s, d)),
    "ann_lsh_search" -> ((s, d) => Lsh.search(s, d)),
    "qdtree_partition_assign" -> ((s, d) => IvfIndex.qdTreeAssign(s, d)),
    "qdtree_routed_topk" -> ((s, d) => IvfIndex.qdTreeSearch(s, d, 1)),
    "qdtree_greedy_build" -> ((s, d) => QdTree.leafReport(s, d)),
    "qdtree_greedy_topk" -> ((s, d) => QdTree.routedTopK(s, d, 1)),
    "ann_predicate_probe" -> ((s, d) => IvfIndex.predicateAwareSearch(s, d, 1)),
    "ann_range_triangle" -> ((s, d) => IvfIndex.rangeSearchTriangle(s, d, tau = 1.3)),
    "ann_pq_build" -> ((s, d) => PqIndex.buildReport(s, d)),
    "ann_opq_build" -> ((s, d) => graft.ann.OpqIndex.buildReport(s, d)),
    "ann_opq_search" -> ((s, d) => graft.ann.OpqIndex.search(s, d)),
    "ann_sq_build" -> ((s, d) => SqIndex.buildReport(s, d)),
    "rbac_partition_index_build" -> ((s, d) => graft.ann.GroupedKMeans.partitionIndexBuild(s, d)),
    "rbac_partition_ivf_topk" -> ((s, d) => graft.ann.GroupedKMeans.partitionIvfTopK(s, d, 1, 10)),
    "ann_sq_search" -> ((s, d) => SqIndex.search(s, d)),
    "ann_bq_build" -> ((s, d) => graft.ann.BqIndex.buildReport(s, d)),
    "ann_hamming_topk" -> ((s, d) => graft.ann.BqIndex.hammingTopK(s, d)),
    "ann_bq_jaccard_topk" -> ((s, d) => graft.ann.BqIndex.jaccardTopK(s, d)),
    "ann_bq_search" -> ((s, d) => graft.ann.BqIndex.search(s, d)),
    "ann_recall_model" -> ((s, d) => graft.ann.RecallModel.report(s, d)),
    "ann_cost_frontier" -> ((s, d) => graft.ann.RecallModel.costFrontier(s, d)),
    "ann_pq_search" -> ((s, d) => PqIndex.search(s, d)),
    "ann_ivfpq_search" -> ((s, d) => PqIndex.ivfAdcSearch(s, d)),
    "rbac_ivfpq_topk" -> ((s, d) => PqIndex.ivfAdcSearch(s, d, userId = Some(1))),
    // --- F. Multimodal plumbing ---
    "mm_binary_features" -> ((s, d) => Multimodal.features(s, d).toDF().orderBy("media_id")),
    "mm_jpeg_features" -> ((s, d) => Multimodal.jpegFeatures(s, d).toDF().orderBy("media_id")),
    "mm_png_features" -> ((s, d) => Multimodal.pngFeatures(s, d).toDF().orderBy("media_id")),
    "mm_audio_features" -> ((s, d) => Multimodal.audioFeatures(s, d).toDF().orderBy("media_id")),
    "mm_frame_sample" -> ((s, d) => Multimodal.frameSamplePlan(s, d)),
    "mm_resize_plan" -> ((s, d) => Multimodal.resizePlan(s, d)),
    // --- C. Deduplication ---
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "dedup_clusters" -> ((s, d) => Dedup.dupClusters(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "dedup_embedding" -> ((s, d) =>
      // r11: the EXACT near-dup miner gets the same cells ∝ corpus
      // knob as SemDeDup (= 8 at every oracle SF — the quadratic
      // oracle is blocking-independent, so any cells value is
      // lossless; the 10× run measured fixed cells=8 at 10.21×,
      // just over the linear fence, for the same reason as C10)
      Dedup.embeddingPairs(s, d, cells = Dedup.semanticCells(s, d))),
    // r12 dispatch (VERDICT r11 #7): exact blocked miner while the
    // pre-measured candidate stream fits the budget, within-cell
    // SemDeDup blocking past it — the oracle SFs take the exact branch
    "dedup_embedding_auto" -> ((s, d) => Dedup.embeddingPairsAuto(s, d)),
    "dedup_substring" -> ((s, d) => Dedup.substringSpans(s, d)),
    // the paper's knob: cells ∝ corpus (= 8 at every oracle SF, so
    // the oracle's k8 sidecar replay is untouched; only the scaled
    // bench dirs cluster wider)
    "dedup_semantic" -> ((s, d) => Dedup.semanticDedup(s, d, cells = Dedup.semanticCells(s, d))),
    // --- D. Text analysis ---
    "text_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "text_quality" -> ((s, d) => TextOps.quality(s, d)),
    "text_tokens" -> ((s, d) => TextOps.tokens(s, d)),
    "text_pack_sequences" -> ((s, d) => TextOps.packSequences(s, d)),
    "text_train_split" -> ((s, d) => TextOps.trainSplit(s, d)),
    "dedup_decontaminate" -> ((s, d) => Dedup.decontaminate(s, d)),
    "dedup_decontaminate_bloom" -> ((s, d) => Dedup.decontaminateBloom(s, d)),
    "events_user_reach" -> ((s, d) => graft.operators.Sketches.userReach(s, d)),
    "events_heavy_hitters" -> ((s, d) => graft.operators.Sketches.heavyHitters(s, d)),
    "events_reach_sketch" -> ((s, d) => graft.operators.Sketches.reachSketch(s, d)),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(s, d)),
    "text_ngram_stats" -> ((s, d) => TextOps.ngramStats(s, d)),
    "text_hash_embedding" -> ((s, d) => TextOps.hashEmbedding(s, d)),
    "text_tfidf" -> ((s, d) => TextOps.tfidf(s, d)),
    "text_repetition" -> ((s, d) => TextOps.repetitionStats(s, d)),
    "text_chunks" -> ((s, d) => TextOps.chunkDocuments(s, d)),
    "text_scrub" -> ((s, d) => TextOps.textScrub(s, d)),
    "docs_dsir_weights" -> ((s, d) => graft.operators.Sampling.dsirWeights(s, d)),
    "text_bpe_train" -> ((s, d) => graft.text.Bpe.trainReport(s, d)),
    "text_bpe_encode" -> ((s, d) => graft.text.Bpe.encodeReport(s, d)),
    "text_lm_score" -> ((s, d) => TextOps.lmScore(s, d)),
    "text_compression_ratio" -> ((s, d) => TextOps.compressionRatio(s, d)),
    // --- E. Relational analytics ---
    "q1_pricing_summary" -> ((s, d) => Analytics.q1PricingSummary(s, d)),
    "q3_shipping_priority" -> ((s, d) => Analytics.q3ShippingPriority(s, d)),
    "q5_local_volume" -> ((s, d) => Analytics.q5LocalVolume(s, d)),
    "q_top_suppliers" -> ((s, d) => Analytics.topSuppliers(s, d)),
    "q_order_priority" -> ((s, d) => Analytics.orderPriority(s, d)),
    "events_sessionize" -> ((s, d) => Analytics.sessionize(s, d)),
    "events_quantiles" -> ((s, d) => Analytics.valueQuantiles(s, d)),
    "q7_nation_volume" -> ((s, d) => Analytics.q7NationVolume(s, d)),
    "q10_returned_items" -> ((s, d) => Analytics.q10ReturnedItems(s, d)),
    "q12_priority_shipping" -> ((s, d) => Analytics.q12PriorityShipping(s, d)),
    "q14_promo_revenue" -> ((s, d) => Analytics.q14PromoRevenue(s, d)),
    "q2_min_cost_supplier" -> ((s, d) => Analytics.q2MinCostSupplier(s, d)),
    "q11_important_stock" -> ((s, d) => Analytics.q11ImportantStock(s, d)),
    "q16_parts_supplier" -> ((s, d) => Analytics.q16PartsSupplier(s, d)),
    "q20_potential_promotion" -> ((s, d) => Analytics.q20PotentialPromotion(s, d)),
    "q19_discounted_revenue" -> ((s, d) => Analytics.q19DiscountedRevenue(s, d)),
    "q_revenue_rollup" -> ((s, d) => Analytics.revenueRollup(s, d)),
    "events_window_agg" -> ((s, d) => Analytics.eventsWindowAgg(s, d)),
    "events_type_pivot" -> ((s, d) => Analytics.eventsTypePivot(s, d)),
    "events_quantiles_approx" -> ((s, d) => Analytics.valueQuantilesApprox(s, d)),
    "q6_forecast_revenue" -> ((s, d) => Analytics.q6ForecastRevenue(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q9_profit_by_nation" -> ((s, d) => Analytics.q9ProfitByNation(s, d)),
    "q13_customer_distribution" -> ((s, d) => Analytics.q13CustomerDistribution(s, d)),
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    "q17_small_quantity_revenue" -> ((s, d) => Analytics.q17SmallQuantityRevenue(s, d)),
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    "q21_waiting_suppliers" -> ((s, d) => Analytics.q21WaitingSuppliers(s, d)),
    "q22_dormant_customers" -> ((s, d) => Analytics.q22DormantCustomers(s, d)),
    "events_asof_purchase" -> ((s, d) => graft.operators.AsofJoin.eventsAsofPurchase(s, d)),
    "events_error_windows" -> ((s, d) => graft.operators.RangeJoin.eventsInErrorWindows(s, d)),
    "events_salted_enrich" -> ((s, d) => graft.operators.Salted.eventsSaltedEnrich(s, d)),
    "q_customer_quartiles" -> ((s, d) => Analytics.customerBalanceQuartiles(s, d)),
    "q_order_cube" -> ((s, d) => Analytics.orderCube(s, d)),
    "events_user_setops" -> ((s, d) => Analytics.userSetOps(s, d)),
    "docs_stratified_sample" -> ((s, d) => graft.operators.Sampling.docsStratifiedSample(s, d)),
    "docs_mixture_sample" -> ((s, d) => graft.operators.Sampling.docsMixtureSample(s, d)),
    "events_funnel" -> ((s, d) => Analytics.eventsFunnel(s, d)),
    "events_retention" -> ((s, d) => Analytics.eventsRetention(s, d)),
    "events_outliers" -> ((s, d) => Analytics.eventsOutliers(s, d)),
    "docs_corpus_shuffle" -> ((s, d) => graft.operators.Sampling.corpusShuffle(s, d)),
    "docs_kcenter" -> ((s, d) => graft.operators.Sampling.kcenterSelect(s, d)),
    "docs_upsert" -> ((s, d) => graft.operators.Cdc.docsUpsert(s, d)),
    "q_revenue_incremental" -> ((s, d) => graft.operators.Ivm.revenueIncremental(s, d)),
    "events_gapfill" -> ((s, d) => Analytics.eventsGapfill(s, d)),
    "events_histogram" -> ((s, d) => Analytics.eventsHistogram(s, d)),
    "docs_training_pipeline" -> ((s, d) => graft.operators.Pipeline.docsTrainingPipeline(s, d)),
  )

  // Shared oracle CTE fragments (must mirror graft.rbac.Rbac's derivation
  // arithmetic EXACTLY — SURVEY.md §3).
  private val urAll =
    """ur_all AS (
      |  SELECT c_custkey AS user_id, c_custkey % 10 AS role_id FROM customer
      |  UNION
      |  SELECT c_custkey, (c_custkey * 3 + 1) % 10 FROM customer
      |)""".stripMargin
  private val ur1 =
    """ur AS (
      |  SELECT c_custkey % 10 AS role_id FROM customer WHERE c_custkey = 1
      |  UNION
      |  SELECT (c_custkey * 3 + 1) % 10 FROM customer WHERE c_custkey = 1
      |)""".stripMargin
  private val perm =
    """perm AS (
      |  SELECT doc_id % 10 AS role_id, doc_id AS document_id FROM documents
      |  UNION
      |  SELECT (doc_id // 10) % 10, doc_id FROM documents
      |)""".stripMargin
  private val acc = "acc AS (SELECT DISTINCT document_id FROM perm JOIN ur USING (role_id))"
  // Role-hierarchy closure (mirrors graft.rbac.Hierarchy: parent(r) =
  // r // 2, role 0 the root; reflexive subtree closure) + the
  // hierarchy-expanded accessible set for user 7 (held roles 7 and 2).
  private val ur7 =
    """ur AS (
      |  SELECT c_custkey % 10 AS role_id FROM customer WHERE c_custkey = 7
      |  UNION
      |  SELECT (c_custkey * 3 + 1) % 10 FROM customer WHERE c_custkey = 7
      |)""".stripMargin
  private val closure =
    """closure(role_id, desc_id) AS (
      |  SELECT i, i FROM range(0, 10) t(i)
      |  UNION
      |  SELECT c.role_id, e.child FROM closure c
      |  JOIN (SELECT i AS child, i // 2 AS parent FROM range(1, 10) t(i)) e
      |    ON e.parent = c.desc_id
      |)""".stripMargin
  // Flat user→role derivation under a different CTE name, for queries
  // that rebuild `ur_all` as the hierarchy-expanded set (so the shared
  // costLayout CTE replays over the expanded distribution verbatim).
  private val urBase =
    """ur_base AS (
      |  SELECT c_custkey AS user_id, c_custkey % 10 AS role_id FROM customer
      |  UNION
      |  SELECT c_custkey, (c_custkey * 3 + 1) % 10 FROM customer
      |)""".stripMargin

  // Shared C7/C8 decontamination replay (both keys map to this one
  // value — the Spark operators are asserted row-identical).
  // ts::TIMESTAMP truncates the parquet TIMESTAMP(NANOS) to micros —
  // the same precision Tables.events reads on the Spark side, so the
  // strict > comparisons agree even for nano-offset events.
  private val funnelOracle =
    """WITH ev AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      |SELECT s1.user_id,
      |       (1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT)::BIGINT
      |         AS funnel_stage
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  private val decontOracle =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, source,
      |         list_distinct(list_transform(range(1, len(ws) - 6),
      |           i -> array_to_string(ws[i:i+7], ' '))) AS s
      |  FROM w WHERE len(ws) >= 8
      |),
      |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0')
      |SELECT doc_id, count(*) AS n_hits
      |FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0') c
      |JOIN ev USING (g)
      |GROUP BY doc_id HAVING count(*) >= 1 ORDER BY doc_id""".stripMargin

  private val hacc =
    """hacc AS (
      |  SELECT DISTINCT p.document_id
      |  FROM ur JOIN closure c USING (role_id)
      |  JOIN perm p ON p.role_id = c.desc_id
      |)""".stripMargin
  // DAG closure (mirrors Hierarchy.dagClosure): tree edges plus a
  // second parent r/2 - 1 for every even role >= 4 — shared subtrees.
  private val dagClosure =
    """dclosure(role_id, desc_id) AS (
      |  SELECT i, i FROM range(0, 10) t(i)
      |  UNION
      |  SELECT c.role_id, e.child FROM dclosure c
      |  JOIN (SELECT i AS child, i // 2 AS parent FROM range(1, 10) t(i)
      |        UNION ALL
      |        SELECT i, i // 2 - 1 FROM range(4, 10) t(i) WHERE i % 2 = 0) e
      |    ON e.parent = c.desc_id
      |)""".stripMargin
  private val dacc =
    """dacc AS (
      |  SELECT DISTINCT p.document_id
      |  FROM ur JOIN dclosure c USING (role_id)
      |  JOIN perm p ON p.role_id = c.desc_id
      |)""".stripMargin
  private val qv = "q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)"

  // B31/B32 graph-walk replay (mirrors ann.GraphSearch exactly): IVF
  // cell medoids (nearest member per cell, ties to the smaller id) seed
  // a fixed-round synchronous beam search over the symmetrized exact
  // 5-NN graph — per round, the top-Ef of everything visited expands
  // its out-edges and newly visited nodes get exact L2 distances. Every
  // step is deterministic, so the walk unrolls into one CTE per round;
  // v{Rounds} is the full (query, visited, dist) relation both serving
  // keys rank.
  // The walk replay is three composable CTE groups — medoid seeds,
  // the symmetrized/capped kNN graph, and the walk rounds — so a key
  // can walk a CUSTOM graph relation (B40's repaired graph) or reuse
  // seeds across walks. `p` prefixes every CTE name so several walks
  // coexist in ONE statement; `ef` is a SQL expression (a literal, or
  // a scalar subquery over the model-picked-ef sidecar for B38).
  private def medoidCtes(baseWhere: String, p: String): String =
    s"""${p}gcent AS (
       |  SELECT list_id, centroid
       |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
       |${p}gdists AS MATERIALIZED (
       |  SELECT e.vec_id, c.list_id,
       |         list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
       |  FROM embeddings e CROSS JOIN ${p}gcent c
       |  WHERE $baseWhere),
       |${p}gassign AS MATERIALIZED (
       |  SELECT vec_id, list_id, d,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |  FROM ${p}gdists),
       |${p}medoid AS MATERIALIZED (
       |  SELECT vec_id AS cand_id FROM (
       |    SELECT list_id, vec_id,
       |           row_number() OVER (PARTITION BY list_id ORDER BY d, vec_id) AS mrn
       |    FROM ${p}gassign WHERE rn = 1) WHERE mrn = 1)""".stripMargin

  // the symmetrize + M_max-cap tail (mirrors GraphSearch.buildGraph),
  // shared by the exact-build graph and the r11 sidecar-backed NND
  // graph — the serving relation is the same SQL either way, only the
  // ${p}gknn edge source differs
  private def symCapCtes(p: String): String =
    s"""${p}gund0 AS (SELECT src, nbr FROM ${p}gknn UNION SELECT nbr AS src, src AS nbr FROM ${p}gknn),
       |${p}gund AS MATERIALIZED (
       |  SELECT src, nbr FROM (
       |    SELECT u.src, u.nbr,
       |           row_number() OVER (PARTITION BY u.src
       |             ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), u.nbr) AS rn
       |    FROM ${p}gund0 u
       |    JOIN embeddings a ON a.vec_id = u.src
       |    JOIN embeddings b ON b.vec_id = u.nbr)
       |  WHERE rn <= ${2 * graft.ann.GraphSearch.GraphK})""".stripMargin

  private def knnGraphCtes(baseWhere: String, p: String): String =
    s"""${p}gknn AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS nbr
       |  FROM (SELECT * FROM embeddings WHERE $baseWhere) a,
       |       (SELECT * FROM embeddings WHERE $baseWhere) b
       |  WHERE a.vec_id <> b.vec_id
       |  QUALIFY row_number() OVER (
       |    PARTITION BY a.vec_id
       |    ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) <= ${graft.ann.GraphSearch.GraphK}),
       |${symCapCtes(p)}""".stripMargin

  // r11: the NND serving graph's edges come from the descent sidecar
  // (the xxhash64-derived init has no SQL derivation; everything
  // downstream of the edge set replays) — same symmetrize+cap tail.
  private def nndGraphCtes(
      p: String,
      file: String = s"nnd_graph_k${graft.ann.GraphSearch.GraphK}.parquet"): String =
    s"""${p}gknn AS MATERIALIZED (
       |  SELECT src, nbr
       |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/$file/*.parquet')),
       |${symCapCtes(p)}""".stripMargin

  private def walkRoundCtes(queriesWhere: String, p: String, ef: String,
                            graphCte: String, medoidCte: String): String = {
    val base =
      s"""${p}gq AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
         |       WHERE $queriesWhere),
         |${p}v0 AS MATERIALIZED (
         |  SELECT q.query_id, m.cand_id,
         |         list_distance(e.embedding::DOUBLE[], q.qv) AS dist
         |  FROM ${p}gq q CROSS JOIN $medoidCte m JOIN embeddings e ON e.vec_id = m.cand_id
         |  WHERE m.cand_id <> q.query_id)""".stripMargin
    val rounds = (1 to graft.ann.GraphSearch.Rounds).map { r =>
      s"""${p}b$r AS (
         |  SELECT query_id, cand_id FROM ${p}v${r - 1}
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist, cand_id) <= ($ef)),
         |${p}nv$r AS MATERIALIZED (
         |  SELECT n.query_id, n.cand_id,
         |         list_distance(e.embedding::DOUBLE[], q.qv) AS dist
         |  FROM (SELECT DISTINCT b.query_id, u.nbr AS cand_id
         |        FROM ${p}b$r b JOIN $graphCte u ON u.src = b.cand_id) n
         |  JOIN embeddings e ON e.vec_id = n.cand_id
         |  JOIN ${p}gq q USING (query_id)
         |  WHERE n.cand_id <> n.query_id),
         |${p}v$r AS MATERIALIZED (
         |  SELECT DISTINCT query_id, cand_id, dist
         |  FROM (SELECT * FROM ${p}v${r - 1} UNION ALL SELECT * FROM ${p}nv$r))""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rounds
  }

  private def graphWalkCtes(baseWhere: String, queriesWhere: String,
                            p: String = "",
                            ef: String = graft.ann.GraphSearch.Ef.toString): String =
    medoidCtes(baseWhere, p) + ",\n" + knnGraphCtes(baseWhere, p) + ",\n" +
      walkRoundCtes(queriesWhere, p, ef, s"${p}gund", s"${p}medoid")
  // the serving walk (B31/B32/B34): full graph, queries vec_id < Nq
  private val graphWalk: String =
    graphWalkCtes("TRUE", s"vec_id < ${graft.ann.GraphSearch.Nq}")
  // the insert walk (B33): base-prefix graph, the trailing batch queries it
  private val graphInsertCut =
    s"(SELECT count(*) - ${graft.ann.GraphSearch.InsertTail} FROM embeddings)"
  private val graphInsertWalk: String =
    graphWalkCtes(s"vec_id < $graphInsertCut", s"vec_id >= $graphInsertCut")
  private val graphVFinal = s"v${graft.ann.GraphSearch.Rounds}"

  // Derived PartSupp replay (mirrors Analytics.partsupp, SURVEY §3
  // style): 4 supplier rows per part, arithmetic availqty/supplycost.
  private val psCte =
    """ps AS (
      |  SELECT p_partkey AS ps_partkey,
      |         (p_partkey*7 + i*13) % (SELECT count(*) FROM supplier) AS ps_suppkey,
      |         ((p_partkey*31 + ((p_partkey*7 + i*13) % (SELECT count(*) FROM supplier))*7) % 1000 + 1)::INT AS ps_availqty,
      |         ((p_partkey*13 + ((p_partkey*7 + i*13) % (SELECT count(*) FROM supplier))*5) % 9000 + 100) / 100.0 AS ps_supplycost
      |  FROM part, range(4) t(i)
      |)""".stripMargin

  // BQ per-dim thresholds (mirrors BqIndex.buildReport): the mean of
  // each dimension, rounded to 4dp like every cross-engine double.
  // Recall-curve replay core (mirrors RecallModel.measure): the A15
  // workload's query vectors, the k=16 centroid sidecar, exact
  // per-query top-10 (self-row excluded, (dist, vec_id) ties), the
  // per-query centroid-distance cell ranking ((d, cid) ties =
  // probeLists' rule), the corpus cell assignment, the neighbor
  // cell-rank histogram, and recall(p) = cum-hist / (|queries|·k).
  /** PQ float-distance emulation between `src`'s subvector and a
    * codebook sub-centroid — PqEncode/adcTable's float chain verbatim:
    * float subtract, float square, ordered float accumulate (per-step
    * ::REAL round-backs inside list_reduce). ONE definition consumed
    * by every PQ oracle so the ulp-sensitive emulation cannot drift
    * between keys.
    */
  // OPQ rotation replay from the component sidecar (B25's projection
  // emulation in permuted full-rank form): each coordinate is the
  // double dot of the raw floats with the float component row, minus
  // the float offset, rounded to REAL — exactly what projectComponents
  // bakes into the plan.
  private val opqGa =
    s"""oc AS (
       |  SELECT p, comp, "offset" AS off
       |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/opq_components.parquet/*.parquet')),
       |ga AS (SELECT array_agg(comp ORDER BY p) AS comps,
       |              array_agg(off ORDER BY p) AS offs FROM oc)""".stripMargin

  private def opqProj(src: String): String =
    s"""list_transform(range(1, 65), c ->
       |           (list_sum(list_transform(range(1, 65),
       |              i -> $src[i]::DOUBLE * ga.comps[c][i]::DOUBLE))
       |            - ga.offs[c]::DOUBLE)::REAL)""".stripMargin

  private def pqDist(src: String): String =
    s"""list_reduce(list_transform(range(1, 9), i ->
       |           ((($src[cb.sub * 8 + i]::DOUBLE - cb.centroid[i]::DOUBLE)::REAL)::DOUBLE
       |            * (($src[cb.sub * 8 + i]::DOUBLE - cb.centroid[i]::DOUBLE)::REAL)::DOUBLE)::REAL),
       |           (a, b) -> (a::DOUBLE + b::DOUBLE)::REAL)""".stripMargin

  // PQ argmin-encode + per-query ADC table + per-vector ADC sum
  // (double accumulation of the float entries in subspace order, as
  // PqAdcDistance) — shared verbatim by the three PQ serving oracles.
  private val pqAdcTail =
    s"""enc AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dd, code) AS rn
       |    FROM ed) WHERE rn = 1),
       |adct AS (
       |  SELECT cb.sub, cb.code,
       |         ${pqDist("qf.qe")} AS t
       |  FROM cb, qf),
       |pqd AS (
       |  SELECT en.vec_id, list_sum(array_agg(at.t ORDER BY en.sub)) AS adc
       |  FROM enc en JOIN adct at ON at.sub = en.sub AND at.code = en.code
       |  GROUP BY en.vec_id)""".stripMargin

  // The IVFADC chain shared verbatim by ann_ivfpq_search and
  // rbac_ivfpq_topk (they differ only in the shortlist's permission
  // semi-join): codebook + IVF sidecars, probe pick, assignment
  // replay, probed-cell PQ encode, ADC scoring.
  private val ivfPqCore =
    s"""cb AS (
       |  SELECT sub, code, centroid
       |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/pq_codebook.parquet/*.parquet')),
       |cent AS (
       |  SELECT list_id, centroid AS ivfc
       |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
       |qf AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cd AS (
       |  SELECT c.list_id,
       |         list_sum(list_transform(range(1, len(q.v) + 1),
       |           i -> (q.v[i] - c.ivfc[i]::DOUBLE) ^ 2)) AS d
       |  FROM cent c, q),
       |probes AS (SELECT list_id FROM cd ORDER BY d, list_id LIMIT 4),
       |ivfd AS (
       |  SELECT e.vec_id, c.list_id,
       |         list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> (e.embedding[i]::DOUBLE - c.ivfc[i]::DOUBLE) ^ 2)) AS d
       |  FROM embeddings e CROSS JOIN cent c),
       |assign AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT vec_id, list_id,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
       |    FROM ivfd) WHERE rn = 1),
       |probed AS (
       |  SELECT a.vec_id FROM assign a JOIN probes p USING (list_id)
       |  WHERE a.vec_id <> 0),
       |ed AS (
       |  SELECT e.vec_id, cb.sub, cb.code,
       |         ${pqDist("e.embedding")} AS dd
       |  FROM embeddings e JOIN probed USING (vec_id) CROSS JOIN cb),
       |$pqAdcTail""".stripMargin

  private val recallCore =
    """wq AS (
      |  SELECT c_custkey AS query_id,
      |         (c_custkey * 7) % (SELECT count(*) FROM embeddings) AS qvec_id
      |  FROM customer WHERE c_custkey <= 20),
      |qs AS (
      |  SELECT w.query_id, w.qvec_id, e.embedding AS qvec
      |  FROM wq w JOIN embeddings e ON e.vec_id = w.qvec_id),
      |cent AS (
      |  SELECT list_id, centroid
      |  FROM read_parquet('""" + graft.Sidecars.DefaultRoot + """/ivf_centroids_k16.parquet/*.parquet')),
      |ex AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT qs.query_id, e.vec_id,
      |           row_number() OVER (PARTITION BY qs.query_id
      |             ORDER BY list_distance(e.embedding::DOUBLE[], qs.qvec::DOUBLE[]), e.vec_id) AS rn
      |    FROM embeddings e, qs
      |    WHERE e.vec_id <> qs.qvec_id)
      |  WHERE rn <= 10),
      |cr AS (
      |  SELECT qs.query_id, c.list_id,
      |         row_number() OVER (PARTITION BY qs.query_id
      |           ORDER BY list_distance(qs.qvec::DOUBLE[], c.centroid::DOUBLE[]), c.list_id) AS cell_rank
      |  FROM qs, cent c),
      |ivfd AS (
      |  SELECT e.vec_id, c.list_id,
      |         list_sum(list_transform(range(1, len(e.embedding) + 1),
      |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
      |  FROM embeddings e CROSS JOIN cent c),
      |assign AS (
      |  SELECT vec_id, list_id FROM (
      |    SELECT vec_id, list_id,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
      |    FROM ivfd) WHERE rn = 1),
      |hist AS (
      |  SELECT cr.cell_rank, count(*) AS n
      |  FROM ex JOIN assign a ON a.vec_id = ex.vec_id
      |  JOIN cr ON cr.query_id = ex.query_id AND cr.list_id = a.list_id
      |  GROUP BY 1),
      |nq AS (SELECT count(*)::DOUBLE AS nq FROM qs),
      |pts AS (
      |  SELECT p.p AS nprobe,
      |         coalesce((SELECT sum(h.n) FROM hist h WHERE h.cell_rank <= p.p), 0)::DOUBLE
      |           / (nq.nq * 10) AS r
      |  FROM range(1, 17) p(p), nq)""".stripMargin

  private val bqThr =
    """thr AS (
      |  SELECT i, round(avg(list_extract(embedding, (i + 1)::INT)::DOUBLE), 4) AS t
      |  FROM embeddings, range(64) t(i) GROUP BY 1
      |)""".stripMargin

  // Cost-model layout replay (mirrors Partitioned.costModelLayout with
  // α = 2.0, workload users ≤ 20 — SURVEY.md §2 A17). Requires ur_all
  // and perm CTEs in scope.
  private val costLayout =
    """ucomb AS (
      |  SELECT user_id, string_agg(role_id, ',' ORDER BY role_id) AS comb_key
      |  FROM ur_all GROUP BY user_id
      |),
      |combroles AS (SELECT DISTINCT comb_key, role_id FROM ur_all JOIN ucomb USING (user_id)),
      |n0 AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
      |combdocs AS (
      |  SELECT cr.comb_key, count(DISTINCT p.document_id)::BIGINT AS n_docs
      |  FROM combroles cr JOIN perm p USING (role_id)
      |  JOIN embeddings e ON p.document_id = e.vec_id
      |  GROUP BY cr.comb_key
      |),
      |wcount AS (
      |  SELECT u.comb_key, count(*) AS n_queries
      |  FROM customer c JOIN ucomb u ON u.user_id = c.c_custkey
      |  WHERE c.c_custkey <= 20 GROUP BY u.comb_key
      |),
      |scored AS (
      |  SELECT d.comb_key,
      |         round(coalesce(w.n_queries, 0) * d.n_docs / n0.n, 4) AS weight,
      |         d.n_docs, n0.n AS n0
      |  FROM combdocs d LEFT JOIN wcount w USING (comb_key), n0
      |),
      |benef AS (
      |  SELECT *, round(weight * (ln(n0) - ln(n_docs)) / n_docs, 6) AS benefit
      |  FROM scored
      |),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY benefit DESC, comb_key) AS rnk,
      |         sum(n_docs) OVER (ORDER BY benefit DESC, comb_key
      |                           ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM benef
      |),
      |layout AS (
      |  SELECT comb_key, weight, n_docs,
      |         (CASE WHEN benefit > 0 AND cum <= 1.0 * n0
      |               THEN rnk ELSE 0 END)::INT AS partition_id
      |  FROM ranked
      |)""".stripMargin

  /** D19/D20 oracle (r10): the BPE trainer's merge loop unrolled into
    * one CTE group per round. Each round: adjacent-pair explode →
    * count → deterministic argmax (count DESC, left, right — ASCII
    * binary order on both engines), then the greedy NON-OVERLAPPING
    * left-to-right merge applied with window functions instead of
    * recursion: positions matching (a, b) group into maximal
    * consecutive runs (p − row_number over matching positions), the
    * run's even offsets are selected (exactly the classic rule —
    * "aaaa" + (a,a) → ["aa","aa"]), a position is absorbed iff its
    * predecessor was selected, and the word's symbol list reassembles
    * ordered by position. MATERIALIZED per round — DuckDB would
    * otherwise inline each round's CTEs into every later reference and
    * the expansion grows without bound (observed: fd exhaustion from
    * exponentially many parquet re-opens). Validated round-for-round
    * against an independent driver reference before promotion.
    */
  private def bpeRoundCtes(r: Int): String = {
    val prev = s"bw${r - 1}"
    s"""btop_$r AS MATERIALIZED (
       |  SELECT a, b, n FROM (
       |    SELECT syms[i] AS a, syms[i+1] AS b, sum(cnt)::BIGINT AS n
       |    FROM $prev, unnest(range(1, len(syms))) AS bt${r}a(i)
       |    GROUP BY 1, 2)
       |  ORDER BY n DESC, a, b LIMIT 1),
       |bpos_$r AS (
       |  SELECT word, cnt, i AS p, syms[i] AS sym,
       |         (i < len(syms) AND syms[i] = (SELECT a FROM btop_$r)
       |          AND syms[i+1] = (SELECT b FROM btop_$r)) AS m
       |  FROM $prev, unnest(range(1, len(syms)+1)) AS bt${r}b(i)),
       |bsel_$r AS (
       |  SELECT word, cnt, p, sym,
       |         CASE WHEN m THEN (p - min(p) OVER (PARTITION BY word, grp)) % 2 = 0
       |              ELSE false END AS selected
       |  FROM (
       |    SELECT *, CASE WHEN m THEN p - (row_number() OVER
       |      (PARTITION BY word, m ORDER BY p)) END AS grp
       |    FROM bpos_$r)),
       |bw$r AS MATERIALIZED (
       |  SELECT word, any_value(cnt) AS cnt,
       |         list(CASE WHEN selected THEN sym || (SELECT b FROM btop_$r)
       |                   ELSE sym END ORDER BY p) AS syms
       |  FROM (
       |    SELECT word, cnt, p, sym, selected,
       |           coalesce(lag(selected) OVER (PARTITION BY word ORDER BY p), false) AS absorbed
       |    FROM bsel_$r)
       |  WHERE NOT absorbed
       |  GROUP BY word)""".stripMargin
  }

  private def bpeCtes(numMerges: Int): String = {
    val base =
      """bw0 AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS cnt,
        |         list_append(regexp_extract_all(word, '.'), '</w>') AS syms
        |  FROM (SELECT unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS word FROM documents)
        |  GROUP BY word)""".stripMargin
    (base +: (1 to numMerges).map(bpeRoundCtes)).mkString(",\n")
  }

  private val BpeMerges = 24

  private def bpeTrainSql: String = {
    val merges = (1 to BpeMerges).map(r =>
      s"""SELECT ${r - 1} AS rank, a AS "left", b AS "right", n AS pair_count FROM btop_$r""")
      .mkString("\n  UNION ALL ")
    s"WITH ${bpeCtes(BpeMerges)}\nSELECT * FROM (\n  $merges) ORDER BY rank"
  }

  private def bpeEncodeSql: String =
    s"""WITH ${bpeCtes(BpeMerges)},
       |bdocw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text),'[a-z0-9]+')) AS word FROM documents),
       |bdict AS (SELECT word, len(syms)::BIGINT AS word_tokens FROM bw$BpeMerges),
       |bperdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words, sum(word_tokens)::BIGINT AS n_tokens
       |            FROM bdocw JOIN bdict USING (word) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(n_words, 0) AS n_words, coalesce(n_tokens, 0) AS n_tokens,
       |       CASE WHEN coalesce(n_words, 0) > 0
       |            THEN round(n_tokens::DOUBLE / n_words, 4) END AS tokens_per_word
       |FROM documents d LEFT JOIN bperdoc USING (doc_id) ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "text_bpe_train" -> bpeTrainSql,
    "text_bpe_encode" -> bpeEncodeSql,
    "rbac_accessible_docs" ->
      s"""WITH $ur1, $perm
         |SELECT DISTINCT document_id FROM perm JOIN ur USING (role_id)
         |ORDER BY document_id""".stripMargin,
    "rbac_prefilter_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // role-partition pruning is lossless (the user's role directories
    // hold exactly the accessible blocks): shares the prefilter oracle
    "rbac_prefilter_pruned" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "sql_prefilter_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "sql_batch_topk" ->
      """SELECT q.vec_id AS query_id, e.vec_id AS block_id
        |FROM embeddings q, embeddings e
        |WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), e.vec_id) <= 10
        |ORDER BY query_id, block_id""".stripMargin,
    "rbac_postfilter_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv,
         |cand AS (
         |  SELECT e.vec_id, list_distance(e.embedding::DOUBLE[], q.v) AS dist
         |  FROM embeddings e, q
         |  ORDER BY dist, e.vec_id LIMIT 100
         |)
         |SELECT c.vec_id AS block_id, c.vec_id AS document_id
         |FROM cand c JOIN acc ON c.vec_id = acc.document_id
         |ORDER BY c.dist, c.vec_id LIMIT 10""".stripMargin,
    "rbac_rls_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_role_partition_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // the per-user partition holds exactly the accessible set → prefilter oracle
    "rbac_user_partition_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_comb_partition_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv,
         |comb AS (
         |  SELECT document_id, string_agg(role_id, ',' ORDER BY role_id) AS comb_key
         |  FROM perm GROUP BY document_id
         |)
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id, c.comb_key
         |FROM embeddings e
         |JOIN acc ON e.vec_id = acc.document_id
         |JOIN comb c ON c.document_id = e.vec_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_costmodel_layout" ->
      s"""WITH $urAll, $perm, $costLayout
         |SELECT comb_key, weight, n_docs, partition_id
         |FROM layout ORDER BY comb_key""".stripMargin,
    "rbac_dynamic_partition_topk" ->
      s"""WITH $urAll, $ur1, $perm, $acc, $qv, $costLayout,
         |user_pid AS (
         |  SELECT l.partition_id FROM layout l
         |  JOIN ucomb u ON u.comb_key = l.comb_key
         |  WHERE u.user_id = 1
         |),
         |partdocs AS (
         |  SELECT DISTINCT l.partition_id, p.document_id
         |  FROM combroles cr JOIN perm p USING (role_id)
         |  JOIN layout l ON l.comb_key = cr.comb_key
         |),
         |scandocs AS (
         |  SELECT pd.partition_id, pd.document_id
         |  FROM partdocs pd JOIN user_pid up ON pd.partition_id = up.partition_id
         |)
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id, sd.partition_id
         |FROM embeddings e
         |JOIN scandocs sd ON e.vec_id = sd.document_id
         |JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_batch_ground_truth" ->
      s"""WITH $urAll, $perm,
         |ud AS (
         |  SELECT DISTINCT u.user_id, p.document_id
         |  FROM ur_all u JOIN perm p USING (role_id) WHERE u.user_id <= 8
         |),
         |qs AS (SELECT vec_id + 1 AS user_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8)
         |SELECT ud.user_id, e.vec_id AS block_id
         |FROM ud
         |JOIN embeddings e ON e.vec_id = ud.document_id
         |JOIN qs ON qs.user_id = ud.user_id
         |QUALIFY row_number() OVER (
         |  PARTITION BY ud.user_id
         |  ORDER BY list_distance(e.embedding::DOUBLE[], qs.v), e.vec_id) <= 5
         |ORDER BY ud.user_id, block_id""".stripMargin,
    "rbac_space_report" ->
      s"""WITH $urAll, $perm, $costLayout
         |SELECT 'base' AS layout, count(*)::BIGINT AS n_rows,
         |       (count(*) * 272)::BIGINT AS est_bytes FROM embeddings
         |UNION ALL
         |SELECT 'comb_partition', count(*)::BIGINT, (count(*) * 272)::BIGINT
         |FROM (SELECT DISTINCT document_id FROM perm)
         |UNION ALL
         |SELECT 'role_partition', count(*)::BIGINT, (count(*) * 272)::BIGINT
         |FROM embeddings e JOIN perm p ON e.vec_id = p.document_id
         |UNION ALL
         |SELECT 'user_partition', count(*)::BIGINT, (count(*) * 272)::BIGINT
         |FROM (SELECT DISTINCT u.user_id, p.document_id
         |      FROM ur_all u JOIN perm p USING (role_id) WHERE u.user_id <= 32) x
         |JOIN embeddings e ON x.document_id = e.vec_id
         |UNION ALL
         |SELECT 'costmodel_partition', count(*)::BIGINT, (count(*) * 272)::BIGINT
         |FROM (SELECT DISTINCT l.partition_id, p.document_id
         |      FROM combroles cr JOIN perm p USING (role_id)
         |      JOIN layout l ON l.comb_key = cr.comb_key)
         |ORDER BY layout""".stripMargin,
    "rbac_recall_report" ->
      s"""WITH $urAll, $perm,
         |ud AS (
         |  SELECT DISTINCT u.user_id, p.document_id
         |  FROM ur_all u JOIN perm p USING (role_id) WHERE u.user_id <= 8
         |),
         |qs AS (SELECT vec_id + 1 AS user_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 8),
         |exact AS (
         |  SELECT ud.user_id, e.vec_id AS block_id
         |  FROM ud JOIN embeddings e ON e.vec_id = ud.document_id
         |  JOIN qs ON qs.user_id = ud.user_id
         |  QUALIFY row_number() OVER (
         |    PARTITION BY ud.user_id
         |    ORDER BY list_distance(e.embedding::DOUBLE[], qs.v), e.vec_id) <= 5
         |),
         |cand AS (
         |  SELECT qs.user_id, e.vec_id,
         |         row_number() OVER (
         |           PARTITION BY qs.user_id
         |           ORDER BY list_distance(e.embedding::DOUBLE[], qs.v), e.vec_id) AS rank
         |  FROM embeddings e, qs
         |  QUALIFY rank <= 50
         |),
         |approx AS (
         |  SELECT c.user_id, c.vec_id
         |  FROM cand c JOIN ud ON c.user_id = ud.user_id AND c.vec_id = ud.document_id
         |  QUALIFY row_number() OVER (PARTITION BY c.user_id ORDER BY c.rank) <= 5
         |)
         |SELECT x.user_id, round(count(a.vec_id)::DOUBLE / 5, 4) AS recall
         |FROM exact x LEFT JOIN approx a
         |  ON x.user_id = a.user_id AND x.block_id = a.vec_id
         |GROUP BY x.user_id ORDER BY x.user_id""".stripMargin,
    "rbac_delete_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |WHERE e.vec_id % 17 <> 0
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_partition_refine" ->
      s"""WITH $perm,
         |comb AS (
         |  SELECT document_id, string_agg(role_id, ',' ORDER BY role_id) AS comb_key
         |  FROM perm GROUP BY document_id
         |),
         |layout AS (
         |  SELECT document_id,
         |         ord(substr(md5(comb_key), 1, 1)) % 8 AS partition_id,
         |         ord(substr(md5(comb_key), 2, 1)) % 4 AS sub_id
         |  FROM comb
         |),
         |wl AS (
         |  SELECT e.vec_id, l.partition_id, l.sub_id,
         |         count(*) OVER (PARTITION BY l.partition_id) AS load
         |  FROM embeddings e JOIN layout l ON e.vec_id = l.document_id
         |)
         |SELECT CASE WHEN load > 80 THEN partition_id * 100 + sub_id
         |            ELSE partition_id END AS refined_pid,
         |       count(*) AS n_blocks
         |FROM wl GROUP BY refined_pid ORDER BY refined_pid""".stripMargin,
    "rbac_workload_gen" ->
      """SELECT c_custkey AS query_id, c_custkey AS user_id,
        |       (c_custkey * 7) % (SELECT count(*) FROM embeddings) AS vec_id,
        |       10 AS topk
        |FROM customer WHERE c_custkey <= 20 ORDER BY query_id""".stripMargin,
    "rbac_hierarchy_docs" ->
      s"""WITH RECURSIVE $ur7, $perm, $closure, $hacc
         |SELECT document_id FROM hacc ORDER BY document_id""".stripMargin,
    "rbac_hierarchy_topk" ->
      s"""WITH RECURSIVE $ur7, $perm, $closure, $hacc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN hacc ON e.vec_id = hacc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_hierarchy_dag_docs" ->
      s"""WITH RECURSIVE $ur7, $perm, $dagClosure, $dacc
         |SELECT document_id FROM dacc ORDER BY document_id""".stripMargin,
    "rbac_hierarchy_dag_topk" ->
      s"""WITH RECURSIVE $ur7, $perm, $dagClosure, $dacc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN dacc ON e.vec_id = dacc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // the same layout CTE fed the DAG-expanded distribution — the third
    // structurally different input to the greedy model
    "rbac_hierarchy_dag_costmodel" ->
      s"""WITH RECURSIVE $urBase, $dagClosure,
         |ur_all AS (
         |  SELECT DISTINCT u.user_id, c.desc_id AS role_id
         |  FROM ur_base u JOIN dclosure c USING (role_id)
         |), $perm, $costLayout
         |SELECT comb_key, weight, n_docs, partition_id
         |FROM layout ORDER BY comb_key""".stripMargin,
    // A17's layout CTE replayed over the hierarchy-expanded ur_all —
    // the same greedy model fed the second permission distribution
    "rbac_hierarchy_costmodel" ->
      s"""WITH RECURSIVE $urBase, $closure,
         |ur_all AS (
         |  SELECT DISTINCT u.user_id, c.desc_id AS role_id
         |  FROM ur_base u JOIN closure c USING (role_id)
         |), $perm, $costLayout
         |SELECT comb_key, weight, n_docs, partition_id
         |FROM layout ORDER BY comb_key""".stripMargin,
    "rbac_hierarchy_selectivity" ->
      s"""WITH RECURSIVE $urAll, $perm, $closure,
         |hur AS (
         |  SELECT DISTINCT u.user_id, c.desc_id AS role_id
         |  FROM ur_all u JOIN closure c USING (role_id)
         |),
         |uracc AS (
         |  SELECT DISTINCT h.user_id, p.document_id
         |  FROM hur h JOIN perm p USING (role_id)
         |)
         |SELECT a.user_id, count(*)::BIGINT AS accessible_blocks,
         |       round(count(*) / (SELECT count(*) FROM embeddings)::DOUBLE, 4) AS selectivity
         |FROM uracc a JOIN embeddings e ON a.document_id = e.vec_id
         |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "rbac_selectivity_stats" ->
      s"""WITH $urAll, $perm,
         |uracc AS (
         |  SELECT DISTINCT u.user_id, p.document_id
         |  FROM ur_all u JOIN perm p USING (role_id)
         |)
         |SELECT a.user_id,
         |       count(*)::BIGINT AS accessible_blocks,
         |       round(count(*) / (SELECT count(*) FROM embeddings)::DOUBLE, 4) AS selectivity
         |FROM uracc a JOIN embeddings e ON a.document_id = e.vec_id
         |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "rbac_permission_matrix" ->
      s"""WITH $perm
         |SELECT role_id, count(*)::BIGINT AS n_docs,
         |       min(document_id) AS min_doc, max(document_id) AS max_doc
         |FROM perm GROUP BY role_id ORDER BY role_id""".stripMargin,
    "rbac_user_role_stats" ->
      s"""WITH $urAll
         |SELECT role_id, count(*)::BIGINT AS n_users
         |FROM ur_all GROUP BY role_id ORDER BY role_id""".stripMargin,
    "ann_bruteforce_topk" ->
      s"""WITH $qv
         |SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    "ann_bruteforce_l2_topk" ->
      s"""WITH $qv
         |SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B29 (promoted r11): every binary16 value is exactly a float, so
    // the fp16-rounded corpus persists as a sidecar (the quantization
    // is the only non-SQL step) and the ranking replays as the
    // standard double-accumulated L2 top-k over the rounded values —
    // query row included, ID 0 excluded from candidates as the engine
    // does.
    "ann_half_topk" ->
      s"""WITH hv AS (
         |  SELECT vec_id, hvec
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/half_vecs.parquet/*.parquet')),
         |hq AS (SELECT hvec::DOUBLE[] AS v FROM hv WHERE vec_id = 0)
         |SELECT h.vec_id FROM hv h, hq WHERE h.vec_id <> 0
         |ORDER BY list_distance(h.hvec::DOUBLE[], hq.v), h.vec_id
         |LIMIT 10""".stripMargin,
    // B5 (promoted r11): the signature is sign bits of double dot
    // products against the SEEDED hyperplane constants — persisted as
    // a 12-row sidecar, so DuckDB re-derives every signature (same
    // promote-to-double multiply, in-order accumulate as the codegen'd
    // kernel), the multiprobe bucket set (qsig plus all 12 single-bit
    // flips), the bucket scan and the exact cosine re-rank.
    "ann_lsh_search" ->
      s"""WITH hp AS (
         |  SELECT bit, plane
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/lsh_hyperplanes.parquet/*.parquet')),
         |sigs AS MATERIALIZED (
         |  SELECT e.vec_id,
         |         sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
         |               i -> e.embedding[i]::DOUBLE * h.plane[i]::DOUBLE)) > 0
         |             THEN (1 << h.bit) ELSE 0 END)::INT AS sig
         |  FROM embeddings e CROSS JOIN hp h GROUP BY e.vec_id),
         |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0),
         |probes AS (
         |  SELECT qsig AS p FROM qs
         |  UNION SELECT xor(qsig, (1 << b))::INT FROM qs, range(0, ${graft.ann.Lsh.NumBits}) t(b)),
         |$qv
         |SELECT s.vec_id, s.sig
         |FROM sigs s JOIN probes pr ON s.sig = pr.p
         |JOIN embeddings e ON e.vec_id = s.vec_id, q
         |WHERE s.vec_id <> 0
         |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.v) DESC, s.vec_id
         |LIMIT 10""".stripMargin,
    "ann_batch_topk" ->
      """SELECT q.vec_id AS query_id, e.vec_id AS block_id
        |FROM embeddings q, embeddings e
        |WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id
        |  ORDER BY list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), e.vec_id) <= 10
        |ORDER BY query_id, block_id""".stripMargin,
    "hybrid_rrf_topk" ->
      s"""WITH $qv,
         |vc AS (
         |  SELECT e.vec_id AS doc_id,
         |         round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 4) AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> 0
         |  ORDER BY sim DESC, doc_id LIMIT 100
         |),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rank FROM vc),
         |terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |qt AS (SELECT DISTINCT term FROM terms WHERE doc_id = 0),
         |qp AS (SELECT t.doc_id, t.term FROM terms t JOIN qt USING (term)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM qp WHERE doc_id <> 0 GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qp GROUP BY term),
         |mlt AS (
         |  SELECT tf.doc_id,
         |         sum(round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df)
         |             * 10000, 0)::BIGINT) AS mlt
         |  FROM tf JOIN df USING (term) GROUP BY tf.doc_id
         |),
         |tc AS (SELECT doc_id, mlt FROM mlt ORDER BY mlt DESC, doc_id LIMIT 100),
         |tr AS (SELECT doc_id, row_number() OVER (ORDER BY mlt DESC, doc_id) AS text_rank FROM tc)
         |SELECT COALESCE(vr.doc_id, tr.doc_id) AS doc_id, vr.vec_rank, tr.text_rank,
         |       round(COALESCE(1.0/(60 + vr.vec_rank), 0) + COALESCE(1.0/(60 + tr.text_rank), 0), 6) AS rrf
         |FROM vr FULL OUTER JOIN tr ON vr.doc_id = tr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "ann_maxip_topk" ->
      s"""WITH $qv
         |SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
         |ORDER BY list_inner_product(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    "ann_knn_graph" ->
      """SELECT a.vec_id AS src, b.vec_id AS nbr
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY a.vec_id
        |  ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) <= 5
        |ORDER BY src, nbr""".stripMargin,
    // the auto dispatch IS the exact build at every oracle SF
    // (N ≤ 2000 < KnnExactMaxN) — B11's oracle applies verbatim
    "ann_knn_graph_auto" ->
      """SELECT a.vec_id AS src, b.vec_id AS nbr
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY row_number() OVER (
        |  PARTITION BY a.vec_id
        |  ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) <= 5
        |ORDER BY src, nbr""".stripMargin,
    // B27 (promoted r9): GraphX staticPageRank's recurrence — r₀ = 1,
    // rₜ₊₁ = 0.15 + 0.85·Σ rₜ(u)·(1/deg⁺(u)) with msg-less vertices at
    // 0 (outerJoinVertices getOrElse 0.0) — replayed as 10 unrolled
    // rounds over the same exact k=5 graph (every out-degree is k, so
    // the edge weight is the constant 1/5). Ranks round DIRECTLY to
    // 4dp on both sides: cross-engine sum-order noise is ~1e-13, far
    // inside a digit; see Ann.knnCentrality on the double-rounding trap.
    "ann_knn_centrality" -> {
      val rounds = (1 to 10).map { t =>
        s"""r$t AS MATERIALIZED (
           |  SELECT v.vec_id, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS pr
           |  FROM r${t - 1} v LEFT JOIN (
           |    SELECT g.nbr AS vec_id, sum(r.pr * (1.0/5)) AS s
           |    FROM gk5 g JOIN r${t - 1} r ON r.vec_id = g.src GROUP BY 1) m
           |  USING (vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH gk5 AS MATERIALIZED (
         |  SELECT a.vec_id AS src, b.vec_id AS nbr
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id <> b.vec_id
         |  QUALIFY row_number() OVER (
         |    PARTITION BY a.vec_id
         |    ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), b.vec_id) <= 5),
         |r0 AS (SELECT vec_id, 1.0::DOUBLE AS pr FROM embeddings),
         |$rounds
         |SELECT vec_id, round(pr, 4) AS pagerank FROM r10
         |ORDER BY vec_id""".stripMargin
    },
    // B41 (promoted r11): the SAME recurrence over the NN-DESCENT
    // graph, edges from the descent sidecar (the xxhash64 init has no
    // SQL derivation; the recurrence replays exactly given the edges).
    // Weight is 1/out-degree from the ACTUAL edge set (GraphX
    // staticPageRank normalizes by outDegrees) rather than the
    // constant 1/k — NND lists are top-k too, but the replay should
    // not ASSUME the build filled every list.
    "ann_knn_centrality_nnd" -> {
      val rounds = (1 to 10).map { t =>
        s"""r$t AS MATERIALIZED (
           |  SELECT v.vec_id, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS pr
           |  FROM r${t - 1} v LEFT JOIN (
           |    SELECT g.nbr AS vec_id, sum(r.pr * (1.0/d.deg)) AS s
           |    FROM gnnd g JOIN deg d ON d.src = g.src
           |    JOIN r${t - 1} r ON r.vec_id = g.src GROUP BY 1) m
           |  USING (vec_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH gnnd AS MATERIALIZED (
         |  SELECT src, nbr
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/nnd_graph_k5.parquet/*.parquet')),
         |deg AS (SELECT src, count(*)::DOUBLE AS deg FROM gnnd GROUP BY src),
         |r0 AS (SELECT vec_id, 1.0::DOUBLE AS pr FROM embeddings),
         |$rounds
         |SELECT vec_id, round(pr, 4) AS pagerank FROM r10
         |ORDER BY vec_id""".stripMargin
    },
    // B31: the whole fixed-round beam walk is deterministic given the
    // centroid sidecar — seeds, per-round beams, expansions and the
    // final ranking all replay as unrolled CTEs (see graphWalk above).
    "ann_graph_topk" ->
      s"""WITH $graphWalk
         |SELECT query_id, cand_id AS block_id FROM $graphVFinal
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // B38 (r9): the SAME walk at the model-picked beam width — the ef
    // sidecar (Verify writes it from the measured recall curve)
    // parameterizes every round's beam rank, so the oracle value-checks
    // the walk the model actually chose.
    "ann_graph_topk_model" ->
      s"""WITH ${graphWalkCtes("TRUE", s"vec_id < ${graft.ann.GraphSearch.Nq}",
                               ef = s"SELECT ef FROM read_parquet('${graft.Sidecars.DefaultRoot}/graph_ef.parquet/*.parquet')")}
         |SELECT query_id, cand_id AS block_id FROM $graphVFinal
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // B39 (promoted r11): the IDENTICAL walk over the NND graph —
    // edges from the descent sidecar, same symmetrize+cap tail, same
    // medoid seeds and round CTEs. The walk is exact given the edges
    // (the spec's driver replay has asserted this since r9); with the
    // sidecar the oracle now VALUE-checks it too.
    "ann_graph_topk_nnd" ->
      s"""WITH ${medoidCtes("TRUE", "")},
         |${nndGraphCtes("")},
         |${walkRoundCtes(s"vec_id < ${graft.ann.GraphSearch.Nq}", "",
                          graft.ann.GraphSearch.Ef.toString, "gund", "medoid")}
         |SELECT query_id, cand_id AS block_id FROM $graphVFinal
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // B43 (r13): the identical walk over the POLICY-built NAVIGABLE
    // serving graph. The sidecar carries the FINAL undirected edge set
    // (descent short links post-cap ∪ hash long links — the graph IS
    // the index), so the oracle walks it verbatim with no
    // symmetrize/cap replay, at the policy-picked beam width (the
    // one-row nnd_serve sidecar parameterizes every round — B38's
    // convention applied to the knob pair).
    "ann_graph_topk_nnd_model" ->
      s"""WITH ${medoidCtes("TRUE", "")},
         |gundm AS MATERIALIZED (
         |  SELECT src, nbr
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/nnd_graph_model.parquet/*.parquet')),
         |${walkRoundCtes(s"vec_id < ${graft.ann.GraphSearch.Nq}", "",
                          s"SELECT ef FROM read_parquet('${graft.Sidecars.DefaultRoot}/nnd_serve.parquet/*.parquet')",
                          "gundm", "medoid")}
         |SELECT query_id, cand_id AS block_id FROM $graphVFinal
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // B32: ACORN filtered search = the SAME walk relation, permission
    // predicate applied to the result ranking only (traversal blind).
    "rbac_graph_topk" ->
      s"""WITH $ur1, $perm, $acc, $graphWalk
         |SELECT v.cand_id AS block_id, v.cand_id AS document_id
         |FROM $graphVFinal v JOIN acc ON v.cand_id = acc.document_id
         |WHERE v.query_id = 0
         |ORDER BY v.dist, v.cand_id
         |LIMIT 10""".stripMargin,
    // B34: mark-deleted serving — tombstoned nodes (A13's rule) stay
    // in the traversal relation, are excluded from result ranking only.
    "ann_graph_delete_topk" ->
      s"""WITH $graphWalk
         |SELECT query_id, cand_id AS block_id FROM $graphVFinal
         |WHERE cand_id % 17 <> 0
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // B33: incremental insertion — the trailing batch beam-searches the
    // base-prefix graph; each new node links to its walk's top-GraphK.
    "ann_graph_insert" ->
      s"""WITH $graphInsertWalk
         |SELECT src, nbr FROM (
         |  SELECT query_id AS src, cand_id AS nbr,
         |         row_number() OVER (
         |           PARTITION BY query_id ORDER BY dist, cand_id) AS rn
         |  FROM $graphVFinal) WHERE rn <= ${graft.ann.GraphSearch.GraphK}
         |ORDER BY src, nbr""".stripMargin,
    // B33 reciprocal half (r9): hnswlib mutuallyConnectNewElement — the
    // insert walk's top-gk links reversed onto their base neighbors,
    // every touched node's list re-pruned to the 2·gk cap by
    // (distance, nbr). `gund` here IS the base-prefix graph (the
    // insert-walk CTEs build it), so the replay extends the walk with
    // one bounded union + one bounded rank.
    "ann_graph_insert_links" ->
      s"""WITH $graphInsertWalk,
         |links AS (
         |  SELECT query_id AS src, cand_id AS nbr FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (
         |             PARTITION BY query_id ORDER BY dist, cand_id) AS rn
         |    FROM $graphVFinal) WHERE rn <= ${graft.ann.GraphSearch.GraphK}),
         |rev AS (SELECT nbr AS src, src AS nbr FROM links),
         |touched AS (SELECT DISTINCT src FROM rev),
         |cand AS (
         |  SELECT g.src, g.nbr FROM gund g JOIN touched t ON g.src = t.src
         |  UNION ALL
         |  SELECT src, nbr FROM rev)
         |SELECT src, nbr FROM (
         |  SELECT c.src, c.nbr,
         |         row_number() OVER (PARTITION BY c.src
         |           ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), c.nbr) AS rn
         |  FROM cand c
         |  JOIN embeddings a ON a.vec_id = c.src
         |  JOIN embeddings b ON b.vec_id = c.nbr)
         |WHERE rn <= ${2 * graft.ann.GraphSearch.GraphK}
         |ORDER BY src, nbr""".stripMargin,
    // B40 (r9): the maintained index serves — the insert walk's links +
    // the reciprocal re-prune compose into the REPAIRED graph (touched
    // base lists replaced, new nodes' out-links added); a second walk
    // runs over that relation from FULL-corpus medoid seeds, with B34's
    // tombstones excluded from the ranking only. Two walk-round groups
    // (i_ = insert, s_ = serving) plus two medoid groups (i_ = base
    // prefix, f_ = full corpus) coexist via CTE prefixes.
    "ann_graph_upsert_topk" -> {
      val gs = graft.ann.GraphSearch
      s"""WITH ${medoidCtes(s"vec_id < $graphInsertCut", "i_")},
         |${knnGraphCtes(s"vec_id < $graphInsertCut", "i_")},
         |${walkRoundCtes(s"vec_id >= $graphInsertCut", "i_", gs.Ef.toString, "i_gund", "i_medoid")},
         |links AS (
         |  SELECT query_id AS src, cand_id AS nbr FROM (
         |    SELECT query_id, cand_id,
         |           row_number() OVER (
         |             PARTITION BY query_id ORDER BY dist, cand_id) AS rn
         |    FROM i_$graphVFinal) WHERE rn <= ${gs.GraphK}),
         |rev AS (SELECT nbr AS src, src AS nbr FROM links),
         |touched AS (SELECT DISTINCT src FROM rev),
         |repruned AS (
         |  SELECT src, nbr FROM (
         |    SELECT c.src, c.nbr,
         |           row_number() OVER (PARTITION BY c.src
         |             ORDER BY list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), c.nbr) AS rn
         |    FROM (SELECT g.src, g.nbr FROM i_gund g JOIN touched t ON g.src = t.src
         |          UNION ALL
         |          SELECT src, nbr FROM rev) c
         |    JOIN embeddings a ON a.vec_id = c.src
         |    JOIN embeddings b ON b.vec_id = c.nbr)
         |  WHERE rn <= ${2 * gs.GraphK}),
         |repaired AS MATERIALIZED (
         |  SELECT g.src, g.nbr FROM i_gund g
         |  WHERE g.src NOT IN (SELECT src FROM touched)
         |  UNION ALL SELECT src, nbr FROM repruned
         |  UNION ALL SELECT src, nbr FROM links),
         |${medoidCtes("TRUE", "f_")},
         |${walkRoundCtes(s"vec_id < ${gs.Nq}", "s_", gs.Ef.toString, "repaired", "f_medoid")}
         |SELECT query_id, cand_id AS block_id FROM s_$graphVFinal
         |WHERE cand_id % 17 <> 0
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin
    },
    // B35: exact kNN majority-vote classification (ties to the smaller
    // label) — the standard supervised index evaluation.
    "ann_knn_classify" ->
      """WITH qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |            FROM embeddings WHERE vec_id < 8),
        |topk AS (
        |  SELECT q.query_id, e.vec_id
        |  FROM embeddings e, qs q
        |  WHERE e.vec_id <> q.query_id
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q.query_id
        |    ORDER BY list_distance(e.embedding::DOUBLE[], q.qv), e.vec_id) <= 10),
        |v AS (
        |  SELECT t.query_id, l.label, count(*) AS n
        |  FROM topk t JOIN embeddings l USING (vec_id)
        |  GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label, n AS votes FROM v
        |QUALIFY row_number() OVER (
        |  PARTITION BY query_id ORDER BY n DESC, label) = 1
        |ORDER BY query_id""".stripMargin,
    // B37: the same vote over the graph walk's top-10 — classification
    // through the approximate serving index.
    "ann_graph_classify" ->
      s"""WITH $graphWalk,
         |topk AS (
         |  SELECT query_id, cand_id AS vec_id FROM $graphVFinal
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY dist, cand_id) <= 10),
         |v AS (
         |  SELECT t.query_id, l.label, count(*) AS n
         |  FROM topk t JOIN embeddings l USING (vec_id)
         |  GROUP BY 1, 2)
         |SELECT query_id, label AS pred_label, n AS votes FROM v
         |QUALIFY row_number() OVER (
         |  PARTITION BY query_id ORDER BY n DESC, label) = 1
         |ORDER BY query_id""".stripMargin,
    // A21: the reference's serving architecture in graph form — A7's
    // routing CTEs (user comb → partition ids → member docs) feed the
    // walk generator as the BASE predicate; query 0 walks the routed
    // partition's graph; permissions apply at merge (search.py:31).
    "rbac_partition_graph_topk" ->
      s"""WITH $urAll, $ur1, $perm, $acc, $costLayout,
         |user_pid AS (
         |  SELECT l.partition_id FROM layout l
         |  JOIN ucomb u ON u.comb_key = l.comb_key
         |  WHERE u.user_id = 1
         |),
         |partdocs AS (
         |  SELECT DISTINCT l.partition_id, p.document_id
         |  FROM combroles cr JOIN perm p USING (role_id)
         |  JOIN layout l ON l.comb_key = cr.comb_key
         |),
         |scandocs AS MATERIALIZED (
         |  SELECT DISTINCT pd.document_id
         |  FROM partdocs pd JOIN user_pid up ON pd.partition_id = up.partition_id
         |),
         |${graphWalkCtes("vec_id IN (SELECT document_id FROM scandocs)", "vec_id = 0")}
         |SELECT v.cand_id AS block_id, v.cand_id AS document_id
         |FROM $graphVFinal v JOIN acc ON v.cand_id = acc.document_id
         |WHERE v.query_id = 0
         |ORDER BY v.dist, v.cand_id
         |LIMIT 10""".stripMargin,
    // A22 (r14): the policy serving replay — routing, medoid seeding,
    // the walk, and the merge filter replayed in SQL; the sidecar pair
    // carries the FINAL undirected edge set of the routed serving
    // graph (exact-kNN edges at the oracle SFs, descent+nav above the
    // ceiling) plus the measured ef, walked verbatim with no
    // symmetrize/cap replay — B43's convention.
    "rbac_partition_graph_policy_topk" ->
      s"""WITH $urAll, $ur1, $perm, $acc, $costLayout,
         |user_pid AS (
         |  SELECT l.partition_id FROM layout l
         |  JOIN ucomb u ON u.comb_key = l.comb_key
         |  WHERE u.user_id = 1
         |),
         |partdocs AS (
         |  SELECT DISTINCT l.partition_id, p.document_id
         |  FROM combroles cr JOIN perm p USING (role_id)
         |  JOIN layout l ON l.comb_key = cr.comb_key
         |),
         |scandocs AS MATERIALIZED (
         |  SELECT DISTINCT pd.document_id
         |  FROM partdocs pd JOIN user_pid up ON pd.partition_id = up.partition_id
         |),
         |${medoidCtes("vec_id IN (SELECT document_id FROM scandocs)", "")},
         |gundp AS MATERIALIZED (
         |  SELECT src, nbr
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/dynpart_graph.parquet/*.parquet')),
         |${walkRoundCtes(s"vec_id < ${graft.ann.GraphSearch.Nq}", "",
                          s"SELECT ef FROM read_parquet('${graft.Sidecars.DefaultRoot}/dynpart_serve.parquet/*.parquet')",
                          "gundp", "medoid")}
         |SELECT v.query_id, v.cand_id AS block_id
         |FROM $graphVFinal v JOIN acc ON v.cand_id = acc.document_id
         |QUALIFY row_number() OVER (
         |  PARTITION BY v.query_id ORDER BY v.dist, v.cand_id) <= 10
         |ORDER BY query_id, block_id""".stripMargin,
    // A21 sweep (r9): the same routing + walk + merge replay, once per
    // swept user (prefixed CTEs keep the three walks apart) and over
    // the B31-width query batch — the reference's user sweep
    // (test_dynamic_partition.py). Covers the SHARED partition routing
    // (user 1 at the test scales), where the merge-time permission
    // filter actually bites.
    "rbac_partition_graph_sweep" -> {
      val users = graft.ann.GraphSearch.SweepUsers
      val perUser = users.map { u =>
        s"""user_pid_$u AS (
           |  SELECT l.partition_id FROM layout l
           |  JOIN ucomb c ON c.comb_key = l.comb_key
           |  WHERE c.user_id = $u
           |),
           |scandocs_$u AS MATERIALIZED (
           |  SELECT DISTINCT pd.document_id
           |  FROM partdocs pd JOIN user_pid_$u up ON pd.partition_id = up.partition_id
           |),
           |acc_$u AS (
           |  SELECT DISTINCT p.document_id
           |  FROM ur_all a JOIN perm p USING (role_id) WHERE a.user_id = $u
           |),
           |${graphWalkCtes(s"vec_id IN (SELECT document_id FROM scandocs_$u)",
                            s"vec_id < ${graft.ann.GraphSearch.Nq}", p = s"u${u}_")}""".stripMargin
      }.mkString(",\n")
      val branches = users.map { u =>
        s"""SELECT $u::BIGINT AS user_id, v.query_id, v.cand_id AS block_id
           |FROM u${u}_$graphVFinal v JOIN acc_$u ON v.cand_id = acc_$u.document_id
           |QUALIFY row_number() OVER (
           |  PARTITION BY v.query_id ORDER BY v.dist, v.cand_id) <= 10""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $urAll, $perm, $costLayout,
         |partdocs AS (
         |  SELECT DISTINCT l.partition_id, p.document_id
         |  FROM combroles cr JOIN perm p USING (role_id)
         |  JOIN layout l ON l.comb_key = cr.comb_key
         |),
         |$perUser
         |SELECT user_id, query_id, block_id FROM (
         |$branches
         |)
         |ORDER BY user_id, query_id, block_id""".stripMargin
    },
    // B36: per-cell label purity from the replayed assignment — purity
    // in exact integer ten-thousandths (BIGINT // division).
    "ann_cell_label_stats" ->
      s"""WITH cent AS (
         |  SELECT list_id, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
         |dists AS (
         |  SELECT e.vec_id, e.label, c.list_id,
         |         list_sum(list_transform(range(1, len(e.embedding) + 1),
         |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, label, list_id FROM (
         |    SELECT vec_id, label, list_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
         |    FROM dists) WHERE rn = 1),
         |cl AS (
         |  SELECT list_id AS cell, label, count(*) AS n
         |  FROM assign GROUP BY 1, 2),
         |top AS (
         |  SELECT cell, label, n FROM cl
         |  QUALIFY row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) = 1),
         |tot AS (SELECT cell, sum(n)::BIGINT AS n_vectors FROM cl GROUP BY 1)
         |SELECT t.cell::INT AS cell, tt.n_vectors,
         |       t.label AS major_label, t.n AS major_votes,
         |       (t.n * 10000) // tt.n_vectors AS purity_x10000
         |FROM top t JOIN tot tt USING (cell)
         |ORDER BY cell""".stripMargin,
    "events_props_stats" ->
      """SELECT CAST(props->>'$.k' AS BIGINT) // 10 AS k_bucket,
        |       count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,
    "ann_range_search" ->
      s"""WITH $qv
         |SELECT e.vec_id FROM embeddings e, q
         |WHERE e.vec_id <> 0 AND list_distance(e.embedding::DOUBLE[], q.v) < 1.3
         |ORDER BY e.vec_id""".stripMargin,
    // B3: the ASSIGNMENT half of the IVF build is deterministic given
    // the fitted centroids, which Verify persists as a sidecar table
    // (IvfIndex.centroidFrame) — the oracle replays the argmin
    // independently: double subtract-square-accumulate in index order,
    // ties to the smallest list id (NearestCentroid's `s < best`).
    // The KMeans fit itself stays spec-covered (recall specs) — this
    // row proves the index CONTENTS match the model, not the model.
    "ann_ivf_build" ->
      s"""WITH cent AS (
        |  SELECT list_id, centroid
        |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
        |dists AS (
        |  SELECT e.vec_id, c.list_id,
        |         list_sum(list_transform(range(1, len(e.embedding) + 1),
        |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
        |  FROM embeddings e CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, list_id,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
        |  FROM dists)
        |SELECT list_id::INT AS list_id, count(*)::BIGINT AS n_vectors
        |FROM assign WHERE rn = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // B15: the code-usage histogram is deterministic given the trained
    // codebook — the oracle replays subspace-0 encoding from the
    // sidecar, mirroring PqEncode's FLOAT accumulation ulp-for-ulp:
    // float subtract, float square, ordered float accumulate (emulated
    // with per-step ::REAL round-backs inside list_reduce), argmin
    // ties to the smaller code (strict `<`).
    "ann_pq_build" ->
      s"""WITH cent AS (
        |  SELECT code, centroid
        |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/pq_codebook.parquet/*.parquet')
        |  WHERE sub = 0),
        |dd AS (
        |  SELECT e.vec_id, c.code,
        |         list_reduce(
        |           list_transform(range(1, 9),
        |             i -> (((e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE)::REAL)::DOUBLE
        |                   * ((e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE)::REAL)::DOUBLE)::REAL),
        |           (a, b) -> ((a::DOUBLE + b::DOUBLE)::REAL)) AS acc
        |  FROM embeddings e CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, code FROM (
        |    SELECT vec_id, code, row_number() OVER (PARTITION BY vec_id ORDER BY acc, code) AS rn
        |    FROM dd) WHERE rn = 1)
        |SELECT code::INT AS code0, count(*)::BIGINT AS n
        |FROM assign GROUP BY 1 ORDER BY 1""".stripMargin,
    // B30: OPQ build — the B15 encode replay composed with the B25
    // rotation replay: rotate every vector through the permuted float
    // component rows (double dot, float offset, REAL round-back), then
    // PqEncode's float chain against the rotated-space subspace-0
    // codebook. The eigenvalue-balanced ALLOCATION choice stays
    // spec-territory (OpqSpec), like the k-means fits — the oracle
    // replays everything downstream of the emitted constants.
    "ann_opq_build" ->
      s"""WITH $opqGa,
        |cent AS (
        |  SELECT code, centroid
        |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/opq_codebook.parquet/*.parquet')
        |  WHERE sub = 0),
        |pv AS (
        |  SELECT e.vec_id, ${opqProj("e.embedding")} AS proj
        |  FROM embeddings e, ga),
        |dd AS (
        |  SELECT pv.vec_id, c.code,
        |         list_reduce(
        |           list_transform(range(1, 9),
        |             i -> (((pv.proj[i]::DOUBLE - c.centroid[i]::DOUBLE)::REAL)::DOUBLE
        |                   * ((pv.proj[i]::DOUBLE - c.centroid[i]::DOUBLE)::REAL)::DOUBLE)::REAL),
        |           (a, b) -> ((a::DOUBLE + b::DOUBLE)::REAL)) AS acc
        |  FROM pv CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, code FROM (
        |    SELECT vec_id, code, row_number() OVER (PARTITION BY vec_id ORDER BY acc, code) AS rn
        |    FROM dd) WHERE rn = 1)
        |SELECT code::INT AS code0, count(*)::BIGINT AS n
        |FROM assign GROUP BY 1 ORDER BY 1""".stripMargin,
    // B30 serving: the B16 ADC replay in rotated space — corpus AND
    // query pushed through the same rotation emulation (their floats
    // match the engine's plan constants bit-for-bit), per-subspace
    // encode, ADC table between rotated query and rotated-space
    // codebook, double-accumulated ADC sum, shortlist-50, exact L2
    // re-rank in ORIGINAL space.
    "ann_opq_search" ->
      s"""WITH $qv,
        |$opqGa,
        |cb AS (
        |  SELECT sub, code, centroid
        |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/opq_codebook.parquet/*.parquet')),
        |qe0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pv AS (
        |  SELECT e.vec_id, ${opqProj("e.embedding")} AS proj
        |  FROM embeddings e, ga
        |  WHERE e.vec_id <> 0),
        |qf AS (SELECT ${opqProj("qe0.qe")} AS qe FROM qe0, ga),
        |ed AS (
        |  SELECT pv.vec_id, cb.sub, cb.code,
        |         ${pqDist("pv.proj")} AS dd
        |  FROM pv CROSS JOIN cb),
        |$pqAdcTail,
        |short AS (SELECT vec_id FROM pqd ORDER BY adc, vec_id LIMIT 50)
        |SELECT e.vec_id
        |FROM embeddings e JOIN short USING (vec_id), q
        |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
        |LIMIT 10""".stripMargin,
    // B4: with the fitted centroids in hand the WHOLE probe search is
    // deterministic — probe pick (nprobe nearest centroids to q, ties
    // to the smaller list id, exactly probeLists' sort), assignment
    // replay, scan restricted to the probed cells, exact top-k inside
    // them. The oracle returns what a lossless IVF run must: the probe
    // subset's true top-10. Recall vs the unpartitioned answer stays
    // spec-territory (it depends on the KMeans fit, not on the scan).
    "ann_ivf_search" ->
      s"""WITH cent AS (
         |  SELECT list_id, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
         |$qv,
         |cd AS (
         |  SELECT c.list_id,
         |         list_sum(list_transform(range(1, len(q.v) + 1),
         |           i -> (q.v[i] - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM cent c, q),
         |probes AS (SELECT list_id FROM cd ORDER BY d, list_id LIMIT 4),
         |dists AS (
         |  SELECT e.vec_id, c.list_id,
         |         list_sum(list_transform(range(1, len(e.embedding) + 1),
         |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, list_id,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
         |  FROM dists)
         |SELECT e.vec_id, a.list_id::INT AS list_id
         |FROM embeddings e
         |JOIN (SELECT vec_id, list_id FROM assign WHERE rn = 1) a USING (vec_id)
         |JOIN probes p USING (list_id), q
         |WHERE e.vec_id <> 0
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B21 build: per-role assignment counts replayed from the grouped
    // centroid sidecar — sqrt'ed distance exactly as GroupedKMeans
    // .assign's l2_dist, ties to the smaller cid (min(struct(d, cid))).
    "rbac_partition_index_build" ->
      s"""WITH $perm,
         |cent AS (
         |  SELECT "group" AS grp, cid, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/role_centroids_k4.parquet/*.parquet')),
         |pts AS (
         |  SELECT p.role_id AS grp, e.vec_id AS id, e.embedding AS vec
         |  FROM embeddings e JOIN perm p ON p.document_id = e.vec_id),
         |d AS (
         |  SELECT pt.grp, pt.id, c.cid,
         |         sqrt(list_sum(list_transform(range(1, len(pt.vec) + 1),
         |           i -> (pt.vec[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2))) AS d
         |  FROM pts pt JOIN cent c ON c.grp = pt.grp),
         |a AS (
         |  SELECT grp, id, cid,
         |         row_number() OVER (PARTITION BY grp, id ORDER BY d, cid) AS rn
         |  FROM d)
         |SELECT grp AS partition_role, cid AS cell, count(*)::BIGINT AS n_vectors
         |FROM a WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // B21 serving: per-role probe pick (nprobe=2 nearest of the role's
    // own cells, squared-distance order with cid ties — the driver
    // pick verbatim), routed scan of the probed cells, block dedup
    // across the user's role partitions by min distance, exact top-10.
    "rbac_partition_ivf_topk" ->
      s"""WITH $ur1, $perm, $qv,
         |cent AS (
         |  SELECT "group" AS grp, cid, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/role_centroids_k4.parquet/*.parquet')),
         |upts AS (
         |  SELECT p.role_id AS grp, e.vec_id AS id, e.embedding AS vec
         |  FROM embeddings e
         |  JOIN perm p ON p.document_id = e.vec_id
         |  JOIN ur ON ur.role_id = p.role_id),
         |cdq AS (
         |  SELECT c.grp, c.cid,
         |         list_sum(list_transform(range(1, len(q.v) + 1),
         |           i -> (q.v[i] - c.centroid[i]::DOUBLE) ^ 2)) AS d2
         |  FROM cent c JOIN ur ON ur.role_id = c.grp, q),
         |probed AS (
         |  SELECT grp, cid FROM (
         |    SELECT grp, cid, row_number() OVER (PARTITION BY grp ORDER BY d2, cid) AS rn
         |    FROM cdq) WHERE rn <= 2),
         |d AS (
         |  SELECT pt.grp, pt.id, c.cid, pt.vec,
         |         sqrt(list_sum(list_transform(range(1, len(pt.vec) + 1),
         |           i -> (pt.vec[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2))) AS d
         |  FROM upts pt JOIN cent c ON c.grp = pt.grp),
         |a AS (
         |  SELECT grp, id, cid, vec,
         |         row_number() OVER (PARTITION BY grp, id ORDER BY d, cid) AS rn
         |  FROM d)
         |SELECT id AS block_id FROM (
         |  SELECT a.id, min(list_distance(a.vec::DOUBLE[], q.v)) AS qd
         |  FROM a JOIN probed pr ON pr.grp = a.grp AND pr.cid = a.cid, q
         |  WHERE a.rn = 1
         |  GROUP BY a.id)
         |ORDER BY qd, id LIMIT 10""".stripMargin,
    // B12: the predicate-aware probe escalation is deterministic given
    // the centroids — replay the whole decision procedure: rank lists
    // by centroid distance to q, count ACCESSIBLE candidates per list
    // (user 1's permission set), take the shortest probe prefix ≥ 2
    // whose cumulative accessible pool can fill top-10 (else all 16 —
    // predicateAwareSearch's while loop verbatim), then exact top-10
    // over accessible vectors in the chosen cells. No qid exclusion:
    // the operator keeps the query row if it is accessible.
    "ann_predicate_probe" ->
      s"""WITH $ur1, $perm, $acc, $qv,
         |cent AS (
         |  SELECT list_id, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k16.parquet/*.parquet')),
         |cd AS (
         |  SELECT c.list_id,
         |         list_sum(list_transform(range(1, len(q.v) + 1),
         |           i -> (q.v[i] - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM cent c, q),
         |ranked AS (SELECT list_id, row_number() OVER (ORDER BY d, list_id) AS rnk FROM cd),
         |dists AS (
         |  SELECT e.vec_id, c.list_id,
         |         list_sum(list_transform(range(1, len(e.embedding) + 1),
         |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT vec_id, list_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
         |    FROM dists) WHERE rn = 1),
         |accn AS (
         |  SELECT a.list_id, count(*)::BIGINT AS n_acc
         |  FROM assign a JOIN acc ON a.vec_id = acc.document_id GROUP BY 1),
         |cum AS (
         |  SELECT r.rnk, sum(coalesce(n.n_acc, 0)) OVER (ORDER BY r.rnk) AS pool
         |  FROM ranked r LEFT JOIN accn n USING (list_id)),
         |p AS (SELECT coalesce((SELECT min(rnk) FROM cum WHERE rnk >= 2 AND pool >= 10), 16) AS probes),
         |chosen AS (SELECT list_id FROM ranked, p WHERE rnk <= p.probes)
         |SELECT e.vec_id, a.list_id::INT AS list_id
         |FROM embeddings e
         |JOIN assign a USING (vec_id)
         |JOIN chosen USING (list_id)
         |JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B9: same centroid-sidecar replay at k=8, crossed with the exact
    // granting-role-set signature arithmetic (comb_key).
    "qdtree_partition_assign" ->
      s"""WITH $perm,
         |comb AS (
         |  SELECT document_id, string_agg(role_id, ',' ORDER BY role_id) AS comb_key
         |  FROM perm GROUP BY 1),
         |cent AS (
         |  SELECT list_id, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k8.parquet/*.parquet')),
         |dists AS (
         |  SELECT e.vec_id, c.list_id,
         |         list_sum(list_transform(range(1, len(e.embedding) + 1),
         |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, list_id,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
         |  FROM dists)
         |SELECT a.list_id::INT AS list_id, cb.comb_key, count(*)::BIGINT AS n_blocks
         |FROM assign a JOIN comb cb ON cb.document_id = a.vec_id
         |WHERE a.rn = 1
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // B19 build: the greedy tree's CONTENTS are deterministic given
    // its chosen splits, which Verify persists as a sidecar — the
    // oracle re-derives every (comb, cell) group (signature arithmetic
    // + k=8 assignment replay) and re-routes it through the split
    // table with a recursive descent (role-membership / cell-equality
    // predicates, left = 2n+1), then checks the per-leaf group and
    // block counts. The greedy CHOICE stays spec-territory
    // (QdTreeGreedySpec), same stance as the k-means fits.
    "qdtree_greedy_build" ->
      s"""WITH RECURSIVE $perm,
         |dr AS (
         |  SELECT document_id,
         |         array_agg(role_id ORDER BY role_id) AS roles,
         |         string_agg(role_id, ',' ORDER BY role_id) AS comb_key
         |  FROM perm GROUP BY 1),
         |cent AS (
         |  SELECT list_id, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_centroids_k8.parquet/*.parquet')),
         |ivfd AS (
         |  SELECT e.vec_id, c.list_id,
         |         list_sum(list_transform(range(1, len(e.embedding) + 1),
         |           i -> (e.embedding[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |assign AS (
         |  SELECT vec_id, list_id FROM (
         |    SELECT vec_id, list_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
         |    FROM ivfd) WHERE rn = 1),
         |g AS (
         |  SELECT d.comb_key, any_value(d.roles) AS roles, a.list_id AS cell,
         |         count(*)::BIGINT AS n_blocks
         |  FROM dr d JOIN assign a ON a.vec_id = d.document_id
         |  GROUP BY d.comb_key, a.list_id),
         |sp AS (SELECT node, ptype, pval
         |       FROM read_parquet('${graft.Sidecars.DefaultRoot}/qdtree_splits.parquet/*.parquet')),
         |route AS (
         |  SELECT comb_key, roles, cell, n_blocks, 0::BIGINT AS node FROM g
         |  UNION ALL
         |  SELECT r.comb_key, r.roles, r.cell, r.n_blocks,
         |         CASE WHEN (CASE WHEN s.ptype = 0 THEN list_contains(r.roles, s.pval)
         |                         ELSE r.cell = s.pval END)
         |              THEN r.node * 2 + 1 ELSE r.node * 2 + 2 END
         |  FROM route r JOIN sp s ON s.node = r.node)
         |SELECT node AS leaf_id, count(*)::BIGINT AS n_groups,
         |       sum(n_blocks)::BIGINT AS n_blocks
         |FROM route r
         |WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.node = r.node)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // signature routing is lossless: same oracle as prefilter (SURVEY §2 B10)
    "qdtree_routed_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // greedy-tree leaf routing + in-scan permission filter is equally
    // lossless: same oracle as prefilter (SURVEY §2 B19)
    "qdtree_greedy_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv
         |SELECT e.vec_id AS block_id, e.vec_id AS document_id
         |FROM embeddings e JOIN acc ON e.vec_id = acc.document_id, q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // triangle pruning is lossless: same oracle as the brute-force range scan
    "ann_range_triangle" ->
      s"""WITH $qv
         |SELECT e.vec_id FROM embeddings e, q
         |WHERE e.vec_id <> 0 AND list_distance(e.embedding::DOUBLE[], q.v) < 1.3
         |ORDER BY e.vec_id""".stripMargin,
    "vector_norms" ->
      s"""WITH $qv
         |SELECT e.vec_id,
         |       round(sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 4) AS norm,
         |       round(list_inner_product(e.embedding::DOUBLE[], q.v), 4) AS dot_q
         |FROM embeddings e, q WHERE e.vec_id < 100
         |ORDER BY e.vec_id""".stripMargin,
    // C3 (promoted r11): the 64-bit sketch is xxhash64-derived, so the
    // per-doc signatures persist as a sidecar and the pair search
    // replays as the plain quadratic hamming filter — which EQUALS the
    // engine's banded join (hamming <= 3 over 4x16 bands leaves >= 1
    // band identical by pigeonhole; the banding is lossless).
    "dedup_simhash" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, sig
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/simhash_sigs.parquet/*.parquet'))
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |       bit_count(xor(a.sig, b.sig))::INT AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc1, doc2""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, md5(text) AS h,
        |       count(*) OVER (PARTITION BY md5(text)) AS n_dups,
        |       min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM w WHERE len(ws) >= 3
        |)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |       round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) >= 0.8
        |ORDER BY doc1, doc2""".stripMargin,
    // C10 SemDeDup: with the unit-sphere centroids in the sidecar the
    // whole pass is deterministic. The replay mirrors the kernels
    // ulp-for-ulp: vec_normalize = double inverse-norm times each
    // float element, rounded back to REAL; assignment = double
    // subtract-square-accumulate in index order, ties to the smaller
    // cell; 4dp-rounded cosines; the paper's keep-the-outlier rule
    // with (centroid_sim, vec_id) tie-break.
    "dedup_semantic" ->
      s"""WITH cent AS (
        |  SELECT list_id AS cell, centroid
        |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/ivf_unit_centroids_k8.parquet/*.parquet')),
        |nv AS (
        |  SELECT vec_id, embedding,
        |         list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)) AS s2
        |  FROM embeddings),
        |un AS (
        |  SELECT vec_id, embedding,
        |         CASE WHEN s2 = 0 THEN list_transform(embedding, x -> 0.0::REAL)
        |              ELSE list_transform(embedding, x -> (x::DOUBLE * (1.0 / sqrt(s2)))::REAL)
        |         END AS u
        |  FROM nv),
        |ad AS (
        |  SELECT n.vec_id, c.cell,
        |         list_sum(list_transform(range(1, len(n.u) + 1),
        |           i -> (n.u[i]::DOUBLE - c.centroid[i]::DOUBLE) ^ 2)) AS d
        |  FROM un n CROSS JOIN cent c),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        |    FROM ad) WHERE rn = 1),
        |att AS (
        |  SELECT e.vec_id, e.embedding, a.cell,
        |         round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]), 4) AS centroid_sim
        |  FROM embeddings e JOIN assign a USING (vec_id) JOIN cent c USING (cell)),
        |losers AS (
        |  SELECT a.cell,
        |         CASE WHEN a.centroid_sim > b.centroid_sim
        |                OR (a.centroid_sim = b.centroid_sim AND a.vec_id > b.vec_id)
        |              THEN a.vec_id ELSE b.vec_id END AS vec_id,
        |         CASE WHEN a.centroid_sim > b.centroid_sim
        |                OR (a.centroid_sim = b.centroid_sim AND a.vec_id > b.vec_id)
        |              THEN a.centroid_sim ELSE b.centroid_sim END AS centroid_sim
        |  FROM att a JOIN att b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45)
        |SELECT vec_id, cell, centroid_sim, count(*)::BIGINT AS n_dups
        |FROM losers GROUP BY 1, 2, 3 ORDER BY vec_id""".stripMargin,
    // C6: connected components over C2's verified pair set — the pair
    // derivation is the C2 oracle verbatim; the component labels come
    // from a recursive reachability closure (min reachable doc id ==
    // GraphX connectedComponents' vertex value). Vertices are exactly
    // the docs appearing in ≥1 pair, as in Graph.fromEdgeTuples.
    "dedup_clusters" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
        |  FROM w WHERE len(ws) >= 3
        |),
        |pairs AS (
        |  SELECT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE round(len(list_intersect(a.s, b.s))::DOUBLE / len(list_distinct(a.s || b.s)), 4) >= 0.8),
        |edges AS (SELECT doc1 AS a, doc2 AS b FROM pairs
        |          UNION SELECT doc2, doc1 FROM pairs),
        |reach AS (
        |  SELECT a AS doc_id, a AS r FROM edges
        |  UNION
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT re.doc_id, e.b FROM reach re JOIN edges e ON re.r = e.a)
        |SELECT doc_id, min(r)::BIGINT AS cluster_rep
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(text) - 3, 2)),
        |           i -> substr(text, i, 5))) AS gs
        |  FROM documents
        |)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |       round(len(list_intersect(a.gs, b.gs))::DOUBLE / len(list_distinct(a.gs || b.gs)), 4) AS jaccard
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.gs, b.gs))::DOUBLE / len(list_distinct(a.gs || b.gs)), 4) >= 0.8
        |ORDER BY doc1, doc2""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS vec1, b.vec_id AS vec2,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45
        |ORDER BY vec1, vec2""".stripMargin,
    // the auto dispatch takes the exact branch at every oracle SF
    // (candidate estimate ≪ the 10⁹ budget) — C5's oracle verbatim
    "dedup_embedding_auto" ->
      """SELECT a.vec_id AS vec1, b.vec_id AS vec2,
        |       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45
        |ORDER BY vec1, vec2""".stripMargin,
    "text_lang_id" ->
      """SELECT lang,
        |  CASE WHEN contains(' ' || text || ' ', ' the ') THEN 'en'
        |       WHEN contains(' ' || text || ' ', ' der ') OR contains(' ' || text || ' ', ' die ') THEN 'de'
        |       WHEN contains(' ' || text || ' ', ' le ') OR contains(' ' || text || ' ', ' les ') THEN 'fr'
        |       WHEN contains(' ' || text || ' ', ' el ') OR contains(' ' || text || ' ', ' los ') THEN 'es'
        |       ELSE 'und' END AS guess,
        |  count(*) AS n
        |FROM documents GROUP BY lang, guess ORDER BY lang, guess""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  length(text)::BIGINT AS n_chars_m,
        |  len(string_split(text, ' '))::BIGINT AS n_words,
        |  round(length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' ')), 4) AS avg_word_len,
        |  round(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
        |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
        |  round(ln(len(string_split(text, ' '))::DOUBLE + 1)
        |        * (1 - round(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))::DOUBLE
        |                     / len(string_split(text, ' ')), 4)), 4) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |       len(string_split(text, ' '))::BIGINT AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // concat-and-chunk packing: running token sum in doc_id order; the
    // Spark side computes it as a distributed prefix sum, the oracle as
    // a plain window — bucketing must not change the answer
    "text_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tokens,
        |         (sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |          - n_tokens)::BIGINT AS tok_start
        |  FROM t
        |)
        |SELECT doc_id, n_tokens,
        |       (tok_start // 512)::BIGINT AS window_id,
        |       (tok_start % 512)::BIGINT AS tok_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_train_split" ->
      """SELECT doc_id,
        |       CASE WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 90
        |            THEN 'train' ELSE 'val' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // D6 (promoted r11): xxhash64 lives only in the token→bucket
    // dictionary, persisted as a sidecar; the featurize — tokenize,
    // dictionary join, per-doc bucket counts, the weight quotient —
    // replays in SQL (same space-split as the tfidf oracle).
    "text_hash_embedding" ->
      s"""WITH dict AS (
         |  SELECT token, bucket
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/hash_buckets.parquet/*.parquet')),
         |toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS n_tokens,
         |         unnest(string_split(text, ' ')) AS token
         |  FROM documents)
         |SELECT t.doc_id, d.bucket,
         |       round(count(*) / t.n_tokens, 4) AS weight
         |FROM toks t JOIN dict d USING (token)
         |GROUP BY t.doc_id, d.bucket, t.n_tokens
         |ORDER BY doc_id, bucket""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |              (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
        |), w AS (
        |  SELECT tf.doc_id, tf.term,
        |         round(tf.tf * ln((SELECT count(*) FROM documents)::DOUBLE / df.df), 4) AS weight
        |  FROM tf JOIN df USING (term)
        |)
        |SELECT doc_id,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rnk,
        |       term, weight
        |FROM w
        |QUALIFY rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "text_ngram_stats" ->
      """WITH b AS (
        |  SELECT unnest(list_distinct(list_transform(range(1, len(ws)),
        |           i -> ws[i] || ' ' || ws[i+1]))) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents) WHERE len(ws) >= 2
        |)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_volume" ->
      """SELECT n.n_name,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_top_suppliers" ->
      """WITH rev AS (
        |  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |  FROM lineitem GROUP BY l_suppkey
        |)
        |SELECT s.s_nationkey, s.s_suppkey, s.s_name, r.revenue,
        |       rank() OVER (PARTITION BY s.s_nationkey
        |                    ORDER BY r.revenue DESC, s.s_suppkey) AS rank_in_nation
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |QUALIFY rank_in_nation <= 3
        |ORDER BY s_nationkey, rank_in_nation, s_suppkey""".stripMargin,
    "q_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "events_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
        |         lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), y AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM x
        |), z AS (
        |  SELECT user_id, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        |  FROM y
        |)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |       round(sum(value), 4) AS sum_value
        |FROM z GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l.l_shipdate) AS l_year,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name AND year(l.l_shipdate) = 1997
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q10_returned_items" ->
      """SELECT c.c_custkey, c.c_name,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_priority_shipping" ->
      """SELECT l.l_linestatus,
        |       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY l.l_linestatus ORDER BY l.l_linestatus""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(
        |  sum(CASE WHEN p.p_type = 'PROMO'
        |           THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) * 100.0 /
        |  sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
        |       AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
        |       AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "events_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_revenue_rollup" ->
      """SELECT c.c_nationkey, c.c_mktsegment,
        |       round(sum(o.o_totalprice), 4) AS total, count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY ROLLUP (c.c_nationkey, c.c_mktsegment)
        |ORDER BY c_nationkey ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,
    "events_window_agg" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |       round(sum(CASE WHEN ns.n_name = 'NATION_3'
        |                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |JOIN region r ON nc.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_profit_by_nation" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        |       round(sum(l_extendedprice * (1 - l_discount)
        |                 - p_retailprice * l_quantity * 0.1), 4) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1
        |) GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS s_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s_name, total_revenue
        |FROM supplier s JOIN rev USING (s_suppkey)
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "q2_min_cost_supplier" ->
      s"""WITH $psCte,
         |rs AS (
         |  SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_regionkey = 1
         |),
         |pr AS (
         |  SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
         |  FROM ps JOIN rs ON ps_suppkey = s_suppkey
         |),
         |mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost FROM pr GROUP BY 1)
         |SELECT pr.s_acctbal, pr.s_name, pr.n_name, p.p_partkey, p.p_brand, pr.ps_supplycost
         |FROM pr JOIN mc ON pr.ps_partkey = mc.ps_partkey AND pr.ps_supplycost = mc.min_cost
         |JOIN part p ON pr.ps_partkey = p.p_partkey
         |WHERE p.p_type = 'STANDARD'
         |ORDER BY pr.s_acctbal DESC, pr.n_name, pr.s_name, p.p_partkey
         |LIMIT 100""".stripMargin,
    "q11_important_stock" ->
      s"""WITH $psCte,
         |v AS (
         |  SELECT ps_partkey, sum(ps_supplycost * ps_availqty) AS value
         |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
         |  WHERE s_nationkey = 3
         |  GROUP BY ps_partkey)
         |SELECT ps_partkey, round(value, 4) AS value FROM v
         |WHERE value > 0.004 * (SELECT sum(value) FROM v)
         |ORDER BY value DESC, ps_partkey""".stripMargin,
    "q16_parts_supplier" ->
      s"""WITH $psCte
         |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part ON ps_partkey = p_partkey
         |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 15, 22, 30, 44, 49)
         |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q20_potential_promotion" ->
      s"""WITH $psCte,
         |lq AS (
         |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty FROM lineitem
         |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
         |  GROUP BY 1, 2)
         |SELECT DISTINCT s_suppkey, s_name
         |FROM ps
         |JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
         |JOIN lq ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN supplier ON ps_suppkey = s_suppkey
         |WHERE ps_availqty > 0.5 * qty
         |ORDER BY s_suppkey""".stripMargin,
    "q17_small_quantity_revenue" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#12'
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin,
    "q18_large_orders" ->
      """SELECT o.o_custkey, o.o_orderkey, b.total_qty FROM (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        |) b
        |JOIN orders o ON o.o_orderkey = b.l_orderkey
        |WHERE o.o_custkey IN (SELECT c_custkey FROM customer)
        |ORDER BY o.o_orderkey""".stripMargin,
    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin,
    "q22_dormant_customers" ->
      """WITH ab AS (SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 4) AS totacctbal
        |FROM customer c, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_asof_purchase" ->
      """WITH cand AS (
        |  SELECT e.event_id, p.event_id AS pid,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
        |  FROM events e JOIN events p
        |    ON e.user_id = p.user_id AND p.event_type = 'purchase' AND p.ts < e.ts)
        |SELECT e.event_id, c.pid AS prev_purchase_id
        |FROM events e LEFT JOIN (SELECT event_id, pid FROM cand WHERE rn = 1) c
        |  USING (event_id)
        |ORDER BY e.event_id""".stripMargin,
    "docs_stratified_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY ((doc_id % 1000003) * 2654435761) % 1000000007, doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN c USING (source)
        |WHERE rn <= (n * 20 + 99) // 100 ORDER BY doc_id""".stripMargin,
    "docs_mixture_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE (((doc_id % 1000003) * 2654435761) % 1000000007) % 10000 <
        |      CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500
        |                  WHEN 'src2' THEN 1000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    "events_user_reach" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // E44: heavy hitters — the sketch phase only proposes candidates
    // (Misra-Gries guarantees a superset of everything above
    // total/(m+1) under any merge order); the exact re-count + filter
    // make the output order-independent, so the oracle is the plain
    // frequency threshold
    "events_heavy_hitters" ->
      """WITH t AS (SELECT event_type, count(*) AS total FROM events GROUP BY 1)
        |SELECT e.event_type, e.user_id, count(*) AS n
        |FROM events e JOIN t USING (event_type)
        |GROUP BY e.event_type, e.user_id, t.total
        |HAVING count(*) > t.total / 129.0
        |ORDER BY event_type, n DESC, user_id""".stripMargin,
    // E39: first-touch ordered funnel — each stage's min(ts) must be
    // strictly after the previous stage's; stage reached = 1 + the two
    // completion flags. Timestamp comparisons are raw (no epoch math).
    // The pure-SQL spelling (sql_funnel) shares the same oracle.
    "events_funnel" -> funnelOracle,
    "sql_funnel" -> funnelOracle,
    // C9: duplicated-substring spans — exact 6-word-window replay with
    // the same run-merge window arithmetic (gap > 6 starts a new span).
    // The Spark side pre-filters candidates on xxhash64 but VERIFIES on
    // the literal window text, so the hash never decides a row.
    "dedup_substring" ->
      """WITH wd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws)::BIGINT AS n_words, i - 1 AS pos,
        |             array_to_string(ws[i:i+5], ' ') AS gram
        |      FROM wd, unnest(generate_series(1, len(ws) - 5)) AS t(i)
        |      WHERE len(ws) >= 6),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |m AS (SELECT doc_id, n_words, pos FROM g
        |      WHERE gram IN (SELECT gram FROM shared)),
        |r AS (SELECT doc_id, n_words, pos,
        |             CASE WHEN lag(pos) OVER w IS NULL
        |                    OR pos - lag(pos) OVER w > 6 THEN 1 ELSE 0 END AS newrun
        |      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |rr AS (SELECT doc_id, n_words, pos,
        |              sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos) AS run
        |       FROM r),
        |pr AS (SELECT doc_id, n_words, run, count(*) AS nw,
        |              max(pos) + 6 - min(pos) AS cov
        |       FROM rr GROUP BY 1, 2, 3)
        |SELECT doc_id, sum(nw)::BIGINT AS n_dup_windows,
        |       sum(cov)::BIGINT AS covered_words, n_words,
        |       round(sum(cov)::DOUBLE / n_words, 4) AS coverage
        |FROM pr GROUP BY doc_id, n_words ORDER BY doc_id""".stripMargin,
    // D14: pattern scrub — the patterns are applied in the same order
    // (marker, then email) in both engines; RE2 and Java agree on this
    // regex subset.
    "text_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(?:value|customer)\b'))::BIGINT AS n_marker,
        |  len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  length(regexp_replace(
        |      regexp_replace(text, '\b(?:value|customer)\b', '[X]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[X]', 'g'
        |    ))::BIGINT AS scrubbed_n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // D15: DSIR unigram importance replay — integer micro-nat ratios
    // summed exactly, divided back only in the report (mirrors
    // Sampling.dsirWeights' exactness discipline).
    "docs_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |vocab AS (SELECT w,
        |                 sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
        |                 sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cs
        |          FROM tok GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns, count(*) AS v FROM vocab),
        |ratio AS (SELECT w,
        |                 round((ln((ct + 1)::DOUBLE / (nt + v))
        |                      - ln((cs + 1)::DOUBLE / (ns + v))) * 1e6, 0)::BIGINT AS lr6
        |          FROM vocab, tot)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |       round(sum(lr6)::DOUBLE / 1e6, 4) AS dsir_logratio
        |FROM tok JOIN ratio USING (w)
        |WHERE source <> 'src0'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // D21: bigram-LM scoring — the identical add-1 probability,
    // micro-nat quantization in the BIGRAM-vocab dimension, BIGINT
    // per-doc sum, one divide in the report (the D15 recipe)
    "text_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bi AS (SELECT doc_id,
        |              CASE WHEN i = 1 THEN '<s>' ELSE ws[i - 1] END AS w1,
        |              ws[i] AS w2
        |       FROM d, unnest(generate_series(1, len(ws))) AS t(i)),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
        |uc AS (SELECT w1, sum(cb) AS cu FROM bc GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM bi),
        |mn AS (SELECT w1, w2,
        |              round(ln((cb + 1)::DOUBLE / (cu + v.v)::DOUBLE) * 1e6, 0)::BIGINT AS lp6
        |       FROM bc JOIN uc USING (w1), v),
        |scored AS (SELECT bi.doc_id, count(*)::BIGINT AS n_bigrams,
        |                  round(-sum(lp6)::DOUBLE / 1e6 / count(*), 4) AS nll
        |           FROM bi JOIN mn USING (w1, w2) GROUP BY 1)
        |SELECT dd.doc_id, coalesce(s.n_bigrams, 0)::BIGINT AS n_bigrams, s.nll
        |FROM documents dd LEFT JOIN scored s USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin,
    // E41: Tukey-fence outliers — fences from 4dp-rounded exact
    // quantiles with the identical expression shape as the Spark side,
    // so the comparison doubles are bit-equal (fences deliberately NOT
    // re-rounded: the ·1.5 products land on 4dp half-way ties where
    // the engines' rounding modes disagree).
    "events_outliers" ->
      """WITH q AS (SELECT event_type,
        |                  round(quantile_cont(value, 0.25), 4) AS q1,
        |                  round(quantile_cont(value, 0.75), 4) AS q3
        |           FROM events WHERE value IS NOT NULL GROUP BY 1),
        |b AS (SELECT event_type,
        |             q1 - 1.5 * (q3 - q1) AS lo,
        |             q3 + 1.5 * (q3 - q1) AS hi FROM q)
        |SELECT e.event_id, e.event_type, e.value, b.lo, b.hi,
        |       CASE WHEN e.value < b.lo THEN 'low' ELSE 'high' END AS side
        |FROM events e JOIN b USING (event_type)
        |WHERE e.value IS NOT NULL AND (e.value < b.lo OR e.value > b.hi)
        |ORDER BY e.event_id""".stripMargin,
    // D18 k-center: the greedy farthest-point loop is deterministic
    // (seed = min vec_id, argmax ties to the smaller vec_id, stop on
    // radius 0), so a recursive CTE replays it carrying the selected
    // set as a list — min-distances are exact double comparisons and
    // the radius rounding emulates math.rint's half-even.
    "docs_kcenter" ->
      """WITH RECURSIVE sel(pick, vec_id, radius, ids) AS (
        |  SELECT 0::BIGINT AS pick,
        |         (SELECT min(vec_id) FROM embeddings) AS vec_id,
        |         -1.0::DOUBLE AS radius,
        |         [(SELECT min(vec_id) FROM embeddings)] AS ids
        |  UNION ALL
        |  SELECT s.pick + 1, nxt.vec_id, nxt.d, list_append(s.ids, nxt.vec_id)
        |  FROM sel s, LATERAL (
        |    SELECT t.vec_id, t.d FROM (
        |      SELECT e2.vec_id,
        |             min(list_distance(e2.embedding::DOUBLE[], c.embedding::DOUBLE[])) AS d
        |      FROM embeddings e2 JOIN embeddings c ON list_contains(s.ids, c.vec_id)
        |      GROUP BY e2.vec_id) t
        |    ORDER BY t.d DESC, t.vec_id LIMIT 1) nxt
        |  WHERE s.pick < 15 AND nxt.d > 0
        |)
        |SELECT pick, vec_id,
        |       CASE WHEN radius < 0 THEN -1.0
        |            WHEN radius * 1e4 - floor(radius * 1e4) = 0.5
        |            THEN (CASE WHEN floor(radius * 1e4)::BIGINT % 2 = 0
        |                       THEN floor(radius * 1e4) ELSE floor(radius * 1e4) + 1 END) / 1e4
        |            ELSE round(radius * 1e4) / 1e4 END AS radius
        |FROM sel ORDER BY pick""".stripMargin,
    // D16: seeded deterministic corpus shuffle — the oracle replays the
    // identical md5(doc_id:seed) global ordering.
    "docs_corpus_shuffle" ->
      """SELECT doc_id,
        |       (row_number() OVER (ORDER BY md5(doc_id::VARCHAR || ':42')) - 1)::BIGINT
        |         AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    // H8: CDC upsert — derivation, LWW window, anti-join/union replay.
    "docs_upsert" ->
      """WITH ch AS (
        |  SELECT doc_id, text || ' u1' AS text, lang, source,
        |         1::BIGINT AS version, 'upsert' AS op
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, text || ' u2', lang, source, 2::BIGINT, 'upsert'
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, NULL, lang, source, 3::BIGINT, 'delete'
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, 'ins ' || doc_id::VARCHAR, lang, 'cdc',
        |         1::BIGINT, 'upsert'
        |  FROM documents WHERE doc_id % 11 = 0),
        |latest AS (
        |  SELECT doc_id, text, source, version, op FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY version DESC, op DESC, coalesce(length(text), -1) DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT b.doc_id, b.source, length(b.text)::BIGINT AS n_chars_final,
        |       0::BIGINT AS version
        |FROM documents b WHERE b.doc_id NOT IN (SELECT doc_id FROM latest)
        |UNION ALL
        |SELECT doc_id, source, length(text)::BIGINT, version
        |FROM latest WHERE op <> 'delete'
        |ORDER BY doc_id""".stripMargin,
    // H10: the oracle is the PLAIN aggregate over all orders — passing
    // it proves the incremental state-merge path lands on exactly the
    // rows a full recompute would.
    "q_revenue_incremental" ->
      """SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue,
        |       count(*)::BIGINT AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // E42: dense date spine per type, zero-filled, LAG deltas (null on
    // each type's first day by contract).
    "events_gapfill" ->
      """WITH daily AS (SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events
        |               FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT event_type,
        |                 unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |          FROM span),
        |filled AS (SELECT s.event_type, s.day,
        |                  coalesce(d.n_events, 0)::BIGINT AS n_events
        |           FROM spine s LEFT JOIN daily d USING (event_type, day))
        |SELECT event_type, day, n_events,
        |       (n_events - lag(n_events) OVER
        |          (PARTITION BY event_type ORDER BY day))::BIGINT AS delta
        |FROM filled ORDER BY event_type, day""".stripMargin,
    // D17: the fused training pipeline — quality gate, mixture recipe,
    // exact-dedup canonical pick, decontamination screen, replayed as
    // one SQL chain (each stage is its standalone operator's oracle).
    "docs_training_pipeline" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws, text
        |           FROM documents),
        |canon AS (SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM documents) WHERE doc_id = keep_id),
        |sh AS (SELECT doc_id, source,
        |              list_distinct(list_transform(range(1, len(ws) - 6),
        |                i -> array_to_string(ws[i:i+7], ' '))) AS s
        |       FROM w WHERE len(ws) >= 8),
        |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = 'src0'),
        |cont AS (SELECT DISTINCT doc_id
        |         FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE source <> 'src0') c
        |         JOIN ev USING (g))
        |SELECT doc_id, source, len(ws)::BIGINT AS n_words
        |FROM w
        |WHERE source <> 'src0'
        |  AND len(ws) >= 20
        |  AND (((doc_id % 1000003) * 2654435761) % 1000000007) % 10000 <
        |      CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500
        |                  WHEN 'src2' THEN 1000 ELSE 0 END
        |  AND doc_id IN (SELECT doc_id FROM canon)
        |  AND doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY doc_id""".stripMargin,
    // E43: fixed-bin histogram — identical bin arithmetic shape
    // (floor((v - min) / width), top edge closed into the last bin).
    "events_histogram" ->
      """WITH ev AS (SELECT event_type, value FROM events
        |            WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT event_type, min(value) AS vmin, max(value) AS vmax
        |      FROM ev GROUP BY 1)
        |SELECT e.event_type,
        |       CASE WHEN r.vmax = r.vmin THEN 0
        |            ELSE least(floor((e.value - r.vmin) / ((r.vmax - r.vmin) / 16)), 15)
        |       END::BIGINT AS bin,
        |       count(*)::BIGINT AS n
        |FROM ev e JOIN r USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // E40: cohort retention triangle over event dates.
    "events_retention" ->
      """WITH cohort AS (SELECT user_id, min(ts::DATE) AS cohort_date
        |                FROM events GROUP BY 1)
        |SELECT cohort_date, date_diff('day', cohort_date, e.ts::DATE) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws,
        |                  len(string_split(coalesce(text, ''), ' ')) AS n
        |           FROM documents),
        |s AS (SELECT doc_id, ws, n,
        |             unnest(range(0, greatest(n - 1, 0) + 1, 48)) AS st
        |      FROM w)
        |SELECT doc_id, st // 48 AS chunk_id, st AS tok_start,
        |       array_to_string(ws[st + 1 : least(st + 64, n)], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "events_salted_enrich" ->
      """WITH d AS (SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, round(e.value - d.type_avg, 4) AS dev
        |FROM events e JOIN d USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "q_order_cube" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |       round(sum(o_totalprice), 4) AS total
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "events_user_setops" ->
      """SELECT user_id, 'click_only' AS segment FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |UNION ALL
        |SELECT user_id, 'click_and_buy' FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY segment, user_id""".stripMargin,
    "q_customer_quartiles" ->
      """WITH t AS (SELECT c_nationkey, c_acctbal,
        |                  ntile(4) OVER (PARTITION BY c_nationkey
        |                                 ORDER BY c_acctbal, c_custkey) AS quartile
        |           FROM customer)
        |SELECT c_nationkey, quartile, count(*) AS n,
        |       round(min(c_acctbal), 4) AS lo, round(max(c_acctbal), 4) AS hi
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_error_windows" ->
      """SELECT w.event_id AS window_id, count(*) AS n_events,
        |       round(sum(e.value), 4) AS sum_value
        |FROM events e
        |JOIN (SELECT event_id,
        |             ts::TIMESTAMP - INTERVAL 300 SECOND AS ws,
        |             ts::TIMESTAMP + INTERVAL 300 SECOND AS we
        |      FROM events WHERE event_type = 'error') w
        |  ON e.ts::TIMESTAMP >= w.ws AND e.ts::TIMESTAMP <= w.we
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_type_pivot" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS hour,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_repetition" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS wd, generate_subscripts(w, 1) AS i FROM ws),
        |n AS (SELECT doc_id, len(w)::BIGINT AS n_words FROM ws),
        |wmax AS (SELECT doc_id, max(c) AS mw FROM (
        |  SELECT doc_id, wd, count(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
        |bmax AS (SELECT doc_id, max(c) AS mb FROM (
        |  SELECT a.doc_id, a.wd || ' ' || b.wd AS g, count(*) AS c
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  GROUP BY 1, 2) GROUP BY 1),
        |tdist AS (SELECT doc_id, count(DISTINCT g) AS dt FROM (
        |  SELECT a.doc_id, a.wd || ' ' || b.wd || ' ' || c.wd AS g
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |            JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2) GROUP BY 1)
        |SELECT n.doc_id, n_words,
        |  round(CASE WHEN n_words > 0 THEN mw::DOUBLE / n_words ELSE 0 END, 4) AS top_word_frac,
        |  round(CASE WHEN n_words > 1 THEN mb::DOUBLE / (n_words - 1) ELSE 0 END, 4) AS top_bigram_frac,
        |  round(CASE WHEN n_words > 2 THEN 1.0 - dt::DOUBLE / (n_words - 2) ELSE 0 END, 4) AS dup_trigram_frac
        |FROM n JOIN wmax USING (doc_id)
        |LEFT JOIN bmax USING (doc_id) LEFT JOIN tdist USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // C7/C8: exact word-8-gram decontamination, replayed with string
    // shingles (the Spark side works on 64-bit shingle hashes — the
    // brute-force string parity is ALSO asserted in DecontaminateSpec,
    // so a hash collision would show up twice). C8 is row-identical to
    // C7 by construction (Bloom has no false negatives; survivors are
    // exact-verified) and shares the ONE oracle value.
    "dedup_decontaminate" -> decontOracle,
    "dedup_decontaminate_bloom" -> decontOracle,
    "ann_sq_build" ->
      """SELECT i AS dim,
        |       round(min(list_extract(embedding, (i + 1)::INT))::DOUBLE, 4) AS lo,
        |       round(max(list_extract(embedding, (i + 1)::INT))::DOUBLE, 4) AS hi
        |FROM embeddings, range(64) t(i)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // L1 has no DuckDB list builtin — replay the |x-y| sum per dim
    "ann_l1_topk" ->
      """SELECT vec_id FROM (
        |  SELECT e.vec_id,
        |         sum(abs(list_extract(e.embedding, (i + 1)::INT)::DOUBLE
        |                 - list_extract(qb.qe, (i + 1)::INT)::DOUBLE)) AS d
        |  FROM embeddings e,
        |       (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qb,
        |       range(64) t(i)
        |  WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        |ORDER BY d, vec_id LIMIT 10""".stripMargin,
    // sparse dot replay: a dim contributes iff BOTH sides survive the
    // magnitude sparsifier (v > 0.15) — mirrors Sparse.sparsify
    "ann_sparse_topk" ->
      """SELECT vec_id, round(dot, 4) AS dot FROM (
        |  SELECT e.vec_id,
        |         sum(CASE WHEN list_extract(e.embedding, (i + 1)::INT)::DOUBLE > 0.15
        |                   AND list_extract(qb.qe, (i + 1)::INT)::DOUBLE > 0.15
        |              THEN list_extract(e.embedding, (i + 1)::INT)::DOUBLE
        |                   * list_extract(qb.qe, (i + 1)::INT)::DOUBLE
        |              ELSE 0 END) AS dot
        |  FROM embeddings e,
        |       (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qb,
        |       range(64) t(i)
        |  WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin,
    // inverted-index retrieval set: only vectors sharing ≥1 surviving
    // dim with the query are scored (a zero-overlap candidate is never
    // materialized by a posting join) — the oracle replays the same
    // per-dim products plus the shared-dim count gate
    "ann_sparse_inverted_topk" ->
      """SELECT vec_id, round(dot, 4) AS dot FROM (
        |  SELECT e.vec_id,
        |         sum(CASE WHEN list_extract(e.embedding, (i + 1)::INT)::DOUBLE > 0.15
        |                   AND list_extract(qb.qe, (i + 1)::INT)::DOUBLE > 0.15
        |              THEN list_extract(e.embedding, (i + 1)::INT)::DOUBLE
        |                   * list_extract(qb.qe, (i + 1)::INT)::DOUBLE
        |              ELSE 0 END) AS dot,
        |         sum(CASE WHEN list_extract(e.embedding, (i + 1)::INT)::DOUBLE > 0.15
        |                   AND list_extract(qb.qe, (i + 1)::INT)::DOUBLE > 0.15
        |              THEN 1 ELSE 0 END) AS shared
        |  FROM embeddings e,
        |       (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qb,
        |       range(64) t(i)
        |  WHERE e.vec_id <> 0 GROUP BY e.vec_id)
        |WHERE shared >= 1
        |ORDER BY dot DESC, vec_id LIMIT 10""".stripMargin,
    // BQ bits replayed per dimension: bit(v, dim) = v > round(avg(dim), 4).
    // The Spark kernel compares (double) v > t — float promotion is
    // exact, so the per-dim comparisons cannot diverge between engines.
    "ann_bq_build" ->
      """SELECT i AS dim,
        |       round(avg(list_extract(embedding, (i + 1)::INT)::DOUBLE), 4) AS thresh
        |FROM embeddings, range(64) t(i)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_hamming_topk" ->
      s"""WITH $bqThr, qb AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |       sum(CASE WHEN (list_extract(e.embedding, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                 <> (list_extract(qb.qe, (r.i + 1)::INT)::DOUBLE > thr.t)
         |            THEN 1 ELSE 0 END)::INT AS hamming
         |FROM embeddings e, qb, range(64) r(i) JOIN thr ON thr.i = r.i
         |WHERE e.vec_id <> 0
         |GROUP BY e.vec_id
         |ORDER BY hamming, e.vec_id
         |LIMIT 10""".stripMargin,
    // B25 serving: projection replay from the component sidecar — the
    // sidecar carries the EXACT plan-time constants (float components,
    // float mean offsets), so each projected coordinate is the same
    // double dot accumulation in index order minus the offset, rounded
    // to REAL; projected-space shortlist (50, vec_id ties), exact
    // re-rank. Verifies the engine's projection + two-stage serving;
    // the eigensolve itself stays spec-territory (PcaSpec).
    "ann_pca_topk" ->
      s"""WITH $qv,
         |pc AS (
         |  SELECT c, comp, "offset" AS off
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/pca_components_k32.parquet/*.parquet')),
         |ga AS (SELECT array_agg(comp ORDER BY c) AS comps,
         |              array_agg(off ORDER BY c) AS offs FROM pc),
         |qf AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pv AS (
         |  SELECT e.vec_id,
         |         list_transform(range(1, 33), c ->
         |           (list_sum(list_transform(range(1, 65),
         |              i -> e.embedding[i]::DOUBLE * ga.comps[c][i]::DOUBLE))
         |            - ga.offs[c]::DOUBLE)::REAL) AS proj
         |  FROM embeddings e, ga
         |  WHERE e.vec_id <> 0),
         |pq AS (
         |  SELECT list_transform(range(1, 33), c ->
         |           (list_sum(list_transform(range(1, 65),
         |              i -> qf.qe[i]::DOUBLE * ga.comps[c][i]::DOUBLE))
         |            - ga.offs[c]::DOUBLE)::REAL) AS qproj
         |  FROM qf, ga),
         |short AS (
         |  SELECT pv.vec_id
         |  FROM pv, pq
         |  ORDER BY list_distance(pv.proj::DOUBLE[], pq.qproj::DOUBLE[]), pv.vec_id
         |  LIMIT 50)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B22: the measured half of the recall curve is pure counting over
    // deterministic inputs (workload, sidecar centroids); the fitted
    // half replays the least-squares regression over the unsaturated
    // points with sums in nprobe order (Curve.alpha/beta verbatim,
    // including the saturated-corpus fallback slope).
    "ann_recall_model" ->
      s"""WITH $recallCore,
         |u AS (SELECT nprobe, nprobe::DOUBLE AS x, -ln(1.0 - r) AS y
         |      FROM pts WHERE r < 0.999),
         |s1 AS (SELECT count(*)::DOUBLE AS n,
         |              coalesce(list_sum(array_agg(x ORDER BY nprobe)), 0) AS sx,
         |              coalesce(list_sum(array_agg(y ORDER BY nprobe)), 0) AS sy
         |       FROM u),
         |m AS (SELECT n, sx / n AS mx, sy / n AS my FROM s1),
         |s2 AS (SELECT coalesce(list_sum(array_agg((u.x - m.mx) * (u.x - m.mx) ORDER BY u.nprobe)), 0) AS sxx,
         |              coalesce(list_sum(array_agg((u.x - m.mx) * (u.y - m.my) ORDER BY u.nprobe)), 0) AS sxy
         |       FROM u, m),
         |psat AS (SELECT coalesce((SELECT min(nprobe) FROM pts WHERE r >= 0.999), 16)::DOUBLE AS ps),
         |ab AS (SELECT
         |         CASE WHEN m.n >= 2
         |              THEN (CASE WHEN s2.sxx = 0 THEN 0.0 ELSE s2.sxy / s2.sxx END)
         |              ELSE -ln(0.001) / psat.ps END AS b,
         |         CASE WHEN m.n >= 2
         |              THEN m.my - (CASE WHEN s2.sxx = 0 THEN 0.0 ELSE s2.sxy / s2.sxx END) * m.mx
         |              ELSE 0.0 END AS a
         |       FROM m, s2, psat)
         |SELECT p.nprobe::INT AS nprobe,
         |       round(p.r * 10000) / 10000 AS measured_recall,
         |       round(greatest(0.0, 1.0 - exp(-(ab.a + ab.b * p.nprobe))) * 10000) / 10000
         |         AS predicted_recall
         |FROM pts p, ab ORDER BY nprobe""".stripMargin,
    // B22 frontier: cumulative probed-cell sizes per query in cell-rank
    // order, averaged per depth, next to the measured recall.
    "ann_cost_frontier" ->
      s"""WITH $recallCore,
         |sizes AS (SELECT list_id, count(*)::BIGINT AS n_vectors FROM assign GROUP BY 1),
         |cum AS (
         |  SELECT cr.query_id, cr.cell_rank,
         |         sum(coalesce(s.n_vectors, 0)) OVER (
         |           PARTITION BY cr.query_id ORDER BY cr.cell_rank) AS cum_rows
         |  FROM cr LEFT JOIN sizes s USING (list_id)),
         |avgrows AS (
         |  SELECT cell_rank AS nprobe, sum(cum_rows)::DOUBLE / any_value(nq.nq) AS avg_rows
         |  FROM cum, nq GROUP BY 1),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM embeddings)
         |SELECT a.nprobe::INT AS nprobe,
         |       round(a.avg_rows, 1) AS avg_rows_scanned,
         |       round(a.avg_rows / tot.t, 4) AS scan_fraction,
         |       round(p.r, 4) AS measured_recall
         |FROM avgrows a JOIN pts p USING (nprobe), tot
         |ORDER BY nprobe""".stripMargin,
    // B16 serving: PQ ADC search replayed end to end from the codebook
    // sidecar — every subspace's encoding (the B15 float emulation),
    // the per-query ADC table (same float chain between q and each
    // sub-centroid), the per-vector ADC sum (double accumulation of
    // the 8 float entries in subspace order, as PqAdcDistance),
    // overfetch-50 shortlist with vec_id ties, exact L2 re-rank.
    "ann_pq_search" ->
      s"""WITH $qv,
         |cb AS (
         |  SELECT sub, code, centroid
         |  FROM read_parquet('${graft.Sidecars.DefaultRoot}/pq_codebook.parquet/*.parquet')),
         |qf AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ed AS (
         |  SELECT e.vec_id, cb.sub, cb.code,
         |         ${pqDist("e.embedding")} AS dd
         |  FROM embeddings e CROSS JOIN cb
         |  WHERE e.vec_id <> 0),
         |$pqAdcTail,
         |short AS (SELECT vec_id FROM pqd ORDER BY adc, vec_id LIMIT 50)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B18 IVFADC: the full billion-scale layout replayed — IVF probe
    // pick + cell assignment (the B4 replay), PQ encode + ADC only on
    // the probed cells (the B16 replay), exact re-rank. The RBAC
    // variant adds the accessible-doc semi-join before the shortlist.
    "ann_ivfpq_search" ->
      s"""WITH $qv,
         |$ivfPqCore,
         |short AS (SELECT vec_id FROM pqd ORDER BY adc, vec_id LIMIT 50)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "rbac_ivfpq_topk" ->
      s"""WITH $ur1, $perm, $acc, $qv,
         |$ivfPqCore,
         |short AS (
         |  SELECT p.vec_id FROM pqd p JOIN acc ON p.vec_id = acc.document_id
         |  ORDER BY p.adc, p.vec_id LIMIT 50)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B23 serving: the two-stage recovery is deterministic end to end —
    // the hamming shortlist (overfetch 100, ties to the smaller
    // vec_id) is the already-replayed code-space ranking, the re-rank
    // is exact L2 on raw vectors.
    "ann_bq_search" ->
      s"""WITH $bqThr, $qv, qb AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |hs AS (
         |  SELECT e.vec_id,
         |         sum(CASE WHEN (list_extract(e.embedding, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                   <> (list_extract(qb.qe, (r.i + 1)::INT)::DOUBLE > thr.t)
         |              THEN 1 ELSE 0 END)::INT AS hamming
         |  FROM embeddings e, qb, range(64) r(i) JOIN thr ON thr.i = r.i
         |  WHERE e.vec_id <> 0
         |  GROUP BY e.vec_id),
         |short AS (SELECT vec_id FROM hs ORDER BY hamming, vec_id LIMIT 100)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    // B20 serving: the byte-scan shortlist is deterministic given the
    // trained grid, which itself is a pure min/max derivation — no
    // sidecar needed. The replay mirrors the kernels ulp-for-ulp:
    // step = float((hi - lo) / 255); encode = clamp(floor(float(v -
    // lo)/step + 0.5)) (Math.round); ADC entry = the float chain
    // q - (lo + c·step) squared with per-op REAL round-backs; acc =
    // double sum of the float entries in dim order (Sq8AdcDistance);
    // shortlist overfetch 50 with vec_id ties; exact L2 re-rank.
    "ann_sq_search" ->
      s"""WITH $qv,
         |st AS (
         |  SELECT r.i,
         |         min(list_extract(e.embedding, (r.i + 1)::INT)) AS lo,
         |         max(list_extract(e.embedding, (r.i + 1)::INT)) AS hi
         |  FROM embeddings e, range(64) r(i) GROUP BY 1),
         |grid AS (
         |  SELECT i, lo,
         |         CASE WHEN hi > lo
         |              THEN ((hi::DOUBLE - lo::DOUBLE)::REAL::DOUBLE / 255.0)::REAL
         |              ELSE 1.0::REAL END AS step
         |  FROM st),
         |ga AS (SELECT array_agg(lo ORDER BY i) AS los,
         |              array_agg(step ORDER BY i) AS steps FROM grid),
         |qf AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |codes AS (
         |  SELECT e.vec_id,
         |         list_transform(range(1, 65), i -> least(255, greatest(0,
         |           floor(((e.embedding[i]::DOUBLE - ga.los[i]::DOUBLE)::REAL::DOUBLE
         |                  / ga.steps[i]::DOUBLE) + 0.5)::INT))) AS cs
         |  FROM embeddings e, ga
         |  WHERE e.vec_id <> 0),
         |dl AS (
         |  SELECT c.vec_id,
         |         list_transform(range(1, 65), i ->
         |           (qf.qe[i]::DOUBLE
         |            - (ga.los[i]::DOUBLE
         |               + (c.cs[i]::DOUBLE * ga.steps[i]::DOUBLE)::REAL::DOUBLE)::REAL::DOUBLE
         |           )::REAL) AS ds
         |  FROM codes c, ga, qf),
         |acc AS (
         |  SELECT vec_id,
         |         list_sum(list_transform(ds, d -> (d::DOUBLE * d::DOUBLE)::REAL)) AS adc
         |  FROM dl),
         |short AS (SELECT vec_id FROM acc ORDER BY adc, vec_id LIMIT 50)
         |SELECT e.vec_id
         |FROM embeddings e JOIN short USING (vec_id), q
         |ORDER BY list_distance(e.embedding::DOUBLE[], q.v), e.vec_id
         |LIMIT 10""".stripMargin,
    "ann_bq_jaccard_topk" ->
      s"""WITH $bqThr, qb AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |       round(CASE WHEN sum(CASE WHEN (list_extract(e.embedding, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                                  OR (list_extract(qb.qe, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                             THEN 1 ELSE 0 END) = 0 THEN 1.0
         |             ELSE sum(CASE WHEN (list_extract(e.embedding, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                            AND (list_extract(qb.qe, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                       THEN 1 ELSE 0 END)::DOUBLE
         |                  / sum(CASE WHEN (list_extract(e.embedding, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                              OR (list_extract(qb.qe, (r.i + 1)::INT)::DOUBLE > thr.t)
         |                         THEN 1 ELSE 0 END) END, 4) AS jaccard
         |FROM embeddings e, qb, range(64) r(i) JOIN thr ON thr.i = r.i
         |WHERE e.vec_id <> 0
         |GROUP BY e.vec_id
         |ORDER BY jaccard DESC, e.vec_id
         |LIMIT 10""".stripMargin,
  )
}
