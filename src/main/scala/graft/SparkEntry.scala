package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Multimodal, Nvd, Relational, Similarity, TextAnalysis}

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  *
  * Every `queries` entry is a Spark-first re-expression of a capability of
  * the reference (redteam-project/bq-nvd) or of the LLM-pipeline extensions;
  * `oracleSql` carries the DuckDB-equivalent SQL the driver uses as the
  * correctness gate. Aliases are kept identical on both sides (the compare
  * sorts columns by name), aggregates accumulate in exact DECIMAL so results
  * hash-match bit-for-bit, and every result has a total ORDER BY.
  */
object SparkEntry {

  /** Flagship: the reference README's doubly-nested Linux-CVE EXISTS query
    * over the ingested NVD feed (its signature capability); driver
    * smoke-checks rows>0 (29 CVEs match in the fixture).
    */
  def entry(spark: SparkSession): DataFrame =
    Nvd.qNvdLinuxExists(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 reference-surface queries — nested NVD table (feed fixture)
    "q_nvd_count" -> (Nvd.qNvdCount _),
    "q_nvd_linux_exists" -> (Nvd.qNvdLinuxExists _),
    "q_nvd_severity_hist" -> (Nvd.qNvdSeverityHist _),
    "q_nvd_cwe_top" -> (Nvd.qNvdCweTop _),
    "q_nvd_tag_hist" -> (Nvd.qNvdTagHist _),
    "q_nvd_product_top" -> (Nvd.qNvdProductTop _),
    "q_nvd_v3_vector" -> (Nvd.qNvdV3Vector _),
    "q_nvd_modified_upsert" -> (Nvd.qNvdModifiedUpsert _),
    "q_nvd_yearly_trend" -> (Nvd.qNvdYearlyTrend _),
    "q_nvd_desc_langs" -> (Nvd.qNvdDescLangs _),
    "q_nvd_child_cpes" -> (Nvd.qNvdChildCpes _),
    "q_nvd_score_corr" -> (Nvd.qNvdScoreCorr _),
    "q_nvd_version_ranges" -> (Nvd.qNvdVersionRanges _),
    "q_nvd_version_match" -> (Nvd.qNvdVersionMatch _),
    "q_orders_backlog" -> (Relational.qOrdersBacklog _),
    "q_orders_cohort" -> (Relational.qOrdersCohort _),
    "q_events_gini" -> (Relational.qEventsGini _),
    "q_count" -> (Relational.qCount _),
    "q_nested_exists" -> (Relational.qNestedExists _),
    "q_incremental_antijoin" -> (Relational.qIncrementalAntijoin _),
    "q_dedup_load" -> (Relational.qDedupLoad _),
    // §2.2 relational analytics suite
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q3_shipping_priority" -> (Relational.q3ShippingPriority _),
    "q5_region_revenue" -> (Relational.q5RegionRevenue _),
    "q6_forecast_revenue" -> (Relational.q6ForecastRevenue _),
    "q12_priority_class" -> (Relational.q12PriorityClass _),
    "q14_promo_share" -> (Relational.q14PromoShare _),
    "q19_disjunctive" -> (Relational.q19Disjunctive _),
    "q_bloom_semi_join" -> (Relational.qBloomSemiJoin _),
    "graph_pagerank" -> (Relational.graphPagerank _),
    "graph_label_propagation" -> (Relational.graphLabelProp _),
    "graph_connected_components" -> (Relational.graphConnectedComponents _),
    "graph_shortest_paths" -> (Relational.graphShortestPaths _),
    "graph_kcore" -> (Relational.graphKcore _),
    "graph_hits" -> (Relational.graphHits _),
    "graph_scc" -> (Relational.graphScc _),
    "q_eager_agg" -> (Relational.qEagerAgg _),
    "q_events_band_join" -> (Relational.qEventsBandJoin _),
    "q_events_burstiness" -> (Relational.qEventsBurstiness _),
    "q_events_ewma" -> (Relational.qEventsEwma _),
    "q_cust_rolling_ltv" -> (Relational.qCustRollingLtv _),
    "warehouse_ivm" -> (Relational.warehouseIvm _),
    "warehouse_ivm_join" -> (Relational.warehouseIvmJoin _),
    "q_dq_schema_profile" -> (Relational.qDqSchemaProfile _),
    "q_dq_referential" -> (Relational.qDqReferential _),
    "mm_chunk_stats" -> (Multimodal.mmChunkStats _),
    "q_events_seasonality" -> (Relational.qEventsSeasonality _),
    "q_markov_stationary" -> (Relational.qMarkovStationary _),
    "q_customer_survival" -> (Relational.qCustomerSurvival _),
    "q_funnel_latency" -> (Relational.qFunnelLatency _),
    "q_user_overlap" -> (Relational.qUserOverlap _),
    "q_revenue_retention" -> (Relational.qRevenueRetention _),
    "q_size_price_spearman" -> (Relational.qSizePriceSpearman _),
    "q_value_mannwhitney" -> (Relational.qValueMannwhitney _),
    "q_benford_audit" -> (Relational.qBenfordAudit _),
    "q_rank_join" -> (Relational.qRankJoin _),
    "q_bitmap_distinct" -> (Relational.qBitmapDistinct _),
    "q_sliding_distinct" -> (Relational.qSlidingDistinct _),
    "q_yannakakis" -> (Relational.qYannakakis _),
    "q_orders_holt" -> (Relational.qOrdersHolt _),
    "q_customer_mahalanobis" -> (Relational.qCustomerMahalanobis _),
    "q_orders_theilsen" -> (Relational.qOrdersTheilsen _),
    "graph_assortativity" -> (Relational.graphAssortativity _),
    "q_orders_runs_test" -> (Relational.qOrdersRunsTest _),
    "q_events_kendall" -> (Relational.qEventsKendall _),
    "q_part_chi2" -> (Relational.qPartChi2 _),
    "q_orders_subsample_ci" -> (Relational.qOrdersSubsampleCi _),
    "q_events_entropy_rate" -> (Relational.qEventsEntropyRate _),
    "q_orders_mad_outliers" -> (Relational.qOrdersMadOutliers _),
    "graph_modularity" -> (Relational.graphModularity _),
    "graph_louvain_gain" -> (Relational.graphLouvainGain _),
    "graph_betweenness" -> (Relational.graphBetweenness _),
    "graph_link_prediction" -> (Relational.graphLinkPrediction _),
    "graph_closeness" -> (Relational.graphCloseness _),
    "graph_weighted_sssp" -> (Relational.graphWeightedSssp _),
    "graph_ppr" -> (Relational.graphPersonalizedPagerank _),
    "q_order_latency" -> (Relational.qOrderLatency _),
    "q_orders_growth_decomp" -> (Relational.qOrdersGrowthDecomp _),
    "q_orders_interarrival" -> (Relational.qOrdersInterarrival _),
    "text_hapax" -> (TextAnalysis.textHapax _),
    "text_simpson_diversity" -> (TextAnalysis.textSimpsonDiversity _),
    "q_user_streaks" -> (Relational.qUserStreaks _),
    "q_supplier_hhi" -> (Relational.qSupplierHhi _),
    "q_events_entropy" -> (Relational.qEventsEntropy _),
    "text_collocations" -> (TextAnalysis.textCollocations _),
    "q_part_skyline" -> (Relational.qPartSkyline _),
    "q_basket_pairs" -> (Relational.qBasketPairs _),
    "warehouse_stats" -> (Relational.warehouseStats _),
    "q_top_customers_per_nation" -> (Relational.qTopCustomersPerNation _),
    "q_order_priority_exists" -> (Relational.qOrderPriorityExists _),
    "q_customer_no_orders" -> (Relational.qCustomerNoOrders _),
    "q_events_windowed" -> (Relational.qEventsWindowed _),
    "q_events_sessionize" -> (Relational.qEventsSessionize _),
    "q_events_asof" -> (Relational.qEventsAsof _),
    "q_events_moving" -> (Relational.qEventsMoving _),
    "q_part_topn_price" -> (Relational.qPartTopnPrice _),
    "q_lineitem_rollup" -> (Relational.qLineitemRollup _),
    "q_events_cube" -> (Relational.qEventsCube _),
    "q_events_pivot" -> (Relational.qEventsPivot _),
    "q_events_quantiles" -> (Relational.qEventsQuantiles _),
    "q_quantile_bisect" -> (Relational.qQuantileBisect _),
    "q_group_quantile_bisect" -> (Relational.qGroupQuantileBisect _),
    "q_events_json_props" -> (Relational.qEventsJsonProps _),
    "q22_above_avg_idle" -> (Relational.q22AboveAvgIdle _),
    "q2_min_cost_supplier" -> (Relational.q2MinCostSupplier _),
    "q4_priority_check" -> (Relational.q4PriorityCheck _),
    "q9_profit_by_nation_year" -> (Relational.q9ProfitByNationYear _),
    "q16_supplier_cnt" -> (Relational.q16SupplierCnt _),
    "q20_dominant_supplier" -> (Relational.q20DominantSupplier _),
    "q_events_markov" -> (Relational.qEventsMarkov _),
    "q_events_paths" -> (Relational.qEventsPaths _),
    "text_zipf" -> (TextAnalysis.textZipf _),
    "q_events_dwell" -> (Relational.qEventsDwell _),
    "q_events_autocorr" -> (Relational.qEventsAutocorr _),
    "q_discount_elasticity" -> (Relational.qDiscountElasticity _),
    "q7_volume_shipping" -> (Relational.q7VolumeShipping _),
    "q8_market_share" -> (Relational.q8MarketShare _),
    "q10_returned_items" -> (Relational.q10ReturnedItems _),
    "q13_order_count_dist" -> (Relational.q13OrderCountDist _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q17_small_qty_revenue" -> (Relational.q17SmallQtyRevenue _),
    "q18_large_orders" -> (Relational.q18LargeOrders _),
    "q21_late_sole_supplier" -> (Relational.q21LateSoleSupplier _),
    "q_events_funnel" -> (Relational.qEventsFunnel _),
    "q_events_retention" -> (Relational.qEventsRetention _),
    "q_events_deciles" -> (Relational.qEventsDeciles _),
    "q_dq_audit" -> (Relational.qDqAudit _),
    "q_snapshot_diff" -> (Relational.qSnapshotDiff _),
    "q_events_anomaly" -> (Relational.qEventsAnomaly _),
    "q_events_changepoint" -> (Relational.qEventsChangepoint _),
    "q_events_groupsets" -> (Relational.qEventsGroupsets _),
    "q11_revenue_share" -> (Relational.q11RevenueShare _),
    "q_customer_first_last" -> (Relational.qCustomerFirstLast _),
    "q_user_setops" -> (Relational.qUserSetops _),
    "q_events_twap" -> (Relational.qEventsTwap _),
    "q_events_unpivot" -> (Relational.qEventsUnpivot _),
    "q_events_rfm" -> (Relational.qEventsRfm _),
    "q_events_wau" -> (Relational.qEventsWau _),
    "q_orders_mom" -> (Relational.qOrdersMom _),
    "q_abc_analysis" -> (Relational.qAbcAnalysis _),
    "q_events_dow_profile" -> (Relational.qEventsDowProfile _),
    "q_events_mutual_info" -> (Relational.qEventsMutualInfo _),
    "q_orders_hill_tail" -> (Relational.qOrdersHillTail _),
    "q_events_crosscorr" -> (Relational.qEventsCrosscorr _),
    "q_lineitem_anova" -> (Relational.qLineitemAnova _),
    "q_events_tail_dependence" -> (Relational.qEventsTailDependence _),
    "text_ngram_novelty" -> (TextAnalysis.textNgramNovelty _),
    "q_events_attribution" -> (Relational.qEventsAttribution _),
    // §2.3 dedup + similarity
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_editdistance" -> (Dedup.dedupEditdistance _),
    "dedup_ngram_jaccard" -> (Dedup.dedupNgramJaccard _),
    "dedup_cluster" -> (Dedup.dedupCluster _),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_embedding" -> (Dedup.dedupEmbedding _),
    "dedup_semantic" -> (Dedup.dedupSemantic _),
    "sim_dbscan" -> (Dedup.simDbscan _),
    "sim_dbscan_purity" -> (Dedup.simDbscanPurity _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    "dedup_containment" -> (Dedup.dedupContainment _),
    "dedup_stats" -> (Dedup.dedupStats _),
    "dedup_substring" -> (Dedup.dedupSubstring _),
    "dedup_winnow" -> (Dedup.dedupWinnow _),
    "dedup_incremental_minhash" -> (Dedup.dedupIncrementalMinhash _),
    "dedup_lsh_cliques" -> (Dedup.dedupLshCliques _),
    "sim_topk_bruteforce" -> (Similarity.simTopkBruteforce _),
    "sim_topk_lsh" -> ((s: SparkSession, d: String) => Similarity.simTopkLsh(s, d)),
    "sim_topk_ivf" -> ((s: SparkSession, d: String) => Similarity.simTopkIvf(s, d)),
    "sim_ivf_incremental" -> (Similarity.simIvfIncremental _),
    "sim_range_search" -> (Similarity.simRangeSearch _),
    "sim_topk_pq" -> (Similarity.simTopkPq _),
    "sim_knn_graph" -> (Similarity.simKnnGraph _),
    "sim_pair_hist" -> (Dedup.simPairHist _),
    "sim_recall_report" -> (Similarity.simRecallReport _),
    "sim_mmr" -> (Similarity.simMmr _),
    "pipeline_contrastive_pairs" ->
      (TextAnalysis.pipelineContrastivePairs _),
    "pipeline_coreset" ->
      ((s: SparkSession, d: String) => Similarity.pipelineCoreset(s, d)),
    "graph_triangles" -> (Dedup.graphTriangles _),
    // §2.4 text analysis + multimodal
    "mm_phash_neardup" -> (Multimodal.mmPhashNeardup _),
    "text_tokencount" -> (TextAnalysis.textTokencount _),
    "text_quality" -> (TextAnalysis.textQuality _),
    "text_langid" -> (TextAnalysis.textLangid _),
    "text_readability" -> (TextAnalysis.textReadability _),
    "text_js_divergence" -> (TextAnalysis.textJsDivergence _),
    "pipeline_dsir_weights" -> (TextAnalysis.pipelineDsirWeights _),
    "text_burstiness" -> (TextAnalysis.textBurstiness _),
    "text_fingerprint" -> (TextAnalysis.textFingerprint _),
    "text_top_terms" -> (TextAnalysis.textTopTerms _),
    "text_normalize" -> (TextAnalysis.textNormalize _),
    "text_pii_redact" -> (TextAnalysis.textPiiRedact _),
    "pipeline_length_hist" -> (TextAnalysis.pipelineLengthHist _),
    "text_window_chunk" -> (TextAnalysis.textWindowChunk _),
    "text_block_dedup" -> (TextAnalysis.textBlockDedup _),
    "pipeline_dataset_card" -> (TextAnalysis.pipelineDatasetCard _),
    "pipeline_stratified_sample" -> (TextAnalysis.pipelineStratifiedSample _),
    "text_code_detect" -> (TextAnalysis.textCodeDetect _),
    "pipeline_manifest" -> (TextAnalysis.pipelineManifest _),
    "pipeline_oversample" -> (TextAnalysis.pipelineOversample _),
    "pipeline_corpus_filter" -> (TextAnalysis.pipelineCorpusFilter _),
    "pipeline_sample" -> (TextAnalysis.pipelineSample _),
    "pipeline_quality_sample" -> (TextAnalysis.pipelineQualitySample _),
    "pipeline_split" -> (TextAnalysis.pipelineSplit _),
    "text_gopher_quality" -> (TextAnalysis.textGopherQuality _),
    "text_contamination" -> (TextAnalysis.textContamination _),
    "pipeline_pack" -> (TextAnalysis.pipelinePack _),
    "pipeline_mixture" -> (TextAnalysis.pipelineMixture _),
    "text_tfidf" -> (TextAnalysis.textTfidf _),
    "text_perplexity" -> (TextAnalysis.textPerplexity _),
    "text_bm25" -> (TextAnalysis.textBm25 _),
    "pipeline_epoch_shuffle" -> (TextAnalysis.pipelineEpochShuffle _),
    "text_vocab_growth" -> (TextAnalysis.textVocabGrowth _),
    "pipeline_interleave" -> (TextAnalysis.pipelineInterleave _),
    "text_rarity" -> (TextAnalysis.textRarity _),
    "text_keywords" -> (TextAnalysis.textKeywords _),
    "pipeline_decontaminate" -> (TextAnalysis.pipelineDecontaminate _),
    "pipeline_token_budget" -> (TextAnalysis.pipelineTokenBudget _),
    "text_ngram_repetition" -> (TextAnalysis.textNgramRepetition _),
    "text_langid_confusion" -> (TextAnalysis.textLangidConfusion _),
    "mm_metadata" -> (Multimodal.mmMetadata _),
    "mm_dedup" -> (Multimodal.mmDedup _),
    "mm_frame_features" -> (Multimodal.mmFrameFeatures _),
    "mm_scene_cut" -> (Multimodal.mmSceneCut _),
    "mm_shot_sample" -> (Multimodal.mmShotSample _),
    "mm_cdc_neardup" -> (Multimodal.mmCdcNeardup _),
    "mm_cdc_incremental" -> (Multimodal.mmCdcIncremental _),
    "mm_vad" -> (Multimodal.mmVad _),
    "q_nvd_score_drift" -> (Nvd.qNvdScoreDrift _),
    "q_nvd_severity_transition" -> (Nvd.qNvdSeverityTransition _),
    "q_nvd_cvss_recompute" -> (Nvd.qNvdCvssRecompute _),
    "q_nvd_cvss_v2_recompute" -> (Nvd.qNvdCvssV2Recompute _),
    "q_nvd_mod_lag" -> (Nvd.qNvdModLag _),
  )

  /** DuckDB 'f' CTE over the same gz feed fixture the Spark queries read. */
  private val nvdFeedCte =
    s"""WITH f AS (SELECT unnest(CVE_Items) AS item
         FROM read_json('${graft.sources.NvdEtl.FixtureAbsPath}',
                        maximum_object_size=104857600))"""

  /** The IVF probe oracle — shared verbatim by sim_topk_ivf (fresh
    * index) and sim_ivf_incremental (stored index + feed delta): the two
    * plans are deterministic functions of the same centroid table, so
    * one recompute SQL grades both.
    */
  private val simTopkIvfOracle =
    """WITH e0 AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
            cents AS (SELECT vec_id AS cid, v AS cv FROM e0 WHERE vec_id < 16),
            scored AS (SELECT x.vec_id, x.v, c.cid,
                           list_cosine_similarity(x.v, c.cv) AS cs
                       FROM e0 x CROSS JOIN cents c),
            ranked AS (SELECT vec_id, v, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY cs DESC, cid DESC) AS rn
                       FROM scored),
            corpus AS (SELECT vec_id AS c_id, v AS cv2, cid AS cell
                       FROM ranked WHERE rn = 1),
            queries AS (SELECT vec_id AS q_id, v AS qv, cid AS cell
                        FROM ranked WHERE vec_id < 10 AND rn <= 6),
            cand AS (SELECT q.q_id, c.c_id,
                         list_cosine_similarity(q.qv, c.cv2) AS sim_raw
                     FROM queries q JOIN corpus c
                       ON q.cell = c.cell AND c.c_id <> q.q_id),
            r AS (SELECT q_id, c_id, sim_raw,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY sim_raw DESC, c_id) AS rk
                  FROM cand)
       SELECT q_id, CAST(rk AS BIGINT) AS rank, c_id,
              round(sim_raw, 6) AS sim
       FROM r WHERE rk <= 10
       ORDER BY q_id, rank"""

  private val simTopkBruteforceOracle =
    """WITH q AS (SELECT vec_id AS q_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                    FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id AS c_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                    FROM embeddings),
              s AS (SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS sim_raw
                    FROM q CROSS JOIN c WHERE c_id <> q_id),
              r AS (SELECT q_id, c_id, sim_raw,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY sim_raw DESC, c_id) AS rk
                    FROM s)
         SELECT q_id, CAST(rk AS BIGINT) AS rank, c_id, round(sim_raw, 6) AS sim
         FROM r WHERE rk <= 10
         ORDER BY q_id, rank"""

  private val simTopkLshOracle = {
      val buckets = graft.operators.Similarity.lshBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"q.s$i = c.s$i").mkString(" OR ")
      s"""WITH s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
              q AS (SELECT * FROM s WHERE vec_id < 10),
              cand AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                           list_cosine_similarity(q.v, c.v) AS sim_raw
                       FROM q JOIN s c
                         ON c.vec_id <> q.vec_id AND ($anyBucket)),
              r AS (SELECT q_id, c_id, sim_raw,
                        row_number() OVER (PARTITION BY q_id
                          ORDER BY sim_raw DESC, c_id) AS rk
                    FROM cand)
         SELECT q_id, CAST(rk AS BIGINT) AS rank, c_id,
                round(sim_raw, 6) AS sim
         FROM r WHERE rk <= 10
         ORDER BY q_id, rank"""
  }

  private val simTopkPqOracle =
      """WITH e0 AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            ss AS (SELECT unnest(range(0, 16)) AS s),
            sub AS (SELECT vec_id, s,
                        list_slice(v, s * 4 + 1, s * 4 + 4) AS sv
                    FROM e0, ss),
            cbs AS (SELECT s, vec_id AS j, sv AS cw FROM sub
                    WHERE vec_id < 64),
            d AS (SELECT x.vec_id, x.s, c.j,
                      list_reduce(list_transform(range(1, 5),
                        i -> (x.sv[(i)::INT] - c.cw[(i)::INT])
                             * (x.sv[(i)::INT] - c.cw[(i)::INT])),
                        (a, b) -> a + b) AS d2
                  FROM sub x JOIN cbs c USING (s)),
            enc AS (SELECT vec_id, s, j AS code FROM d
                    QUALIFY row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY d2 ASC, j ASC) = 1),
            qd AS (SELECT vec_id AS q_id, s, j, d2 FROM d
                   WHERE vec_id < 10),
            ad AS (SELECT q.q_id, x.vec_id AS c_id,
                       list_reduce(list(q.d2 ORDER BY q.s),
                         (a, b) -> a + b) AS adist
                   FROM enc x JOIN qd q ON q.s = x.s AND q.j = x.code
                   WHERE x.vec_id <> q.q_id
                   GROUP BY q.q_id, x.vec_id),
            r AS (SELECT q_id, c_id, adist,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY adist ASC, c_id ASC) AS rk
                  FROM ad)
         SELECT q_id, CAST(rk AS BIGINT) AS rank, c_id,
                round(adist, 6) AS adist
         FROM r WHERE rk <= 10
         ORDER BY q_id, rank"""

  /** Exact-L2 top-k — PQ's ground truth (ADC ranks by L2, not cosine);
    * the squared distance is the same left-to-right fold the Spark d2
    * kernel runs, so the two engines rank identical doubles.
    */
  private val simExactL2Oracle =
    """WITH e0 AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e0 WHERE vec_id < 10),
          d AS (SELECT q.q_id, c.vec_id AS c_id,
                    list_reduce(list_transform(range(1, 65),
                      i -> (q.qv[(i)::INT] - c.v[(i)::INT])
                           * (q.qv[(i)::INT] - c.v[(i)::INT])),
                      (a, b) -> a + b) AS dl2
                FROM q CROSS JOIN e0 c WHERE c.vec_id <> q.q_id),
          r AS (SELECT q_id, c_id, dl2,
                    row_number() OVER (PARTITION BY q_id
                      ORDER BY dl2 ASC, c_id ASC) AS rk
                FROM d)
       SELECT q_id, CAST(rk AS BIGINT) AS rank, c_id
       FROM r WHERE rk <= 10
       ORDER BY q_id, rank"""


  /** DuckDB fragment: dotted version packed to the exact integer rank
    * major·10⁶ + minor·10³ + patch — the verbatim mirror of
    * [[graft.operators.Nvd]]'s `vnum` (missing components rank 0, so
    * "5.4" ≡ "5.4.0"). Applied only to non-NULL well-formed versions;
    * string_split's out-of-range index is NULL on both engines.
    */
  private def dvnum(e: String): String =
    s"""(COALESCE(CAST(string_split($e, '.')[1] AS BIGINT), 0) * 1000000
        + COALESCE(CAST(string_split($e, '.')[2] AS BIGINT), 0) * 1000
        + COALESCE(CAST(string_split($e, '.')[3] AS BIGINT), 0))"""

  /** DuckDB fragment: FNV-1a64 fold over the UTF-8 BYTES of `col`.
    * `split(col,'')` yields characters, so a plain `unicode(c)` fold would
    * hash code points while `GraftKernels.fingerprint64` hashes UTF-8
    * bytes — identical on ASCII, divergent on any multibyte text. The CASE
    * expands each code point to its UTF-8 byte sequence arithmetically so
    * the oracle folds the exact same byte stream as the kernel. */
  /** DuckDB fragment: the UTF-8 BYTE sequence of `col` as an INTEGER[] —
    * the shared expansion under every byte-faithful oracle (FNV fold,
    * frame features): character splitting would process code points where
    * the Spark kernels process bytes.
    */
  private def utf8BytesSql(col: String): String =
    s"""flatten(list_transform(split($col, ''), c ->
          CASE WHEN unicode(c) < 0 THEN CAST([] AS INTEGER[])
               WHEN unicode(c) < 128 THEN [unicode(c)]
               WHEN unicode(c) < 2048
                 THEN [192 + unicode(c)//64, 128 + unicode(c)%64]
               WHEN unicode(c) < 65536
                 THEN [224 + unicode(c)//4096, 128 + (unicode(c)//64)%64,
                       128 + unicode(c)%64]
               ELSE [240 + unicode(c)//262144, 128 + (unicode(c)//4096)%64,
                     128 + (unicode(c)//64)%64, 128 + unicode(c)%64]
          END))"""

  private def fnv1aUtf8(col: String): String =
    s"""list_reduce(
          list_prepend(14695981039346656037::HUGEINT,
            list_transform(${utf8BytesSql(col)}, b -> CAST(b AS HUGEINT))),
          (acc, x) -> (xor(CAST(acc AS UBIGINT), CAST(x AS UBIGINT))
                         ::HUGEINT * 1099511628211::HUGEINT)
                       % 18446744073709551616::HUGEINT)"""

  /** graph_pagerank's 10 exact-integer power-iteration steps as chained
    * CTEs (DuckDB's recursive CTEs disallow aggregates in the recursive
    * term, so the fixed iteration count is unrolled — same arithmetic as
    * the Spark loop: (85·s) div (100·outdeg) per edge + 150000 teleport).
    */
  /** graph_kcore's oracle peels this many unrolled rounds. Rounds past
    * the fixpoint are no-ops, so chain-peel ≡ the Spark loop's
    * fixpoint-peel whenever the fixpoint lands within the chain;
    * KcoreSpec asserts ≥2× margin on both shipped SFs (fixpoint = 13
    * rounds at sf0.01 AND sf0.1).
    */
  private[graft] val kcoreOracleRounds = 30

  /** graph_kcore's simultaneous-removal peel as chained CTEs (unrolled
    * like [[pagerankSteps]]): each round keeps only edges whose BOTH
    * endpoints still have degree ≥ k in the previous round's survivor
    * set — identical semantics to the Spark loop's two left-semi joins.
    */
  private def kcorePeelSteps(n: Int, k: Int): String =
    (1 to n).map { r =>
      s"""c$r AS MATERIALIZED (SELECT i, j FROM c${r - 1}
               WHERE i IN (SELECT v
                           FROM (SELECT i AS v FROM c${r - 1}
                                 UNION ALL SELECT j AS v FROM c${r - 1})
                           GROUP BY v HAVING count(*) >= $k)
                 AND j IN (SELECT v
                           FROM (SELECT i AS v FROM c${r - 1}
                                 UNION ALL SELECT j AS v FROM c${r - 1})
                           GROUP BY v HAVING count(*) >= $k))"""
    }.mkString(",\n            ")

  /** Personalized-pagerank rounds: contribution spread plus teleport
    * rows landing only on the seed relation `sd`, summed per vertex —
    * mirrors the Spark loop's union-before-aggregate shape. */
  private def pprSteps(n: Int): String =
    (1 to n).map { k =>
      s"""pp$k AS MATERIALIZED (SELECT v, CAST(sum(x) AS BIGINT) AS s
                FROM (SELECT e.dst AS v,
                          (85 * p.s) // (100 * e.outdeg) AS x
                      FROM pp${k - 1} p JOIN e ON e.src = p.v
                      UNION ALL
                      SELECT v, 150000 AS x FROM sd)
                GROUP BY v)"""
    }.mkString(",\n            ")

  private def pagerankSteps(n: Int): String =
    (1 to n).map { k =>
      s"""pr$k AS (SELECT e.dst AS v,
                  150000 + CAST(sum((85 * p.s) // (100 * e.outdeg))
                                AS BIGINT) AS s
                FROM pr${k - 1} p JOIN e ON e.src = p.v
                GROUP BY e.dst)"""
    }.mkString(",\n            ")

  /** graph_label_propagation's synchronous vote rounds as chained CTEs
    * (unrolled like [[pagerankSteps]]): each round unions every
    * neighbor's label (the symmetric edge set makes that "labels
    * flowing src→dst") with the node's own, then takes the
    * all-integer argmax — count desc, label asc — exactly the Spark
    * loop's min(struct(-cnt, lbl)).
    */
  /** The k-source Brandes oracle, unrolled to
    * [[graft.operators.Relational.BetweennessMaxLevel]] forward and
    * backward steps. Forward σ is a plain sum — path counts are
    * integers far below 2⁵³ (drill-asserted), where double addition is
    * exact in any order. Every BACKWARD aggregation (δ is a genuine
    * float) is a list_reduce over an explicitly ORDERed list so the
    * doubles fold in the identical order as the Spark plan's sorted
    * collect_list folds.
    */
  /** The Brandes forward-pass CTE chain (cs, e, verts, roots, fN, vis) shared
    * by [[betweennessOracle]] and [[closenessOracle]] — both oracles
    * RECOMPUTE the BFS the Spark side shares via the "brandes_vis"
    * artifact, so stored ≡ recompute is exactly what the gate grades.
    */
  private def brandesForwardCtes(maxLvl: Int): String = {
    val fwd = (1 to maxLvl).map { k =>
      s"""f$k AS MATERIALIZED (SELECT t.root, t.dst AS v,
             sum(t.sig) AS sig
           FROM (SELECT p.root, p.v AS u, e.dst, p.sig
                 FROM f${k - 1} p JOIN e ON e.src = p.v
                 WHERE NOT EXISTS (SELECT 1 FROM vz${k - 1} z
                     WHERE z.root = p.root AND z.v = e.dst)) t
           GROUP BY t.root, t.dst),
         vz$k AS MATERIALIZED (SELECT * FROM vz${k - 1}
                  UNION ALL SELECT root, v FROM f$k)"""
    }.mkString(",\n         ")
    val visUnion = (0 to maxLvl).map(l =>
      s"SELECT root, v, $l AS lvl, sig FROM f$l").mkString("\n           UNION ALL ")
    s"""cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
         e AS MATERIALIZED (SELECT c AS src, s AS dst FROM cs
               UNION ALL
               SELECT s AS src, c AS dst FROM cs),
         verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
         r AS (SELECT v AS root FROM verts ORDER BY v LIMIT 8),
         f0 AS MATERIALIZED (SELECT root, root AS v, CAST(1.0 AS DOUBLE) AS sig FROM r),
         vz0 AS MATERIALIZED (SELECT root, v FROM f0),
         $fwd,
         vis AS MATERIALIZED ($visUnion)"""
  }

  /** Bounded-horizon weighted SSSP: full Bellman-Ford relaxation
    * unrolled to [[graft.operators.Relational.SsspMaxRounds]] rounds —
    * all-integer day weights and BIGINT minima, so the frontier-relaxed
    * Spark loop (identical ≤ k-edge-path semantics) matches
    * bit-for-bit. */
  private def ssspOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM d${k - 1}
             UNION ALL
             SELECT e.dst AS id, d.dist + e.w AS dist
             FROM d${k - 1} d JOIN e ON e.src = d.id) GROUP BY id)"""
    }.mkString(",\n         ")
    s"""WITH b AS (SELECT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s,
                CAST(min(date_diff('day', o.o_orderdate, l.l_shipdate))
                  AS BIGINT) AS w
              FROM orders o JOIN lineitem l
                ON l.l_orderkey = o.o_orderkey
              GROUP BY 1, 2),
         e AS MATERIALIZED (SELECT c AS src, s AS dst, w FROM b
              UNION ALL SELECT s AS src, c AS dst, w FROM b),
         s0 AS (SELECT src AS id FROM e WHERE src % 2 = 0
                GROUP BY src ORDER BY src LIMIT 3),
         d0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS dist FROM s0),
         $steps
       SELECT CASE WHEN id % 2 = 0 THEN 'customer'
              ELSE 'supplier' END AS node_type,
              CAST(id // 2 AS BIGINT) AS entity_key,
              dist AS min_delay_days
       FROM d$rounds ORDER BY node_type, entity_key"""
  }

  /** k-source harmonic closeness over the shared forward pass —
    * INTEGER-exact: 1/d sums as 27720 div d over lcm(1..12). */
  private def closenessOracle(maxLvl: Int): String =
    s"""WITH ${brandesForwardCtes(maxLvl)},
         h AS (SELECT v, CAST(count(*) AS BIGINT) AS n_roots_reached,
                  CAST(sum(lvl) AS BIGINT) AS sum_dist,
                  CAST(sum(27720 // lvl) AS BIGINT) AS hnum
               FROM vis WHERE lvl > 0 GROUP BY v)
       SELECT CASE WHEN verts.v % 2 = 0 THEN 'customer'
              ELSE 'supplier' END AS node_type,
              CAST(verts.v // 2 AS BIGINT) AS entity_key,
              COALESCE(h.n_roots_reached, CAST(0 AS BIGINT))
                AS n_roots_reached,
              COALESCE(h.sum_dist, CAST(0 AS BIGINT)) AS sum_dist,
              round(CAST(COALESCE(h.hnum, 0) AS DOUBLE) / 27720.0, 6)
                AS harmonic
       FROM verts LEFT JOIN h ON h.v = verts.v
       ORDER BY node_type, entity_key"""

  private def betweennessOracle(maxLvl: Int): String = {
    val bwd = (maxLvl - 1) to 0 by -1
    val bwdSteps = bwd.map { l =>
      s"""d$l AS MATERIALIZED (SELECT x.root, x.v,
             COALESCE(s.dsum, CAST(0.0 AS DOUBLE)) AS delta
           FROM (SELECT root, v FROM vis WHERE lvl = $l) x
           LEFT JOIN (SELECT t.root, t.v,
                 list_reduce(list(t.t ORDER BY t.w), (a, b) -> a + b)
                   AS dsum
               FROM (SELECT sp.root, sp.v, sp.w,
                       sp.sigv / sp.sigw *
                         (CAST(1.0 AS DOUBLE) + dn.delta) AS t
                     FROM sp JOIN dall${l + 1} dn
                       ON dn.root = sp.root AND dn.v = sp.w
                     WHERE sp.lvl = $l) t
               GROUP BY t.root, t.v) s
             ON s.root = x.root AND s.v = x.v),
         dall$l AS MATERIALIZED (SELECT * FROM dall${l + 1}
                    UNION ALL SELECT * FROM d$l)"""
    }.mkString(",\n         ")
    s"""WITH ${brandesForwardCtes(maxLvl)},
         sp AS MATERIALIZED (SELECT a.root, a.v, a.lvl, a.sig AS sigv,
                    b.v AS w, b.sig AS sigw
                FROM vis a JOIN e ON e.src = a.v
                JOIN vis b ON b.root = a.root AND b.v = e.dst
                          AND b.lvl = a.lvl + 1),
         d$maxLvl AS MATERIALIZED (SELECT root, v, CAST(0.0 AS DOUBLE) AS delta
                      FROM vis WHERE lvl = $maxLvl),
         dall$maxLvl AS MATERIALIZED (SELECT * FROM d$maxLvl),
         $bwdSteps,
         bt AS (SELECT v,
                  list_reduce(list(delta ORDER BY root), (a, b) -> a + b)
                    AS c
                FROM dall0 WHERE v <> root GROUP BY v)
       SELECT CASE WHEN verts.v % 2 = 0 THEN 'customer'
              ELSE 'supplier' END AS node_type,
              CAST(verts.v // 2 AS BIGINT) AS entity_key,
              round(COALESCE(bt.c, CAST(0.0 AS DOUBLE)), 6) AS centrality
       FROM verts LEFT JOIN bt ON bt.v = verts.v
       ORDER BY node_type, entity_key"""
  }

  private def lpaSteps(n: Int): String =
    (1 to n).map { k =>
      s"""lp$k AS (
              SELECT dst AS v, lbl FROM (
                SELECT dst, lbl,
                       row_number() OVER (PARTITION BY dst
                         ORDER BY count(*) DESC, lbl ASC) AS rn
                FROM (SELECT e.dst, p.lbl
                      FROM e JOIN lp${k - 1} p ON e.src = p.v
                      UNION ALL
                      SELECT v AS dst, lbl FROM lp${k - 1})
                GROUP BY dst, lbl)
              WHERE rn = 1)"""
    }.mkString(",\n            ")

  /** The CDC chunk-digest CTE pair shared by mm_cdc_neardup and
    * mm_cdc_incremental: expects a CTE `u(doc_id, bytes)` in scope and
    * yields `ch(doc_id, digs)` — the exact mirror of
    * [[graft.functions.GraftKernels.cdcChunks]] (base-131 degree-7
    * rolling hash, full-precision 131^t literals, boundary ≡ 0 mod 7,
    * forced boundary at the last byte, FNV-1a-64 digests mod 2^64).
    */
  private def cdcDigestsCte: String =
    s"""bnd AS (
              SELECT doc_id, bytes,
                list_sort(list_distinct(list_concat(
                  list_filter(range(8, len(bytes) + 1), i ->
                    (bytes[(i)::INT]::BIGINT * 1
                     + bytes[(i-1)::INT]::BIGINT * 131
                     + bytes[(i-2)::INT]::BIGINT * 17161
                     + bytes[(i-3)::INT]::BIGINT * 2248091
                     + bytes[(i-4)::INT]::BIGINT * 294499921
                     + bytes[(i-5)::INT]::BIGINT * 38579489651
                     + bytes[(i-6)::INT]::BIGINT * 5053913144281
                     + bytes[(i-7)::INT]::BIGINT * 662062621900811) % 7 = 0),
                  [len(bytes)::BIGINT]))) AS bs
              FROM u),
            ch AS (
              SELECT doc_id,
                list_sort(list_distinct(list_transform(range(1, len(bs) + 1),
                  k -> list_reduce(
                    list_prepend(14695981039346656037::HUGEINT,
                      list_transform(
                        list_slice(bytes,
                          (CASE WHEN k = 1 THEN 0
                                ELSE bs[(k-1)::INT] END)::INT + 1,
                          bs[(k)::INT]::INT),
                        b -> b::HUGEINT)),
                    (acc, x) -> (xor(CAST(acc AS UBIGINT), CAST(x AS UBIGINT))
                                   ::HUGEINT * 1099511628211::HUGEINT)
                                 % 18446744073709551616::HUGEINT)))) AS digs
              FROM bnd)"""

  /** DuckDB-equivalent SQL per query (the driver's correctness oracle). */
  def oracleSql: Map[String, String] = Map(
    // same chunking CTEs as mm_cdc_neardup (no twins); EXHAUSTIVE
    // feed x warehouse scan - candidate losslessness is the graded claim
    // chunk lengths = consecutive diffs of the SAME boundary list the
    // digest CTE cuts with — every chunk counted, not the distinct set
    "mm_chunk_stats" ->
      s"""WITH u AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
            $cdcDigestsCte,
            lens AS (SELECT unnest(list_transform(range(1, len(bs) + 1),
                         k -> bs[(k)::INT] -
                              (CASE WHEN k = 1 THEN 0
                                    ELSE bs[(k-1)::INT] END))) AS len
                     FROM bnd)
         SELECT len, count(*) AS n_chunks
         FROM lens GROUP BY len ORDER BY len""",

    "mm_cdc_incremental" ->
      s"""WITH u AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
            $cdcDigestsCte,
            wh AS (SELECT * FROM ch WHERE doc_id < 250),
            feed AS (SELECT * FROM ch WHERE doc_id >= 250)
         SELECT f.doc_id FROM feed f
         WHERE NOT EXISTS (SELECT 1 FROM wh w
           WHERE 2 * len(list_intersect(f.digs, w.digs))
                 >= len(f.digs) + len(w.digs)
                    - len(list_intersect(f.digs, w.digs)))
         ORDER BY doc_id""",

    // node ids: customer 2k, supplier 2k+1; symmetric edges with outdeg
    // baked in; 10 unrolled integer iterations mirror the Spark loop
    // three unnormalized integer mutual-reinforcement rounds in HUGEINT
    // (mirrors the Spark decimal(38,0) sums digit for digit); the
    // top-100 cut and every ORDER BY rank on the exact integer score
    "graph_hits" ->
      """WITH cs AS MATERIALIZED (
                SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                FROM orders o JOIN lineitem l
                  ON l.l_orderkey = o.o_orderkey),
            h0 AS (SELECT DISTINCT c, 1::HUGEINT AS h FROM cs),
            a1 AS (SELECT s, sum(h) AS a FROM cs JOIN h0 USING (c)
                   GROUP BY s),
            h1 AS (SELECT c, sum(a) AS h FROM cs JOIN a1 USING (s)
                   GROUP BY c),
            a2 AS (SELECT s, sum(h) AS a FROM cs JOIN h1 USING (c)
                   GROUP BY s),
            h2 AS (SELECT c, sum(a) AS h FROM cs JOIN a2 USING (s)
                   GROUP BY c),
            a3 AS MATERIALIZED (
                SELECT s, sum(h) AS a FROM cs JOIN h2 USING (c)
                GROUP BY s),
            h3 AS MATERIALIZED (
                SELECT c, sum(a) AS h FROM cs JOIN a3 USING (s)
                GROUP BY c),
            hub AS (SELECT 'hub' AS side, c AS entity_key,
                        CAST(h AS BIGINT) AS score_raw,
                        round(CAST(h AS DOUBLE) /
                          CAST((SELECT max(h) FROM h3) AS DOUBLE), 6)
                          AS score_norm
                    FROM h3 ORDER BY h DESC, c LIMIT 100),
            aut AS (SELECT 'auth' AS side, s AS entity_key,
                        CAST(a AS BIGINT) AS score_raw,
                        round(CAST(a AS DOUBLE) /
                          CAST((SELECT max(a) FROM a3) AS DOUBLE), 6)
                          AS score_norm
                    FROM a3 ORDER BY a DESC, s LIMIT 100)
         SELECT * FROM (SELECT * FROM hub UNION ALL SELECT * FROM aut)
         ORDER BY side, score_raw DESC, entity_key""",

    // the oracle states the band join as the naive theta join (DuckDB's
    // IEJoin absorbs it at oracle SF) — bucket-expansion losslessness
    // vs the declarative definition IS the graded claim
    "q_events_band_join" ->
      """WITH ev AS (SELECT event_id, event_type,
                         CAST(epoch_us(ts) AS BIGINT) AS tus
                     FROM events),
            p AS (SELECT a.event_id, a.event_type, count(*) AS n_band
                  FROM ev a JOIN ev b
                    ON b.event_id <> a.event_id
                   AND b.tus BETWEEN a.tus - 60000000
                                 AND a.tus + 60000000
                  GROUP BY a.event_id, a.event_type)
         SELECT event_type, count(*) AS n_events_with_neighbors,
                CAST(sum(n_band) AS BIGINT) AS total_band_pairs,
                max(n_band) AS max_band
         FROM p GROUP BY event_type ORDER BY event_type""",

    // exact integer moments, one float division (sample variance / mean)
    "q_events_burstiness" ->
      """WITH d AS (SELECT event_type,
                        CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
                        count(*) AS c
                    FROM events GROUP BY event_type, day),
            m AS (SELECT event_type, count(*) AS n_days,
                      CAST(sum(c) AS BIGINT) AS n_events,
                      CAST(sum(c * c) AS BIGINT) AS ssq
                  FROM d GROUP BY event_type)
         SELECT event_type, n_days, n_events,
                round(CAST(n_days * ssq - n_events * n_events AS DOUBLE) /
                      CAST((n_days - 1) * n_events AS DOUBLE), 6) AS fano
         FROM m ORDER BY event_type""",

    // tie-averaged ranks doubled to integers (2r = 2|less| + |equal| + 1);
    // Pearson-over-ranks on integer moments, one sqrt + one division
    "q_size_price_spearman" ->
      """WITH p AS (SELECT p_brand, CAST(p_size AS DOUBLE) AS sz,
                        p_retailprice AS pr FROM part),
            hx AS (SELECT p_brand, sz, count(*) AS cnt FROM p
                   GROUP BY p_brand, sz),
            rx AS (SELECT p_brand, sz,
                       2 * COALESCE(sum(cnt) OVER (PARTITION BY p_brand
                           ORDER BY sz ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + cnt + 1 AS rx
                   FROM hx),
            hy AS (SELECT p_brand, pr, count(*) AS cnt FROM p
                   GROUP BY p_brand, pr),
            ry AS (SELECT p_brand, pr,
                       2 * COALESCE(sum(cnt) OVER (PARTITION BY p_brand
                           ORDER BY pr ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + cnt + 1 AS ry
                   FROM hy),
            j AS (SELECT p.p_brand, CAST(rx.rx AS BIGINT) AS rx,
                      CAST(ry.ry AS BIGINT) AS ry
                  FROM p JOIN rx ON rx.p_brand = p.p_brand
                                AND rx.sz = p.sz
                         JOIN ry ON ry.p_brand = p.p_brand
                                AND ry.pr = p.pr),
            m AS (SELECT p_brand, count(*) AS n_parts,
                      CAST(sum(rx) AS BIGINT) AS sx,
                      CAST(sum(ry) AS BIGINT) AS sy,
                      CAST(sum(rx * rx) AS BIGINT) AS sxx,
                      CAST(sum(ry * ry) AS BIGINT) AS syy,
                      CAST(sum(rx * ry) AS BIGINT) AS sxy
                  FROM j GROUP BY p_brand)
         SELECT p_brand, n_parts,
                round(CAST(n_parts * sxy - sx * sy AS DOUBLE) /
                      sqrt(CAST(n_parts * sxx - sx * sx AS DOUBLE) *
                           CAST(n_parts * syy - sy * sy AS DOUBLE)), 6)
                  AS spearman
         FROM m ORDER BY p_brand""",

    // combined tie-averaged ranks doubled to integers; doubled U stays
    // BIGINT; tie-corrected z is one sqrt + one division per dow
    "q_value_mannwhitney" ->
      """WITH e AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                        event_type, value FROM events
                    WHERE event_type IN ('purchase', 'click')),
            h AS (SELECT dow, value,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                      CAST(count(*) AS BIGINT) AS ct
                  FROM e GROUP BY dow, value),
            r AS (SELECT dow, c1, ct,
                      2 * COALESCE(sum(ct) OVER (PARTITION BY dow
                          ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) + ct + 1 AS r2
                  FROM h),
            m AS (SELECT dow, CAST(sum(c1) AS BIGINT) AS n1,
                      CAST(sum(ct - c1) AS BIGINT) AS n2,
                      CAST(sum(c1 * r2) AS BIGINT) AS sr1,
                      CAST(sum(ct * ct * ct - ct) AS BIGINT) AS tie
                  FROM r GROUP BY dow)
         SELECT dow, n1, n2,
                CAST(sr1 - n1 * (n1 + 1) AS BIGINT) AS u2x,
                round(CAST(sr1 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE) /
                      (2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 *
                          (CAST(n1 + n2 + 1 AS DOUBLE) -
                           CAST(tie AS DOUBLE) /
                           CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)))),
                      6) AS z
         FROM m ORDER BY dow""",

    // the oracle is the BRUTE-FORCE scored join + global sort the
    // threshold algorithm avoids — a truncating early exit, a wrong
    // bound, or a dropped boundary tie hash-mismatches; decimal sums
    // mirror the discPrice cast discipline, and the ORDER BY runs on
    // the DECIMAL score (bit-stable), with the double cast only in the
    // projection
    "q_rank_join" ->
      """WITH cr AS (SELECT o_custkey AS custkey,
                        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS crev
                     FROM orders GROUP BY 1),
              sr AS (SELECT l_suppkey AS suppkey,
                        SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS srev
                     FROM lineitem GROUP BY 1),
              br AS (SELECT DISTINCT o_custkey AS custkey,
                        l_suppkey AS suppkey
                     FROM orders JOIN lineitem ON l_orderkey = o_orderkey)
         SELECT br.custkey, br.suppkey,
                CAST(cr.crev + sr.srev AS DOUBLE) AS pair_score
         FROM br JOIN cr USING (custkey) JOIN sr USING (suppkey)
         ORDER BY cr.crev + sr.srev DESC, br.custkey, br.suppkey
         LIMIT 20""",

    // the impl counts via the exact fixed-domain BITMAP aggregate; the
    // oracle is plain count(DISTINCT) — grading the bitmap path equal to
    // the reference semantics, not rows-only
    "q_bitmap_distinct" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey) AS n_cust,
                count(*) AS n_orders
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // the impl scans the fact table ONCE into per-day bitmaps and ORs 7
    // per output day; the oracle re-joins the fact table per window (the
    // plan bitmaps exist to avoid) — exact equality grades the bitmap
    // path against the declarative sliding-distinct semantics
    "q_sliding_distinct" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
              days AS (SELECT DISTINCT d AS day FROM e)
         SELECT days.day,
                count(DISTINCT e.user_id) AS n_users_7d,
                count(*) AS n_events_7d
         FROM days JOIN e ON e.d BETWEEN days.day - 6 AND days.day
         GROUP BY days.day
         ORDER BY days.day""",

    // the impl runs the Yannakakis full semi-join reducer; the oracle is
    // the plain declarative join — the reduction must be lossless
    "q_yannakakis" ->
      """SELECT n_name,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                     AS DOUBLE) AS revenue,
                count(DISTINCT c_custkey) AS n_cust,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
           AND r_name = 'EUROPE'
         GROUP BY n_name
         ORDER BY n_name""",

    // first digit from the DECIMAL's canonical string (no float log10);
    // Benford expectations are shared 6dp literals; shares are single
    // float divisions off exact integer counts
    "q_benford_audit" ->
      """WITH d AS (SELECT CAST(regexp_extract(
                        CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             AS VARCHAR), '[1-9]', 0) AS BIGINT) AS digit
                    FROM lineitem),
            h AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_items
                  FROM d GROUP BY digit),
            t AS (SELECT digit, n_items,
                      sum(n_items) OVER () AS total,
                      CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
                      WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
                      WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
                      WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
                      ELSE 0.045757 END AS p
                  FROM h)
         SELECT digit, n_items,
                round(CAST(n_items AS DOUBLE) / CAST(total AS DOUBLE), 6)
                  AS pct,
                CAST(p AS DOUBLE) AS benford_pct,
                round(abs(CAST(n_items AS DOUBLE) / CAST(total AS DOUBLE)
                          - CAST(p AS DOUBLE)), 6) AS abs_dev
         FROM t ORDER BY digit""",

    // Holt double-exponential smoothing: the fold's update expressions
    // are inlined VERBATIM on both engines (Spark aggregate() lambda ==
    // this recursive CTE), so every IEEE op runs in the same order on
    // the same bits; decimal-exact monthly sums cast to double once
    "q_orders_holt" ->
      """WITH RECURSIVE m AS (
              SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                          AS BIGINT) AS ym,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS rev
              FROM orders GROUP BY 1),
            i AS (SELECT ym, rev, row_number() OVER (ORDER BY ym) AS rn
                  FROM m),
            n AS (SELECT max(rn) AS mx FROM i),
            hw AS (
              SELECT CAST(2 AS BIGINT) AS rn, i2.rev AS lvl,
                     i2.rev - i1.rev AS trd, CAST(NULL AS DOUBLE) AS fitted
              FROM i i1, i i2 WHERE i1.rn = 1 AND i2.rn = 2
              UNION ALL
              SELECT i.rn,
                     0.5 * i.rev + 0.5 * (hw.lvl + hw.trd),
                     0.3 * ((0.5 * i.rev + 0.5 * (hw.lvl + hw.trd))
                            - hw.lvl) + 0.7 * hw.trd,
                     hw.lvl + hw.trd
              FROM hw JOIN i ON i.rn = hw.rn + 1)
         SELECT ym, actual, round(fitted, 6) AS fitted,
                round(actual - fitted, 6) AS resid
         FROM (
           SELECT i.ym, i.rev AS actual, CAST(NULL AS DOUBLE) AS fitted
           FROM i WHERE i.rn <= 2
           UNION ALL
           SELECT i.ym, i.rev, hw.fitted
           FROM hw JOIN i ON i.rn = hw.rn WHERE hw.rn >= 3
           UNION ALL
           SELECT CASE WHEN l.ym % 100 = 12 THEN l.ym + 89
                  ELSE l.ym + 1 END,
                  CAST(NULL AS DOUBLE), hw.lvl + hw.trd
           FROM hw, n, i l WHERE hw.rn = n.mx AND l.rn = n.mx)
         ORDER BY ym""",

    // closed-form 2x2 covariance inverse: integer/decimal-exact moments
    // cast to double once, every expression association mirrored
    // verbatim, raw-double (d2 DESC, custkey) top-20 cut
    "q_customer_mahalanobis" ->
      """WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
                          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                               AS DECIMAL(18,2)) AS y
                      FROM orders GROUP BY o_custkey),
            g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                      CAST(sum(x) AS DOUBLE) AS sx,
                      CAST(sum(y) AS DOUBLE) AS sy,
                      CAST(sum(x * x) AS DOUBLE) AS sxx2,
                      CAST(sum(y * y) AS DOUBLE) AS syy2,
                      CAST(sum(x * y) AS DOUBLE) AS sxy2
                  FROM per),
            c AS (SELECT o_custkey, x, y,
                      n * sxx2 - sx * sx AS sxx,
                      n * syy2 - sy * sy AS syy,
                      n * sxy2 - sx * sy AS sxy,
                      n * CAST(x AS DOUBLE) - sx AS dx,
                      n * CAST(y AS DOUBLE) - sy AS dy,
                      n
                  FROM per, g),
            d AS (SELECT o_custkey, x, y,
                      ((n - 1.0) * (syy * dx * dx -
                          2.0 * sxy * dx * dy + sxx * dy * dy)) /
                        (n * (sxx * syy - sxy * sxy)) AS d2
                  FROM c),
            t AS (SELECT * FROM d ORDER BY d2 DESC, o_custkey LIMIT 20)
         SELECT o_custkey, x AS n_orders, CAST(y AS DOUBLE) AS total_spend,
                round(d2, 6) AS mahal_d2
         FROM t ORDER BY mahal_d2 DESC, o_custkey""",

    // pair slopes = decimal-exact revenue diffs / integer index gaps;
    // median selection by (raw slope, i, j) row_number; OLS is one
    // division of decimal-exact integer moments
    "q_orders_theilsen" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                               AS BIGINT) AS ym,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                             AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
            i AS (SELECT ym, rev,
                      CAST(row_number() OVER (ORDER BY ym) AS BIGINT) AS rn
                  FROM m),
            p AS (SELECT a.rn AS i, b.rn AS j,
                      CAST(b.rev - a.rev AS DOUBLE) /
                        CAST(b.rn - a.rn AS DOUBLE) AS slope
                  FROM i a JOIN i b ON b.rn > a.rn),
            r AS (SELECT slope, i, j,
                      CAST(row_number() OVER (ORDER BY slope, i, j)
                           AS BIGINT) AS rk,
                      CAST(count(*) OVER () AS BIGINT) AS np
                  FROM p),
            sen AS (SELECT avg(slope) AS sen_raw, max(np) AS n_pairs
                    FROM r
                    WHERE rk = (np + 1) // 2 OR rk = (np + 2) // 2),
            ols AS (SELECT CAST(count(*) AS BIGINT) AS n_months,
                        CAST(count(*) * sum(rn * rev) - sum(rn) * sum(rev)
                             AS DOUBLE) /
                        CAST(count(*) * sum(rn * rn) - sum(rn) * sum(rn)
                             AS DOUBLE) AS ols_raw
                    FROM i)
         SELECT n_months, n_pairs, round(sen_raw, 6) AS sen_slope,
                round(ols_raw, 6) AS ols_slope
         FROM sen, ols""",

    // endpoint-degree Pearson over the symmetrized bipartite edge list;
    // all five scatter moments exact BIGINTs, one sqrt + one division
    "graph_assortativity" ->
      """WITH cs AS (SELECT DISTINCT o_custkey * 2 AS c,
                         l_suppkey * 2 + 1 AS s
                     FROM orders JOIN lineitem
                       ON l_orderkey = o_orderkey),
            e AS (SELECT c AS src, s AS dst FROM cs
                  UNION ALL
                  SELECT s AS src, c AS dst FROM cs),
            deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
                    FROM e GROUP BY src),
            j AS (SELECT a.deg AS dx, b.deg AS dy, e.src
                  FROM e JOIN deg a ON a.v = e.src
                         JOIN deg b ON b.v = e.dst),
            m AS (SELECT CAST(count(*) AS BIGINT) AS m,
                      CAST(count(DISTINCT src) AS BIGINT) AS n_vertices,
                      CAST(sum(dx) AS BIGINT) AS sx,
                      CAST(sum(dy) AS BIGINT) AS sy,
                      CAST(sum(dx * dx) AS BIGINT) AS sxx,
                      CAST(sum(dy * dy) AS BIGINT) AS syy,
                      CAST(sum(dx * dy) AS BIGINT) AS sxy
                  FROM j)
         SELECT m AS n_edges, n_vertices,
                round(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6)
                  AS avg_degree,
                round(CAST(m * sxy - sx * sy AS DOUBLE) /
                      sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
                           CAST(m * syy - sy * sy AS DOUBLE)), 6)
                  AS assortativity
         FROM m""",

    // decimal-exact daily sums; zero moves drop; R = 1 + sign changes;
    // z = A / sqrt(B / (n-1)) stays integer until one division + sqrt
    "q_orders_runs_test" ->
      """WITH d AS (SELECT CAST(epoch_us(o_orderdate) AS BIGINT)
                           // 86400000000 AS day,
                        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                    FROM orders GROUP BY 1),
            mv AS (SELECT day,
                       CASE WHEN rev > lag(rev) OVER (ORDER BY day)
                            THEN 1 ELSE 0 END AS up,
                       lag(rev) OVER (ORDER BY day) AS prev, rev
                   FROM d),
            k AS (SELECT day, CAST(up AS BIGINT) AS up FROM mv
                  WHERE prev IS NOT NULL AND rev <> prev),
            sq AS (SELECT up, lag(up) OVER (ORDER BY day) AS pu FROM k),
            m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(up) AS BIGINT) AS n1,
                      CAST(sum(1 - up) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN pu IS NOT NULL AND pu <> up
                               THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r
                  FROM sq)
         SELECT n AS n_moves, n1 AS n_up, n2 AS n_down, r AS n_runs,
                round(CAST((r - 1) * n - 2 * n1 * n2 AS DOUBLE) /
                      sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n)
                                AS DOUBLE) /
                           CAST(n - 1 AS DOUBLE)), 6) AS z
         FROM m""",

    // 24x10 (hour, ntile-decile) grid; concordance over cell pairs;
    // doubled tie terms with a doubled numerator keep tau-b standard;
    // sub-sqrt factors cast to double BEFORE multiplying (product tops
    // 2^63 at sf0.1, each factor far under 2^53)
    "q_events_kendall" ->
      """WITH e AS (SELECT (CAST(epoch_us(ts) AS BIGINT) // 3600000000)
                           % 24 AS hr,
                        CAST(ntile(10) OVER (ORDER BY value, event_id)
                             AS BIGINT) AS dec
                    FROM events),
            cells AS (SELECT hr, dec, CAST(count(*) AS BIGINT) AS n
                      FROM e GROUP BY hr, dec),
            p AS (SELECT
                      CAST(sum(CASE WHEN a.dec < b.dec
                               THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c,
                      CAST(sum(CASE WHEN a.dec > b.dec
                               THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d
                  FROM cells a JOIN cells b ON a.hr < b.hr),
            tx AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS tx2,
                       CAST(sum(t) AS BIGINT) AS ntot
                   FROM (SELECT sum(n) AS t FROM cells GROUP BY hr)),
            ty AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS ty2
                   FROM (SELECT sum(n) AS t FROM cells GROUP BY dec))
         SELECT ntot AS n_events, c AS concordant, d AS discordant,
                round(CAST(2 * (c - d) AS DOUBLE) /
                      sqrt(CAST(ntot * (ntot - 1) - tx2 AS DOUBLE) *
                           CAST(ntot * (ntot - 1) - ty2 AS DOUBLE)), 6)
                  AS kendall_tau_b
         FROM p, tx, ty""",

    // full r x c grid including zero-observed cells; (o-e)^2/e off
    // exact integer counts; float sum over <=150 cells under the 6dp
    // round (the entropy convention)
    "q_part_chi2" ->
      """WITH obs AS (SELECT p_type, p_brand,
                          CAST(count(*) AS BIGINT) AS o
                      FROM part GROUP BY p_type, p_brand),
            rt AS (SELECT p_type, CAST(sum(o) AS BIGINT) AS rt
                   FROM obs GROUP BY p_type),
            ct AS (SELECT p_brand, CAST(sum(o) AS BIGINT) AS ct
                   FROM obs GROUP BY p_brand),
            tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                        CAST(count(DISTINCT p_type) AS BIGINT) AS r,
                        CAST(count(DISTINCT p_brand) AS BIGINT) AS c
                    FROM obs),
            cell AS (SELECT n, r, c,
                         CAST(COALESCE(o, 0) AS DOUBLE) AS od,
                         CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) /
                           CAST(n AS DOUBLE) AS e
                     FROM rt CROSS JOIN ct
                     LEFT JOIN obs USING (p_type, p_brand)
                     CROSS JOIN tot),
            agg AS (SELECT n, r, c,
                        sum((od - e) * (od - e) / e) AS chi2raw
                    FROM cell GROUP BY n, r, c)
         SELECT n AS n_parts, r AS n_types, c AS n_brands,
                CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
                round(chi2raw, 6) AS chi2,
                round(sqrt(chi2raw /
                      (CAST(n AS DOUBLE) *
                       CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
                  AS cramers_v
         FROM agg""",

    // 200 deterministic Lehmer-mixed half-samples; decimal-exact
    // subsample means; CI = ranks 5/195 by (raw mean, replicate)
    "q_orders_subsample_ci" ->
      """WITH base AS (SELECT o_orderkey AS k,
                           CAST(o_totalprice AS DECIMAL(18,2)) AS p
                       FROM orders),
            x AS (SELECT k, p, unnest(range(0, 200)) AS b FROM base),
            kept AS (SELECT b, p FROM x
                     WHERE (k * 2654435761 + b * 40503 + 692873)
                           % 2147483647 * 48271 % 2147483647
                           < 1073741824),
            means AS (SELECT b,
                          CAST(sum(p) AS DOUBLE) /
                            CAST(count(*) AS DOUBLE) AS mean
                      FROM kept GROUP BY b),
            r AS (SELECT mean, b,
                      row_number() OVER (ORDER BY mean, b) AS rk
                  FROM means),
            ci AS (SELECT min(mean) AS lo, max(mean) AS hi
                   FROM r WHERE rk = 5 OR rk = 195),
            f AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
                      CAST(sum(p) AS DOUBLE) /
                        CAST(count(*) AS DOUBLE) AS mean_full
                  FROM base)
         SELECT n_orders, CAST(200 AS BIGINT) AS n_resamples,
                round(mean_full, 6) AS mean_order_value,
                round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
         FROM ci, f""",

    // exact integer transition counts; per-state H = log2(n_a) -
    // (sum c*log2(c))/n_a; rate = count-weighted mean of state
    // entropies (<=|types|-term float folds under the 6dp round)
    "q_events_entropy_rate" ->
      """WITH t AS (SELECT user_id, event_type AS cur,
                        CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
                    FROM events),
            l AS (SELECT cur,
                      lag(cur) OVER (PARTITION BY user_id
                                     ORDER BY tus, event_id) AS prev
                  FROM t),
            tr AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
                   FROM l WHERE prev IS NOT NULL GROUP BY prev, cur),
            ps AS (SELECT prev, CAST(count(*) AS BIGINT) AS n_next_types,
                       CAST(sum(c) AS BIGINT) AS n_a,
                       sum(CAST(c AS DOUBLE) *
                           log2(CAST(c AS DOUBLE))) AS clog
                   FROM tr GROUP BY prev),
            h AS (SELECT prev, n_next_types, n_a,
                      log2(CAST(n_a AS DOUBLE)) -
                        clog / CAST(n_a AS DOUBLE) AS h_raw
                  FROM ps),
            r AS (SELECT sum(CAST(n_a AS DOUBLE) * h_raw) /
                      CAST(sum(n_a) AS DOUBLE) AS rate_raw
                  FROM h)
         SELECT prev AS state, n_next_types, n_a AS n_transitions,
                round(h_raw, 6) AS cond_entropy_bits,
                round(rate_raw, 6) AS entropy_rate_bits
         FROM h, r ORDER BY state""",

    // lower-median and MAD as EXACT decimal selections by a total
    // order; one float division per month; 1.4826 shared literal
    "q_orders_mad_outliers" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                               AS BIGINT) AS ym,
                        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                             AS DECIMAL(18,2)) AS rev
                    FROM orders GROUP BY 1),
            mr AS (SELECT rev, row_number() OVER (ORDER BY rev, ym) AS rk,
                       count(*) OVER () AS nn
                   FROM m),
            med AS (SELECT rev AS med FROM mr WHERE rk = (nn + 1) // 2),
            dev AS (SELECT ym, rev, med, abs(rev - med) AS dv
                    FROM m, med),
            dr AS (SELECT dv, row_number() OVER (ORDER BY dv, ym) AS rk,
                       count(*) OVER () AS nn
                   FROM dev),
            mad AS (SELECT dv AS mad FROM dr WHERE rk = (nn + 1) // 2)
         SELECT ym, CAST(rev AS DOUBLE) AS revenue,
                round(CAST(rev - med AS DOUBLE) /
                      (1.4826 * CAST(mad AS DOUBLE)), 6) AS robust_z,
                abs(CAST(rev - med AS DOUBLE) /
                    (1.4826 * CAST(mad AS DOUBLE))) > 3.0 AS is_outlier
         FROM dev, mad ORDER BY ym""",

    // LPA labels via the same unrolled vote CTEs; modularity num_c =
    // 4m*e_c - D_c^2 stays BIGINT; the community sum is integer-exact
    // and ONE division produces the score
    "graph_modularity" ->
      s"""WITH cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
            e AS (SELECT c AS src, s AS dst FROM cs
                  UNION ALL
                  SELECT s AS src, c AS dst FROM cs),
            lp0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
            ${lpaSteps(4)},
            deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
                    FROM e GROUP BY src),
            mm AS (SELECT CAST(sum(d) AS BIGINT) // 2 AS m FROM deg),
            dc AS (SELECT p.lbl, CAST(sum(d.d) AS BIGINT) AS dsum,
                       CAST(count(*) AS BIGINT) AS n_members
                   FROM lp4 p JOIN deg d ON d.v = p.v GROUP BY p.lbl),
            ic AS (SELECT a.lbl, CAST(count(*) AS BIGINT) // 2 AS e_in
                   FROM e JOIN lp4 a ON a.v = e.src
                          JOIN lp4 b ON b.v = e.dst
                   WHERE a.lbl = b.lbl GROUP BY a.lbl),
            pc AS (SELECT dc.lbl, n_members, dsum,
                       COALESCE(e_in, CAST(0 AS BIGINT)) AS e_in, m,
                       4 * m * COALESCE(e_in, CAST(0 AS BIGINT))
                         - dsum * dsum AS num
                   FROM dc LEFT JOIN ic ON ic.lbl = dc.lbl CROSS JOIN mm),
            t AS (SELECT *, CAST(sum(num) OVER () AS BIGINT) AS total
                  FROM pc)
         SELECT CASE WHEN lbl % 2 = 0 THEN 'customer'
                ELSE 'supplier' END AS community_type,
                CAST(lbl // 2 AS BIGINT) AS community_key,
                n_members, dsum AS degree_sum, e_in AS internal_edges,
                round(CAST(num AS DOUBLE) /
                      CAST(4 * m * m AS DOUBLE), 6) AS contribution,
                round(CAST(total AS DOUBLE) /
                      CAST(4 * m * m AS DOUBLE), 6) AS modularity
         FROM t ORDER BY community_type, community_key""",

    // 8-source Brandes, forward+backward unrolled to the shared level
    // cap; every float aggregation is an ORDERed list_reduce mirroring
    // the Spark plan's sorted collect_list folds
    "graph_betweenness" ->
      betweennessOracle(graft.operators.Relational.BetweennessMaxLevel),

    // harmonic closeness over the SAME recomputed forward pass (the
    // Spark side reads the shared brandes_vis artifact — stored ≡
    // recompute is the graded claim); 1/d sums as the exact BIGINT
    // 27720 // d, one division lands 6dp
    "graph_closeness" ->
      closenessOracle(graft.operators.Relational.BetweennessMaxLevel),

    // weighted SSSP: all-integer Bellman-Ford, unrolled to the shared
    // round cap; the Spark side's frontier relaxation has identical
    // <= k-edge-path semantics per round
    "graph_weighted_sssp" ->
      ssspOracle(graft.operators.Relational.SsspMaxRounds),

    // one-move Louvain ΔQ over the recomputed LPA labels (grades the
    // STORED labeling the Spark side reads): gain_num = 2m(k_vB −
    // k_vA′) − k_v(D_B − D_A + k_v) stays BIGINT; best move per vertex
    // by (gain desc, community asc); top-20 total order (gain_num desc,
    // vertex asc) mirrored before projection; ONE division lands 6dp
    "graph_louvain_gain" ->
      s"""WITH cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
            e AS (SELECT c AS src, s AS dst FROM cs
                  UNION ALL
                  SELECT s AS src, c AS dst FROM cs),
            lp0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
            ${lpaSteps(4)},
            deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
                    FROM e GROUP BY src),
            mm AS (SELECT CAST(sum(d) AS BIGINT) // 2 AS m FROM deg),
            dc AS (SELECT p.lbl, CAST(sum(d.d) AS BIGINT) AS dsum
                   FROM lp4 p JOIN deg d ON d.v = p.v GROUP BY p.lbl),
            vnb AS (SELECT e.src, p.lbl AS nl,
                        CAST(count(*) AS BIGINT) AS kvb
                    FROM e JOIN lp4 p ON p.v = e.dst
                    GROUP BY e.src, p.lbl),
            own AS (SELECT v AS src, lbl AS la FROM lp4),
            kva AS (SELECT vnb.src, kvb AS kvown
                    FROM vnb JOIN own ON own.src = vnb.src
                    WHERE vnb.nl = own.la),
            cand AS (SELECT vnb.src, own.la, vnb.nl, vnb.kvb,
                        COALESCE(kva.kvown, CAST(0 AS BIGINT)) AS kvown,
                        dv.d AS kv, db.dsum AS db, da.dsum AS da, mm.m
                     FROM vnb
                     JOIN own ON own.src = vnb.src
                     LEFT JOIN kva ON kva.src = vnb.src
                     JOIN deg dv ON dv.v = vnb.src
                     JOIN dc db ON db.lbl = vnb.nl
                     JOIN dc da ON da.lbl = own.la
                     CROSS JOIN mm
                     WHERE vnb.nl <> own.la),
            g AS (SELECT src, la, nl, kv, m,
                      2 * m * (kvb - kvown) - kv * (db - da + kv)
                        AS gain_num
                  FROM cand),
            best AS (SELECT src, la, kv, m, gain_num, nl AS lb
                     FROM (SELECT *, row_number() OVER (
                             PARTITION BY src
                             ORDER BY gain_num DESC, nl ASC) AS rn
                           FROM g)
                     WHERE rn = 1),
            topk AS (SELECT * FROM best
                     ORDER BY gain_num DESC, src LIMIT 20)
         SELECT CASE WHEN src % 2 = 0 THEN 'customer'
                ELSE 'supplier' END AS node_type,
                CAST(src // 2 AS BIGINT) AS entity_key,
                CAST(la AS BIGINT) AS from_label,
                CAST(lb AS BIGINT) AS to_label,
                kv AS degree,
                round(CAST(gain_num AS DOUBLE) /
                      CAST(2 * m * m AS DOUBLE), 6) AS gain
         FROM topk ORDER BY gain_num DESC, src""",

    // Adamic-Adar + Resource-Allocation over supplier–part: ranking is
    // the INTEGER ra numerator over lcm(1..16) = 720720 (720720 // d is
    // exact for every capped degree), so no float orders the top-20;
    // the AA fold is the p-ORDERed list_reduce mirroring Spark's
    // sorted collect_list fold
    "graph_link_prediction" ->
      s"""WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                      FROM lineitem),
            deg AS (SELECT p, CAST(count(*) AS BIGINT) AS d
                    FROM sp GROUP BY p
                    HAVING count(*) BETWEEN 2 AND
                      ${graft.operators.Relational.LinkPredDfCap}),
            e AS (SELECT sp.p, sp.s, deg.d FROM sp JOIN deg USING (p)),
            pr AS (SELECT a.s AS s1, b.s AS s2, a.p, a.d
                   FROM e a JOIN e b ON a.p = b.p AND a.s < b.s),
            g AS (SELECT s1, s2, CAST(count(*) AS BIGINT)
                      AS n_shared_parts,
                      CAST(sum(720720 // d) AS BIGINT) AS ra_num,
                      list_reduce(
                        list(1.0 / ln(CAST(d AS DOUBLE)) ORDER BY p),
                        (x, y) -> x + y) AS aa
                  FROM pr GROUP BY s1, s2),
            topk AS (SELECT * FROM g
                     ORDER BY ra_num DESC, s1, s2 LIMIT 20)
         SELECT CAST(s1 AS BIGINT) AS s1_suppkey,
                CAST(s2 AS BIGINT) AS s2_suppkey,
                n_shared_parts,
                round(CAST(ra_num AS DOUBLE) / 720720.0, 6) AS ra_score,
                round(aa, 6) AS aa_score
         FROM topk ORDER BY ra_num DESC, s1, s2""",

    // decimal-exact revenue through the year-shifted customer semi-join;
    // the two rates are single 6dp divisions
    "q_revenue_retention" ->
      """WITH yc AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                         o_custkey,
                         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                     FROM orders GROUP BY yr, o_custkey),
            tot AS (SELECT yr, sum(rev) AS tot_rev,
                        count(*) AS n_customers
                    FROM yc GROUP BY yr),
            ret AS (SELECT cur.yr, sum(cur.rev) AS ret_rev,
                        count(*) AS n_retained
                    FROM yc cur JOIN yc prev
                      ON prev.o_custkey = cur.o_custkey
                     AND prev.yr = cur.yr - 1
                    GROUP BY cur.yr)
         SELECT t.yr, CAST(t.tot_rev AS DOUBLE) AS tot_rev,
                r.n_retained,
                round(CAST(r.ret_rev AS DOUBLE) /
                      CAST(p.tot_rev AS DOUBLE), 6) AS nrr,
                round(CAST(r.n_retained AS DOUBLE) / p.n_customers, 6)
                  AS logo_retention
         FROM tot t JOIN ret r ON r.yr = t.yr
         JOIN tot p ON p.yr = t.yr - 1
         ORDER BY t.yr""",

    // exact integer set sizes from one deduplicated (user, type)
    // relation; Jaccard is the single 6dp float
    "q_user_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
            s AS (SELECT event_type, count(*) AS n FROM ut
                  GROUP BY event_type),
            i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      count(*) AS n_both
                  FROM ut a JOIN ut b
                    ON b.user_id = a.user_id
                   AND a.event_type < b.event_type
                  GROUP BY type_a, type_b)
         SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
                round(CAST(i.n_both AS DOUBLE) /
                      (sa.n + sb.n - i.n_both), 6) AS jaccard
         FROM i JOIN s sa ON sa.event_type = i.type_a
                JOIN s sb ON sb.event_type = i.type_b
         ORDER BY i.type_a, i.type_b""",

    // same min-after-min stage timestamps as q_events_funnel; exact
    // integer micro gaps, quantile_cont mirrors Spark's percentile
    "q_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type,
                        CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
            v AS (SELECT user_id, min(tus) AS v_ts FROM e
                  WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.tus) AS c_ts FROM e
                  JOIN v ON v.user_id = e.user_id
                  WHERE e.event_type = 'click' AND e.tus > v.v_ts
                  GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.tus) AS p_ts FROM e
                  JOIN c ON c.user_id = e.user_id
                  WHERE e.event_type = 'purchase' AND e.tus > c.c_ts
                  GROUP BY e.user_id),
            g AS (SELECT 'view>click' AS transition,
                      c.c_ts - v.v_ts AS gap_us
                  FROM v JOIN c ON c.user_id = v.user_id
                  UNION ALL
                  SELECT 'click>purchase', p.p_ts - c.c_ts
                  FROM c JOIN p ON p.user_id = c.user_id)
         SELECT transition, count(*) AS n_users,
                round(quantile_cont(gap_us, 0.5), 6) AS p50_us,
                round(quantile_cont(gap_us, 0.95), 6) AS p95_us,
                min(gap_us) AS min_us, max(gap_us) AS max_us
         FROM g GROUP BY transition ORDER BY transition""",

    // exp of an ORDERED running ln-sum: both engines fold the identical
    // sequence, libm ulp sits nine orders under the 6dp round; ln(0) at
    // the final offset collapses survival to exactly 0.0 on both
    "q_customer_survival" ->
      """WITH life AS (SELECT (max(CAST(epoch_us(o_orderdate) AS BIGINT)
                               // 86400000000)
                             - min(CAST(epoch_us(o_orderdate) AS BIGINT)
                               // 86400000000)) // 30 AS life_m
                       FROM orders GROUP BY o_custkey),
            d AS (SELECT life_m, count(*) AS d FROM life GROUP BY life_m),
            n AS (SELECT life_m, d,
                      CAST(sum(d) OVER (ORDER BY life_m
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                        AS BIGINT) AS n_at_risk
                  FROM d),
            r AS (SELECT life_m, d, n_at_risk,
                      1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
                        AS ratio
                  FROM n),
            s AS (SELECT life_m, d, n_at_risk, ratio,
                      CASE WHEN ratio > 0.0 THEN ln(ratio)
                           ELSE 0.0 END AS lnr
                  FROM r)
         SELECT life_m, d AS n_churned, n_at_risk,
                CASE WHEN min(ratio) OVER w = 0.0 THEN 0.0
                     ELSE round(exp(sum(lnr) OVER w), 6) END AS survival
         FROM s
         WINDOW w AS (ORDER BY life_m
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY life_m""",

    // ten unrolled integer-ppm power-iteration steps (pagerank
    // arithmetic on the dense |types|^2 chain) — the same truncating
    // div on both engines, bit-identical intermediates, no float
    "q_markov_stationary" -> {
      val steps = (1 to 10).map { k =>
        s"""p$k AS (SELECT m.cur AS state,
                  CAST(sum((p.ppm * m.n) // m.r) AS BIGINT) AS ppm
              FROM m JOIN p${k - 1} p ON p.state = m.prev
              GROUP BY m.cur)"""
      }.mkString(",\n            ")
      s"""WITH e AS (SELECT user_id, event_type AS cur,
                  CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
              FROM events),
            l AS (SELECT cur,
                      lag(cur) OVER (PARTITION BY user_id
                                     ORDER BY tus, event_id) AS prev
                  FROM e),
            t AS (SELECT prev, cur, count(*) AS n FROM l
                  WHERE prev IS NOT NULL GROUP BY prev, cur),
            m AS (SELECT t.prev, t.cur, t.n, r.r FROM t
                  JOIN (SELECT prev, CAST(sum(n) AS BIGINT) AS r
                        FROM t GROUP BY prev) r ON r.prev = t.prev),
            p0 AS (SELECT DISTINCT prev AS state, 1000000::BIGINT AS ppm
                   FROM t),
            $steps
         SELECT state, ppm FROM p10 ORDER BY state"""
    },

    // centered-7-day MA trend (exact integer sum, one division), full
    // windows only; residual means sit far under the 6dp round
    "q_events_seasonality" ->
      """WITH daily AS (SELECT event_type,
                            CAST(epoch_us(ts) AS BIGINT) // 86400000000
                              AS day, count(*) AS c
                        FROM events GROUP BY event_type, day),
            t AS (SELECT event_type, day, c,
                      count(*) OVER w AS w_n,
                      sum(c) OVER w AS w_sum
                  FROM daily
                  WINDOW w AS (PARTITION BY event_type ORDER BY day
                               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            r AS (SELECT event_type, day % 7 AS dow,
                      CAST(c AS DOUBLE) - CAST(w_sum AS DOUBLE) / 7.0 AS r
                  FROM t WHERE w_n = 7)
         SELECT event_type, dow, count(*) AS n_days,
                round(avg(r), 6) AS seasonal_idx
         FROM r GROUP BY event_type, dow
         ORDER BY event_type, dow""",

    // one NOT EXISTS block per FK edge; all-integer counts
    "q_dq_referential" ->
      """SELECT * FROM (
           SELECT 'customer.nationkey->nation' AS fk_edge,
                  (SELECT count(*) FROM customer) AS n_child,
                  (SELECT count(*) FROM customer c WHERE NOT EXISTS
                     (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
           UNION ALL
           SELECT 'lineitem.orderkey->orders',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey))
           UNION ALL
           SELECT 'lineitem.partkey->part',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM part p
                      WHERE p.p_partkey = l.l_partkey))
           UNION ALL
           SELECT 'lineitem.suppkey->supplier',
                  (SELECT count(*) FROM lineitem),
                  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                     (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey))
           UNION ALL
           SELECT 'nation.regionkey->region',
                  (SELECT count(*) FROM nation),
                  (SELECT count(*) FROM nation n WHERE NOT EXISTS
                     (SELECT 1 FROM region r
                      WHERE r.r_regionkey = n.n_regionkey))
           UNION ALL
           SELECT 'orders.custkey->customer',
                  (SELECT count(*) FROM orders),
                  (SELECT count(*) FROM orders o WHERE NOT EXISTS
                     (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey))
           UNION ALL
           SELECT 'supplier.nationkey->nation',
                  (SELECT count(*) FROM supplier),
                  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                     (SELECT 1 FROM nation n
                      WHERE n.n_nationkey = s.s_nationkey)))
         ORDER BY fk_edge""",

    // exact integer epoch-day latencies; quantile_cont mirrors Spark's
    // exact interpolated percentile
    "q_order_latency" ->
      """WITH j AS (SELECT o.o_orderpriority,
                        CAST(epoch_us(l.l_shipdate) AS BIGINT) // 86400000000
                          - CAST(epoch_us(o.o_orderdate) AS BIGINT)
                            // 86400000000 AS lat
                    FROM lineitem l JOIN orders o
                      ON o.o_orderkey = l.l_orderkey)
         SELECT o_orderpriority, count(*) AS n_items,
                round(quantile_cont(lat, 0.5), 6) AS p50_days,
                round(quantile_cont(lat, 0.95), 6) AS p95_days,
                CAST(sum(CASE WHEN lat > 60 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_over_60d
         FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // the oracle IS the full recompute — delta-merge equivalence over the
    // per-(month, customer) auxiliary view is the graded IVM claim
    "warehouse_ivm" ->
      """WITH pairs AS (SELECT
                CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
                  AS ym,
                o_custkey, count(*) AS n,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
              FROM orders GROUP BY ym, o_custkey)
         SELECT ym, CAST(sum(n) AS BIGINT) AS n_orders,
                CAST(sum(rev) AS DOUBLE) AS revenue,
                count(*) AS n_customers
         FROM pairs GROUP BY ym ORDER BY ym""",

    // RANGE frame includes all day-peers by SQL standard on both engines;
    // decimal-exact sums, exact integer day arithmetic
    "q_cust_rolling_ltv" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                        CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000
                          AS day,
                        CAST(o_totalprice AS DECIMAL(18,2)) AS total
                    FROM orders)
         SELECT o_custkey, o_orderkey, day,
                CAST(CAST(sum(total) OVER w AS DECIMAL(18,2)) AS DOUBLE)
                  AS ltv_365,
                count(*) OVER w AS n_orders_365
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                      RANGE BETWEEN 365 PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, day, o_orderkey""",

    // exact decimal year sums; the residual-free two-factor split
    // dRev = dN*aov0 + n1*dAov with deterministic double products
    "q_orders_growth_decomp" ->
      """WITH y AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                        count(*) AS n_orders,
                        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
                    FROM orders GROUP BY yr),
            l AS (SELECT yr, n_orders, rev,
                      lag(n_orders) OVER (ORDER BY yr) AS p_n,
                      lag(rev) OVER (ORDER BY yr) AS p_rev
                  FROM y)
         SELECT yr, n_orders, CAST(rev AS DOUBLE) AS rev,
                round(CAST(rev AS DOUBLE) - CAST(p_rev AS DOUBLE), 2)
                  AS delta_rev,
                round((n_orders - p_n) * (CAST(p_rev AS DOUBLE) / p_n), 6)
                  AS volume_effect,
                round(n_orders * (CAST(rev AS DOUBLE) / n_orders -
                      CAST(p_rev AS DOUBLE) / p_n), 6) AS mix_effect
         FROM l WHERE p_n IS NOT NULL ORDER BY yr""",

    // dyadic-exact weighted sums (2^-k weights, integer counts): addition
    // never rounds, so only the final division is a float op
    "q_events_ewma" ->
      """WITH daily AS (SELECT event_type,
                            CAST(epoch_us(ts) AS BIGINT) // 86400000000
                              AS day, count(*) AS c
                        FROM events GROUP BY event_type, day)
         SELECT a.event_type, a.day, a.c,
                round(sum(b.c * pow(0.5, a.day - b.day)) /
                      sum(pow(0.5, a.day - b.day)), 6) AS ewma
         FROM daily a JOIN daily b
           ON b.event_type = a.event_type
          AND b.day BETWEEN a.day - 19 AND a.day
         GROUP BY a.event_type, a.day, a.c
         ORDER BY a.event_type, a.day""",

    // exact integer epoch-day gaps -> integer moments -> one division and
    // one correctly-rounded sqrt
    "q_orders_interarrival" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                        CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000
                          AS day
                    FROM orders),
            g AS (SELECT o_custkey,
                      day - lag(day) OVER (PARTITION BY o_custkey
                                           ORDER BY day, o_orderkey) AS g
                  FROM o),
            j AS (SELECT c.c_mktsegment, g.g FROM g
                  JOIN customer c ON c.c_custkey = g.o_custkey
                  WHERE g.g IS NOT NULL),
            m AS (SELECT c_mktsegment, count(*) AS n_gaps,
                      CAST(sum(g) AS BIGINT) AS sg,
                      CAST(sum(g * g) AS BIGINT) AS sgg
                  FROM j GROUP BY c_mktsegment)
         SELECT c_mktsegment, n_gaps,
                round(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_days,
                round(sqrt(CAST(n_gaps * sgg - sg * sg AS DOUBLE) /
                           CAST(n_gaps * (n_gaps - 1) AS DOUBLE)) /
                      (CAST(sg AS DOUBLE) / n_gaps), 6) AS cv
         FROM m ORDER BY c_mktsegment""",

    // integer term counts -> vocabulary-sized rollup; two 6dp divisions
    "text_hapax" ->
      """WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term
                     FROM documents),
            df AS (SELECT source, term, count(*) AS n FROM tf
                   GROUP BY source, term),
            m AS (SELECT source, count(*) AS vocab,
                      CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS hapax,
                      CAST(sum(n) AS BIGINT) AS n_tokens
                  FROM df GROUP BY source)
         SELECT source, vocab, hapax, n_tokens,
                round(CAST(hapax AS DOUBLE) / vocab, 6) AS hapax_share,
                round(CAST(vocab AS DOUBLE) / n_tokens, 6)
                  AS type_token_ratio
         FROM m ORDER BY source""",

    // integer moments (vocab, N, sum f(f-1)); the three diversity
    // outputs are single float divisions off the same integer pair
    "text_simpson_diversity" ->
      """WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term
                     FROM documents),
            df AS (SELECT source, term, count(*) AS f FROM tf
                   GROUP BY source, term),
            m AS (SELECT source, count(*) AS vocab,
                      CAST(sum(f) AS BIGINT) AS n_tokens,
                      CAST(sum(f * (f - 1)) AS BIGINT) AS coll
                  FROM df GROUP BY source)
         SELECT source, n_tokens, vocab,
                round(CAST(coll AS DOUBLE) /
                      CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6)
                  AS simpson,
                round(1.0 - CAST(coll AS DOUBLE) /
                      CAST(n_tokens * (n_tokens - 1) AS DOUBLE), 6)
                  AS gini_simpson,
                round(CAST(n_tokens * (n_tokens - 1) AS DOUBLE) /
                      CAST(coll AS DOUBLE), 6) AS inv_simpson
         FROM m ORDER BY source""",

    // gaps-and-islands: day - dense_rank(day) is constant exactly within
    // a consecutive run; all-integer epoch-day arithmetic
    "q_user_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
                        CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day
                    FROM events),
            i AS (SELECT user_id, day,
                      day - dense_rank() OVER (PARTITION BY user_id
                                               ORDER BY day) AS isl
                  FROM d),
            s AS (SELECT user_id, isl, count(*) AS len
                  FROM i GROUP BY user_id, isl)
         SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
                count(*) AS n_streaks, max(len) AS longest_streak
         FROM s GROUP BY user_id ORDER BY user_id""",

    // HHI on exact integer ten-thousandths (2dp price x 2dp discount
    // -> scale 4), squared in HUGEINT; one float division at the end
    "q_supplier_hhi" ->
      """WITH r AS (SELECT l_suppkey,
                        sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            CAST(1.0 - l_discount AS DECIMAL(4,2))) AS rev
                    FROM lineitem GROUP BY l_suppkey),
            x AS (SELECT l_suppkey, CAST(rev * 10000 AS HUGEINT) AS x
                  FROM r),
            j AS (SELECT n_name, x FROM x
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation ON n_nationkey = s_nationkey)
         SELECT n_name, count(*) AS n_suppliers,
                round(CAST(sum(x * x) AS DOUBLE) /
                      CAST(sum(x) * sum(x) AS DOUBLE), 6) AS hhi,
                round(CAST(max(x) AS DOUBLE) /
                      CAST(sum(x) AS DOUBLE), 6) AS top_share
         FROM j GROUP BY n_name ORDER BY n_name""",

    // integer hour bins from exact epoch micros; ln is the only float
    // and its ulp noise sits far below the 6dp round
    "q_events_entropy" ->
      """WITH h AS (SELECT event_type,
                        (CAST(epoch_us(ts) AS BIGINT) // 3600000000) % 24
                          AS hr,
                        count(*) AS c
                    FROM events GROUP BY event_type, hr)
         SELECT event_type, count(*) AS n_hours,
                CAST(sum(c) AS BIGINT) AS n_events,
                round(ln(CAST(sum(c) AS DOUBLE)) -
                      sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) /
                      CAST(sum(c) AS DOUBLE), 6) AS entropy,
                round((ln(CAST(sum(c) AS DOUBLE)) -
                      sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) /
                      CAST(sum(c) AS DOUBLE)) / ln(24.0), 6)
                  AS norm_entropy
         FROM h GROUP BY event_type ORDER BY event_type""",

    // adjacent-bigram PMI: every count exact integer, support cut and
    // output order all-integer, ln the single rounded float
    "text_collocations" ->
      """WITH tk AS (SELECT string_split(text, ' ') AS ts FROM documents),
            bg AS (SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
                        unnest(list_slice(ts, 2, len(ts))) AS w2
                   FROM tk),
            cb AS MATERIALIZED (
                SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
            m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cb
                   GROUP BY w1),
            m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM cb
                   GROUP BY w2),
            n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM cb)
         SELECT cb.w1, cb.w2, c12,
                round(ln(CAST(c12 * n_bigrams AS DOUBLE) /
                         CAST(c1 * c2 AS DOUBLE)), 6) AS pmi
         FROM cb JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
         WHERE c12 >= 5
         ORDER BY c12 DESC, w1, w2""",

    "graph_pagerank" ->
      s"""WITH cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
            e0 AS (SELECT c AS src, s AS dst FROM cs
                   UNION ALL
                   SELECT s AS src, c AS dst FROM cs),
            deg AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
            e AS (SELECT e0.src, e0.dst, deg.outdeg
                  FROM e0 JOIN deg USING (src)),
            pr0 AS (SELECT DISTINCT src AS v, 1000000::BIGINT AS s FROM e0),
            ${pagerankSteps(10)}
         SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(v // 2 AS BIGINT) AS entity_key,
                s AS score_ppm
         FROM pr10
         ORDER BY score_ppm DESC, node_type, entity_key""",

    // personalized pagerank: same integer spread arithmetic, teleport
    // as literal union rows landing ONLY on the 4-seed set; 10
    // unrolled rounds match the Spark loop bit-for-bit
    "graph_ppr" ->
      s"""WITH cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
            e0 AS (SELECT c AS src, s AS dst FROM cs
                   UNION ALL
                   SELECT s AS src, c AS dst FROM cs),
            deg AS (SELECT src, count(*) AS outdeg FROM e0 GROUP BY src),
            e AS MATERIALIZED (SELECT e0.src, e0.dst, deg.outdeg
                  FROM e0 JOIN deg USING (src)),
            sd AS MATERIALIZED (SELECT DISTINCT src AS v FROM e0
                  WHERE src % 2 = 0 ORDER BY v LIMIT 4),
            pp0 AS (SELECT v, 1000000::BIGINT AS s FROM sd),
            ${pprSteps(10)}
         SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(v // 2 AS BIGINT) AS entity_key,
                s AS ppr_ppm
         FROM pp10
         ORDER BY ppr_ppm DESC, node_type, entity_key""",

    // same commerce graph; 4 unrolled synchronous vote rounds
    // (neighbors + self, count desc / label asc tie-break)
    "graph_label_propagation" ->
      s"""WITH cs AS (SELECT DISTINCT o.o_custkey * 2 AS c,
                        l.l_suppkey * 2 + 1 AS s
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey),
            e AS (SELECT c AS src, s AS dst FROM cs
                  UNION ALL
                  SELECT s AS src, c AS dst FROM cs),
            lp0 AS (SELECT DISTINCT src AS v, src AS lbl FROM e),
            ${lpaSteps(4)}
         SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(v // 2 AS BIGINT) AS entity_key,
                CASE WHEN lbl % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS community_type,
                CAST(lbl // 2 AS BIGINT) AS community_key
         FROM lp4
         ORDER BY node_type, entity_key""",

    // fragmented commerce-graph slice (urgent high-volume flows only);
    // min-label reachability walk, pruned to labels below the receiving
    // vertex — the component minimum is below every vertex it must
    // reach, so the prune never loses it and min(lab) per vertex IS the
    // component minimum
    "graph_connected_components" ->
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS i,
                           l.l_suppkey * 2 + 1 AS j
                         FROM orders o JOIN lineitem l
                           ON l.l_orderkey = o.o_orderkey
                         WHERE l.l_quantity >= 49
                           AND o.o_orderpriority = '1-URGENT'),
            e AS (SELECT i AS src, j AS dst FROM pairs
                  UNION ALL
                  SELECT j AS src, i AS dst FROM pairs),
            nodes AS (SELECT DISTINCT src AS id FROM e),
            cc AS (
              WITH RECURSIVE walk(id, lab) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.dst, w.lab FROM walk w JOIN e ON e.src = w.id
                WHERE w.lab < e.dst)
              SELECT id, min(lab) AS canonical FROM walk GROUP BY id)
         SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(id // 2 AS BIGINT) AS entity_key,
                CASE WHEN canonical % 2 = 0 THEN 'customer'
                     ELSE 'supplier' END AS component_type,
                CAST(canonical // 2 AS BIGINT) AS component_key
         FROM cc
         ORDER BY node_type, entity_key""",

    // simultaneous-removal 2-core peel over the same urgent-flow slice,
    // unrolled to kcoreOracleRounds chained CTEs (no-op past the
    // fixpoint — KcoreSpec asserts the margin on both shipped SFs)
    "graph_kcore" ->
      s"""WITH c0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS i,
                        l.l_suppkey * 2 + 1 AS j
                      FROM orders o JOIN lineitem l
                        ON l.l_orderkey = o.o_orderkey
                      WHERE l.l_quantity >= 49
                        AND o.o_orderpriority = '1-URGENT'),
            ${kcorePeelSteps(kcoreOracleRounds, 2)}
         SELECT CASE WHEN v % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(v // 2 AS BIGINT) AS entity_key,
                count(*) AS core_degree
         FROM (SELECT i AS v FROM c$kcoreOracleRounds
               UNION ALL SELECT j AS v FROM c$kcoreOracleRounds)
         GROUP BY node_type, entity_key
         ORDER BY node_type, entity_key""",

    // multi-source BFS over the same urgent-flow slice; UNION (not ALL)
    // dedups (id, d) states so the depth-bounded walk terminates, and
    // min(d) per id IS the BFS hop distance
    "graph_shortest_paths" ->
      s"""WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS i,
                           l.l_suppkey * 2 + 1 AS j
                         FROM orders o JOIN lineitem l
                           ON l.l_orderkey = o.o_orderkey
                         WHERE l.l_quantity >= 49
                           AND o.o_orderpriority = '1-URGENT'),
            e AS (SELECT i AS src, j AS dst FROM pairs
                  UNION ALL
                  SELECT j AS src, i AS dst FROM pairs),
            seeds AS (SELECT DISTINCT src AS id FROM e WHERE src % 2 = 0
                      ORDER BY id LIMIT 3),
            walk AS (
              WITH RECURSIVE w(id, d) AS (
                SELECT id, 0 FROM seeds
                UNION
                SELECT e.dst, w.d + 1 FROM w JOIN e ON e.src = w.id
                WHERE w.d < ${graft.operators.Relational.BfsMaxHops})
              SELECT id, min(d) AS hops FROM w GROUP BY id)
         SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END
                  AS node_type,
                CAST(id // 2 AS BIGINT) AS entity_key,
                CAST(hops AS BIGINT) AS hops
         FROM walk
         ORDER BY hops, node_type, entity_key""",

    // eager aggregation (impl pushes the aggregate below both joins);
    // the oracle is the PLAIN join+group — the rewrite must be lossless,
    // with the intermediate row counts surfacing as count(DISTINCT)s
    "q_eager_agg" ->
      """SELECT c_mktsegment,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                     AS DOUBLE) AS revenue,
                count(*) AS n_items,
                count(DISTINCT o_orderkey) AS n_orders,
                count(DISTINCT c_custkey) AS n_customers
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",

    // SCC oracle: mutual-reachability closure over the identical edge
    // derivation (share-of-sender threshold, exact decimal) — scc_id is
    // the min member id, the impl's coloring invariant; the closure is
    // |nations|-bounded so the O(n·m) recursive walk stays trivial
    "graph_scc" ->
      """WITH f AS (SELECT c.c_nationkey AS a, s.s_nationkey AS b,
                           sum(CAST(l_extendedprice AS DECIMAL(18,2))
                               * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                             AS rev
                    FROM lineitem l
                    JOIN orders o   ON l.l_orderkey = o.o_orderkey
                    JOIN customer c ON o.o_custkey = c.c_custkey
                    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                    GROUP BY 1, 2),
            tot AS (SELECT a, sum(rev) AS t FROM f GROUP BY a),
            e AS (SELECT f.a AS src, f.b AS dst
                  FROM f JOIN tot ON f.a = tot.a
                  WHERE f.a <> f.b AND f.rev * 25 > tot.t),
            r AS (WITH RECURSIVE w(s, t) AS (
                    SELECT src, dst FROM e
                    UNION
                    SELECT w.s, e.dst FROM w JOIN e ON e.src = w.t)
                  SELECT s, t FROM w),
            m AS (SELECT a.s AS v, a.t AS u
                  FROM r a JOIN r b ON b.s = a.t AND b.t = a.s),
            scc AS (SELECT n.n_nationkey AS v,
                           least(n.n_nationkey,
                                 coalesce(min(m.u), n.n_nationkey))
                             AS scc_id
                    FROM nation n LEFT JOIN m ON m.v = n.n_nationkey
                    GROUP BY n.n_nationkey),
            sz AS (SELECT scc_id, count(*) AS scc_size
                   FROM scc GROUP BY scc_id)
         SELECT n.n_name, CAST(scc.scc_id AS BIGINT) AS scc_id,
                CAST(sz.scc_size AS BIGINT) AS scc_size
         FROM nation n
         JOIN scc ON scc.v = n.n_nationkey
         JOIN sz ON sz.scc_id = scc.scc_id
         ORDER BY n.n_name""",

    // groupwise Pareto frontier: same O(n log n) sweep as the Spark plan —
    // (brand, price) group max, brand-partitioned prefix max over strictly
    // cheaper prices, membership by two comparisons; equal (price, size)
    // twins both survive on both engines
    "q_part_skyline" ->
      """WITH g AS (SELECT p_brand, p_retailprice, max(p_size) AS gmax
                    FROM part GROUP BY p_brand, p_retailprice),
              r AS (SELECT p_brand, p_retailprice, gmax,
                        max(gmax) OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS prevmax
                    FROM g)
         SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
         FROM part p JOIN r ON p.p_brand = r.p_brand
           AND p.p_retailprice = r.p_retailprice
         WHERE p.p_size = r.gmax
           AND (r.prevmax IS NULL OR r.prevmax < p.p_size)
         ORDER BY p.p_brand, p.p_retailprice, p.p_partkey""",

    // top-50 co-occurring product pairs with integer ppm lift; the
    // (support DESC, pa, pb) order is total so LIMIT 50 is deterministic
    "q_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem),
              n AS (SELECT count(DISTINCT ok) AS n_orders FROM b),
              s AS (SELECT pk, count(*) AS c FROM b GROUP BY pk),
              p AS (SELECT a.pk AS pa, c.pk AS pb, count(*) AS cab
                    FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
                    GROUP BY a.pk, c.pk)
         SELECT p.pa, p.pb, CAST(p.cab AS BIGINT) AS support,
                CAST(sa.c AS BIGINT) AS support_a,
                CAST(sb.c AS BIGINT) AS support_b,
                CAST((1000000 * n.n_orders * p.cab) // (sa.c * sb.c)
                     AS BIGINT) AS lift_ppm
         FROM p JOIN s sa ON sa.pk = p.pa
                JOIN s sb ON sb.pk = p.pb
                CROSS JOIN n
         ORDER BY support DESC, pa, pb LIMIT 50""",

    // one stats block per analyzed column; epoch(min) ≡ min(epoch)
    "warehouse_stats" ->
      """SELECT * FROM (
           SELECT 'l_orderkey' AS col_name,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_nulls,
                  CAST(min(l_orderkey) AS VARCHAR) AS min_val,
                  CAST(max(l_orderkey) AS VARCHAR) AS max_val
           FROM lineitem
           UNION ALL
           SELECT 'l_linenumber', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT),
                  CAST(min(l_linenumber) AS VARCHAR),
                  CAST(max(l_linenumber) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT),
                  CAST(min(l_returnflag) AS VARCHAR),
                  CAST(max(l_returnflag) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT),
                  CAST(min(l_linestatus) AS VARCHAR),
                  CAST(max(l_linestatus) AS VARCHAR)
           FROM lineitem
           UNION ALL
           SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
                  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT),
                  CAST(CAST(epoch(min(l_shipdate)) AS BIGINT) AS VARCHAR),
                  CAST(CAST(epoch(max(l_shipdate)) AS BIGINT) AS VARCHAR)
           FROM lineitem
         ) ORDER BY col_name""",

    "q_nvd_count" ->
      s"""$nvdFeedCte
         SELECT count(item.cve.CVE_data_meta.ID) AS cve_count FROM f""",

    "q_nvd_linux_exists" ->
      s"""$nvdFeedCte
         SELECT item.cve.CVE_data_meta.ID AS cve_id,
                CAST(epoch(item.publishedDate) AS BIGINT) AS published_s,
                item.impact.baseMetricV2.severity AS severity_v2
         FROM f
         WHERE len(list_filter(item.configurations.nodes,
                 n -> len(list_filter(n.cpe_match,
                        c -> c.cpe23Uri LIKE '%linux%')) > 0)) > 0
         ORDER BY cve_id""",

    "q_nvd_severity_hist" ->
      s"""$nvdFeedCte
         SELECT item.impact.baseMetricV2.severity AS severity_v2,
                count(*) AS n_cves,
                CAST(sum(CAST(item.impact.baseMetricV2.cvssV2.baseScore
                              AS DECIMAL(18,1))) AS DOUBLE) AS sum_v2_score,
                count(item.impact.baseMetricV3.cvssV3.baseScore) AS n_with_v3
         FROM f
         GROUP BY severity_v2
         ORDER BY severity_v2 NULLS FIRST""",

    // publication→modification lag in exact seconds (no day division —
    // floor semantics differ across engines on negatives)
    "q_nvd_mod_lag" ->
      s"""$nvdFeedCte,
           v AS (SELECT item.impact.baseMetricV2.severity AS severity_v2,
                     CAST(epoch(item.lastModifiedDate) AS BIGINT) -
                     CAST(epoch(item.publishedDate) AS BIGINT) AS lag_s
                 FROM f)
         SELECT severity_v2, CAST(count(*) AS BIGINT) AS n_cves,
                CAST(min(lag_s) AS BIGINT) AS min_lag_s,
                CAST(max(lag_s) AS BIGINT) AS max_lag_s,
                CAST(sum(lag_s) AS BIGINT) AS sum_lag_s,
                CAST(sum(CASE WHEN lag_s < 86400 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_same_day
         FROM v GROUP BY severity_v2
         ORDER BY severity_v2 NULLS FIRST""",

    "q_nvd_cwe_top" ->
      s"""$nvdFeedCte,
           d AS (SELECT unnest(flatten(list_transform(
                   item.cve.problemtype.problemtype_data,
                   p -> p.description))) AS d FROM f)
         SELECT d.value AS cwe, count(*) AS n_cves
         FROM d WHERE d.lang = 'en'
         GROUP BY cwe
         ORDER BY n_cves DESC, cwe""",

    "q_nvd_desc_langs" ->
      s"""$nvdFeedCte,
           d AS (SELECT item.cve.CVE_data_meta.ID AS cve_id,
                     unnest(item.cve.description.description_data) AS dd
                 FROM f)
         SELECT dd.lang AS lang, count(*) AS n_descriptions,
                count(DISTINCT cve_id) AS n_cves,
                CAST(sum(length(dd.value)) AS BIGINT) AS sum_chars
         FROM d GROUP BY dd.lang
         ORDER BY lang""",

    "q_nvd_child_cpes" ->
      s"""$nvdFeedCte,
           ch AS (SELECT unnest(flatten(list_filter(list_transform(
                    item.configurations.nodes, n -> n.children),
                    x -> x IS NOT NULL))) AS c FROM f),
           m AS (SELECT unnest(c.cpe_match) AS mm FROM ch
                 WHERE c.cpe_match IS NOT NULL)
         SELECT string_split(mm.cpe23Uri, ':')[4] AS vendor,
                count(*) AS n_matches,
                CAST(sum(CASE WHEN mm.vulnerable THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_vulnerable
         FROM m GROUP BY vendor
         ORDER BY vendor""",

    "q_nvd_tag_hist" ->
      s"""$nvdFeedCte,
           t AS (SELECT unnest(flatten(list_transform(
                   item.cve.references.reference_data,
                   r -> r.tags))) AS tag FROM f)
         SELECT tag, count(*) AS n_refs
         FROM t GROUP BY tag
         ORDER BY n_refs DESC, tag""",

    // Pearson moments are mathematically identical across engines
    // (population/sample factors cancel in corr); 1dp scores over ~100
    // rows keep every moment stable far below the 6dp round.
    "q_nvd_score_corr" ->
      s"""$nvdFeedCte,
           s AS (SELECT
                   CAST(item.impact.baseMetricV2.cvssV2.baseScore AS DOUBLE) AS v2,
                   CAST(item.impact.baseMetricV3.cvssV3.baseScore AS DOUBLE) AS v3
                 FROM f)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                round(corr(v2, v3), 6) AS corr_v23,
                round(covar_samp(v2, v3), 6) AS covar_v23,
                round(stddev_samp(v2), 6) AS sd_v2,
                round(stddev_samp(v3), 6) AS sd_v3
         FROM s WHERE v2 IS NOT NULL AND v3 IS NOT NULL""",

    "q_nvd_version_ranges" ->
      s"""$nvdFeedCte,
           m AS (SELECT unnest(flatten(list_filter(list_transform(
                   item.configurations.nodes, n -> n.cpe_match),
                   x -> x IS NOT NULL))) AS m FROM f)
         SELECT string_split(m.cpe23Uri, ':')[4] AS vendor,
                count(*) AS n_matches,
                CAST(sum(CASE WHEN m.versionEndExcluding IS NOT NULL
                          OR m.versionEndIncluding IS NOT NULL
                          OR m.versionStartIncluding IS NOT NULL
                          OR m.versionStartExcluding IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ranged,
                count(m.versionEndExcluding) AS n_end_excl,
                count(m.versionEndIncluding) AS n_end_incl,
                count(m.versionStartIncluding) AS n_start_incl,
                count(m.versionStartExcluding) AS n_start_excl,
                max(m.versionEndExcluding) AS max_end_version
         FROM m GROUP BY vendor
         ORDER BY vendor NULLS LAST""",

    // probe VALUES are the verbatim mirror of Nvd.VersionProbes; version
    // rank = major*10^6 + minor*10^3 + patch in exact integers on both
    // sides (dvnum ≡ Nvd.vnum); the interval test reads all four
    // schema.json bounds, each applying only when present.
    // Full config-TREE semantics (see Nvd.qNvdVersionMatch): per-child
    // operator decides a child's match (OR any / AND all entries),
    // per-node operator decides the node (OR any component / AND every
    // own entry + every non-negated child), a matching NEGATED child
    // vetoes the node, and a hit needs a vulnerable applying entry in
    // the node's own list or a MATCHED non-negated child. The schema
    // has no node-level negate field (only children carry negate), so
    // child negation is the entire negation surface. DuckDB's
    // list_transform index is 1-based vs posexplode's 0-based — both
    // are pure identity keys, never output.
    "q_nvd_version_match" ->
      s"""$nvdFeedCte,
           n AS (SELECT item.cve.CVE_data_meta.ID AS cve_id,
                   unnest(list_transform(item.configurations.nodes,
                     (nd, i) -> struct_pack(node := nd, idx := i))) AS ni
                 FROM f),
           nn AS (SELECT cve_id, ni.idx AS node_idx,
                    upper(coalesce(ni.node.operator, 'OR')) AS op,
                    ni.node AS node FROM n),
           own AS (SELECT cve_id, node_idx, op, -1 AS src_idx,
                     false AS cneg, 'OR' AS cop,
                     unnest(node.cpe_match) AS m
                   FROM nn WHERE node.cpe_match IS NOT NULL),
           ch0 AS (SELECT cve_id, node_idx, op,
                     unnest(list_transform(node.children,
                       (c, i) -> struct_pack(ch := c, idx := i))) AS ci
                   FROM nn WHERE node.children IS NOT NULL),
           chm AS (SELECT cve_id, node_idx, op, ci.idx AS src_idx,
                     coalesce(ci.ch.negate, false) AS cneg,
                     upper(coalesce(ci.ch.operator, 'OR')) AS cop,
                     unnest(ci.ch.cpe_match) AS m
                   FROM ch0 WHERE ci.ch.cpe_match IS NOT NULL),
           u AS (SELECT * FROM own UNION ALL SELECT * FROM chm),
           m AS (SELECT cve_id, node_idx, op, src_idx, cneg, cop,
                   m.vulnerable AS vul,
                   string_split(m.cpe23Uri, ':')[5] AS product,
                   string_split(m.cpe23Uri, ':')[6] AS uver,
                   m.versionEndExcluding AS ee,
                   m.versionEndIncluding AS ei,
                   m.versionStartIncluding AS si,
                   m.versionStartExcluding AS se
                 FROM u),
           ctot AS (SELECT cve_id, node_idx, src_idx,
                      CAST(count(*) AS BIGINT) AS n_tot
                    FROM m WHERE src_idx >= 0 GROUP BY 1, 2, 3),
           ntot AS (SELECT cve_id, node_idx,
                      CAST(sum(CASE WHEN src_idx = -1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_own_total,
                      count(DISTINCT CASE WHEN src_idx >= 0 AND NOT cneg
                        THEN src_idx END) AS n_pos_children
                    FROM m GROUP BY cve_id, node_idx),
           p(product, qversion) AS (VALUES
                 ('product0', '0.5'), ('product4', '2.0'),
                 ('product4', '1.2.0'), ('product5', '5.0.2'),
                 ('product6', '7.0.5'), ('linux_kernel', '5.4'),
                 ('device1', '1.0'), ('product2', '2.150.1')),
           ap AS (SELECT p.product, p.qversion, m.cve_id, m.node_idx,
                    m.op, m.src_idx, m.cneg, m.cop, m.vul
                 FROM p JOIN m USING (product)
                 WHERE CASE WHEN m.ee IS NOT NULL OR m.ei IS NOT NULL
                              OR m.si IS NOT NULL OR m.se IS NOT NULL
                       THEN (m.si IS NULL OR
                               ${dvnum("p.qversion")} >= ${dvnum("m.si")})
                        AND (m.se IS NULL OR
                               ${dvnum("p.qversion")} > ${dvnum("m.se")})
                        AND (m.ei IS NULL OR
                               ${dvnum("p.qversion")} <= ${dvnum("m.ei")})
                        AND (m.ee IS NULL OR
                               ${dvnum("p.qversion")} < ${dvnum("m.ee")})
                       ELSE m.uver = p.qversion END),
           persrc AS (SELECT product, qversion, cve_id, node_idx, op,
                        src_idx, cneg, cop,
                        CAST(count(*) AS BIGINT) AS n_app,
                        max(CASE WHEN NOT cneg AND vul THEN 1 ELSE 0 END)
                          AS vul_app
                      FROM ap GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
           srcev AS (SELECT s.*,
                       CASE WHEN s.src_idx = -1 THEN true
                            WHEN s.cop = 'AND' THEN s.n_app = c.n_tot
                            ELSE s.n_app > 0 END AS matched
                     FROM persrc s LEFT JOIN ctot c
                       ON s.cve_id = c.cve_id AND s.node_idx = c.node_idx
                          AND s.src_idx = c.src_idx),
           nodeev AS (SELECT product, qversion, cve_id, node_idx, op,
                        CAST(sum(CASE WHEN src_idx = -1 THEN n_app
                          ELSE 0 END) AS BIGINT) AS n_own_app,
                        count(DISTINCT CASE WHEN src_idx >= 0 AND NOT cneg
                          AND matched THEN src_idx END)
                          AS n_pos_child_matched,
                        max(CASE WHEN cneg AND matched THEN 1 ELSE 0 END)
                          AS neg_bad,
                        max(CASE WHEN src_idx = -1 THEN vul_app
                                 WHEN NOT cneg AND matched THEN vul_app
                                 ELSE 0 END) AS vul_hit
                      FROM srcev GROUP BY 1, 2, 3, 4, 5),
           hit AS (SELECT DISTINCT product, qversion, e.cve_id
                   FROM nodeev e JOIN ntot t
                     ON e.cve_id = t.cve_id AND e.node_idx = t.node_idx
                   WHERE neg_bad = 0 AND vul_hit = 1
                     AND CASE WHEN op = 'AND'
                          THEN n_own_app = t.n_own_total
                           AND n_pos_child_matched = t.n_pos_children
                          ELSE n_own_app > 0 OR n_pos_child_matched > 0 END)
         SELECT product, qversion, CAST(count(*) AS BIGINT) AS n_cves,
                min(cve_id) AS first_cve, max(cve_id) AS last_cve
         FROM hit GROUP BY product, qversion
         ORDER BY product, qversion""",

    // CVSS v3.1 §7.1 base-score re-derivation: every constant double,
    // every formula an explicit multiply chain in the SAME association
    // order as the Spark plan (no pow — libm pow is not bit-specified;
    // the 15th power is the y→y²→y⁴→y⁸ squaring chain), and the spec's
    // own integer-inspection Roundup — so the recomputed doubles agree
    // bit-for-bit before the 1dp landing
    "q_nvd_cvss_recompute" ->
      s"""$nvdFeedCte,
           v AS (SELECT item.impact.baseMetricV3.cvssV3.baseScore AS stored,
                   item.impact.baseMetricV3.cvssV3.attackVector AS av,
                   item.impact.baseMetricV3.cvssV3.attackComplexity AS ac,
                   item.impact.baseMetricV3.cvssV3.privilegesRequired AS pr,
                   item.impact.baseMetricV3.cvssV3.userInteraction AS ui,
                   item.impact.baseMetricV3.cvssV3.scope AS sc,
                   item.impact.baseMetricV3.cvssV3.confidentialityImpact AS c,
                   item.impact.baseMetricV3.cvssV3.integrityImpact AS i,
                   item.impact.baseMetricV3.cvssV3.availabilityImpact AS a
                 FROM f WHERE item.impact.baseMetricV3 IS NOT NULL),
           w AS (SELECT stored, sc, av,
                   CAST(CASE av WHEN 'NETWORK' THEN 0.85
                     WHEN 'ADJACENT_NETWORK' THEN 0.62
                     WHEN 'LOCAL' THEN 0.55 ELSE 0.2 END AS DOUBLE) AS wav,
                   CAST(CASE ac WHEN 'LOW' THEN 0.77 ELSE 0.44 END
                     AS DOUBLE) AS wac,
                   CAST(CASE WHEN sc = 'CHANGED' THEN
                       CASE pr WHEN 'NONE' THEN 0.85 WHEN 'LOW' THEN 0.68
                         ELSE 0.5 END
                     ELSE
                       CASE pr WHEN 'NONE' THEN 0.85 WHEN 'LOW' THEN 0.62
                         ELSE 0.27 END
                     END AS DOUBLE) AS wpr,
                   CAST(CASE ui WHEN 'NONE' THEN 0.85 ELSE 0.62 END
                     AS DOUBLE) AS wui,
                   CAST(CASE c WHEN 'HIGH' THEN 0.56 WHEN 'LOW' THEN 0.22
                     ELSE 0.0 END AS DOUBLE) AS wc,
                   CAST(CASE i WHEN 'HIGH' THEN 0.56 WHEN 'LOW' THEN 0.22
                     ELSE 0.0 END AS DOUBLE) AS wi,
                   CAST(CASE a WHEN 'HIGH' THEN 0.56 WHEN 'LOW' THEN 0.22
                     ELSE 0.0 END AS DOUBLE) AS wa
                 FROM v),
           s AS (SELECT stored, sc, av,
                   CAST(1.0 AS DOUBLE) - ((CAST(1.0 AS DOUBLE) - wc) *
                     (CAST(1.0 AS DOUBLE) - wi)) *
                     (CAST(1.0 AS DOUBLE) - wa) AS iss,
                   ((CAST(8.22 AS DOUBLE) * wav) * wac) * (wpr * wui)
                     AS expl
                 FROM w),
           y1 AS (SELECT *, iss - CAST(0.02 AS DOUBLE) AS y FROM s),
           y2 AS (SELECT *, y * y AS yy FROM y1),
           y4 AS (SELECT *, yy * yy AS y4v FROM y2),
           y8 AS (SELECT *, y4v * y4v AS y8v FROM y4),
           imp AS (SELECT stored, sc, av, expl,
                   CASE WHEN sc = 'CHANGED'
                     THEN CAST(7.52 AS DOUBLE) *
                            (iss - CAST(0.029 AS DOUBLE)) -
                          CAST(3.25 AS DOUBLE) *
                            (((y8v * y4v) * yy) * y)
                     ELSE CAST(6.42 AS DOUBLE) * iss END AS impact
                 FROM y8),
           raw AS (SELECT stored, sc, av,
                   CASE WHEN impact <= CAST(0.0 AS DOUBLE)
                          THEN CAST(0.0 AS DOUBLE)
                        WHEN sc = 'CHANGED' THEN
                          CASE WHEN CAST(1.08 AS DOUBLE) * (impact + expl)
                                 < CAST(10.0 AS DOUBLE)
                            THEN CAST(1.08 AS DOUBLE) * (impact + expl)
                            ELSE CAST(10.0 AS DOUBLE) END
                        ELSE
                          CASE WHEN impact + expl < CAST(10.0 AS DOUBLE)
                            THEN impact + expl
                            ELSE CAST(10.0 AS DOUBLE) END
                   END AS rawscore
                 FROM imp),
           rs AS (SELECT stored, sc, av,
                   CAST(floor(rawscore * CAST(100000.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) AS iscore
                 FROM raw),
           fin AS (SELECT stored, sc, av,
                   CASE WHEN iscore % 10000 = 0
                     THEN CAST(iscore AS DOUBLE) /
                          CAST(100000.0 AS DOUBLE)
                     ELSE (floor(CAST(iscore AS DOUBLE) /
                            CAST(10000.0 AS DOUBLE)) +
                            CAST(1.0 AS DOUBLE)) / CAST(10.0 AS DOUBLE)
                   END AS recomputed
                 FROM rs)
         SELECT sc AS scope, av AS attack_vector,
                CAST(count(*) AS BIGINT) AS n_cves,
                min(recomputed) AS min_score, max(recomputed) AS max_score,
                CAST(sum(CAST(recomputed AS DECIMAL(18,1))) AS DOUBLE)
                  AS sum_score,
                CAST(sum(CASE WHEN recomputed > stored THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_above_stored
         FROM fin GROUP BY scope, attack_vector
         ORDER BY scope, attack_vector""",

    // CVSS v2.0 recompute: same contract as the v3.1 oracle above —
    // identical weight CASEs, identical multiply/add association order,
    // and the pinned half-up 1dp landing floor(x*10+0.5)/10 on all
    // three sub-scores, so the doubles agree bit-for-bit
    "q_nvd_cvss_v2_recompute" ->
      s"""$nvdFeedCte,
           v AS (SELECT item.impact.baseMetricV2.cvssV2.baseScore AS stored,
                   item.impact.baseMetricV2.impactScore AS stored_imp,
                   item.impact.baseMetricV2.exploitabilityScore
                     AS stored_expl,
                   item.impact.baseMetricV2.cvssV2.accessVector AS av,
                   item.impact.baseMetricV2.cvssV2.accessComplexity AS ac,
                   item.impact.baseMetricV2.cvssV2.authentication AS au,
                   item.impact.baseMetricV2.cvssV2.confidentialityImpact
                     AS c,
                   item.impact.baseMetricV2.cvssV2.integrityImpact AS i,
                   item.impact.baseMetricV2.cvssV2.availabilityImpact AS a
                 FROM f WHERE item.impact.baseMetricV2 IS NOT NULL),
           w AS (SELECT stored, stored_imp, stored_expl, av, ac,
                   CAST(CASE av WHEN 'NETWORK' THEN 1.0
                     WHEN 'ADJACENT_NETWORK' THEN 0.646
                     ELSE 0.395 END AS DOUBLE) AS wav,
                   CAST(CASE ac WHEN 'LOW' THEN 0.71 WHEN 'MEDIUM' THEN 0.61
                     ELSE 0.35 END AS DOUBLE) AS wac,
                   CAST(CASE au WHEN 'NONE' THEN 0.704
                     WHEN 'SINGLE' THEN 0.56 ELSE 0.45 END AS DOUBLE)
                     AS wau,
                   CAST(CASE c WHEN 'COMPLETE' THEN 0.66
                     WHEN 'PARTIAL' THEN 0.275 ELSE 0.0 END AS DOUBLE)
                     AS wc,
                   CAST(CASE i WHEN 'COMPLETE' THEN 0.66
                     WHEN 'PARTIAL' THEN 0.275 ELSE 0.0 END AS DOUBLE)
                     AS wi,
                   CAST(CASE a WHEN 'COMPLETE' THEN 0.66
                     WHEN 'PARTIAL' THEN 0.275 ELSE 0.0 END AS DOUBLE)
                     AS wa
                 FROM v),
           s AS (SELECT stored, stored_imp, stored_expl, av, ac,
                   CAST(10.41 AS DOUBLE) * (CAST(1.0 AS DOUBLE) -
                     ((CAST(1.0 AS DOUBLE) - wc) *
                      (CAST(1.0 AS DOUBLE) - wi)) *
                     (CAST(1.0 AS DOUBLE) - wa)) AS impact,
                   ((CAST(20.0 AS DOUBLE) * wav) * wac) * wau AS expl
                 FROM w),
           raw AS (SELECT stored, stored_imp, stored_expl, av, ac,
                   impact, expl,
                   CASE WHEN impact = CAST(0.0 AS DOUBLE)
                     THEN CAST(0.0 AS DOUBLE)
                     ELSE ((CAST(0.6 AS DOUBLE) * impact) +
                           (CAST(0.4 AS DOUBLE) * expl) -
                           CAST(1.5 AS DOUBLE)) * CAST(1.176 AS DOUBLE)
                   END AS rawscore
                 FROM s),
           fin AS (SELECT av, ac,
                   CAST(CAST(floor(rawscore * CAST(10.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DOUBLE) /
                     CAST(10.0 AS DOUBLE) AS recomputed,
                   CAST(CAST(floor(impact * CAST(10.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DOUBLE) /
                     CAST(10.0 AS DOUBLE) AS imp1,
                   CAST(CAST(floor(expl * CAST(10.0 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DOUBLE) /
                     CAST(10.0 AS DOUBLE) AS expl1,
                   stored, stored_imp, stored_expl
                 FROM raw)
         SELECT av AS access_vector, ac AS access_complexity,
                CAST(count(*) AS BIGINT) AS n_cves,
                min(recomputed) AS min_score, max(recomputed) AS max_score,
                CAST(sum(CAST(recomputed AS DECIMAL(18,1))) AS DOUBLE)
                  AS sum_score,
                CAST(sum(CASE WHEN recomputed > stored THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_above_stored,
                CAST(sum(CASE WHEN imp1 > stored_imp THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_impact_above,
                CAST(sum(CASE WHEN expl1 > stored_expl THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_expl_above
         FROM fin GROUP BY access_vector, access_complexity
         ORDER BY access_vector, access_complexity""",

    "q_nvd_product_top" ->
      s"""$nvdFeedCte,
           m AS (SELECT unnest(flatten(list_filter(list_transform(
                   item.configurations.nodes, n -> n.cpe_match),
                   x -> x IS NOT NULL))) AS m FROM f)
         SELECT string_split(m.cpe23Uri, ':')[4] || ':' ||
                string_split(m.cpe23Uri, ':')[5] AS vendor_product,
                count(*) AS n_matches
         FROM m GROUP BY vendor_product
         ORDER BY n_matches DESC, vendor_product""",

    "q_nvd_v3_vector" ->
      s"""$nvdFeedCte
         SELECT item.impact.baseMetricV3.cvssV3.attackVector AS av,
                count(*) AS n_cves,
                CAST(sum(CAST(item.impact.baseMetricV3.cvssV3.baseScore
                              AS DECIMAL(18,1))) AS DOUBLE) AS sum_v3_score,
                count(item.impact.baseMetricV3.exploitabilityScore)
                  AS n_with_expl
         FROM f
         GROUP BY av
         ORDER BY av NULLS FIRST""",

    // KS distance with an all-integer numerator argmax (deci-score bins,
    // integer cumulative counts, integer tie-break) — one final division
    "q_nvd_score_drift" ->
      s"""$nvdFeedCte,
            s AS (SELECT CAST(substring(item.cve.CVE_data_meta.ID, 5, 4)
                              AS INTEGER) < 2015 AS old,
                      CAST(round(item.impact.baseMetricV2.cvssV2.baseScore
                                 * 10) AS BIGINT) AS sds
                  FROM f
                  WHERE item.impact.baseMetricV2.cvssV2.baseScore
                        IS NOT NULL),
            c AS (SELECT sds,
                      CAST(sum(CASE WHEN old THEN 1 ELSE 0 END) AS BIGINT)
                        AS c_old,
                      CAST(sum(CASE WHEN NOT old THEN 1 ELSE 0 END)
                        AS BIGINT) AS c_new
                  FROM s GROUP BY sds),
            t AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
                      CAST(sum(c_new) AS BIGINT) AS n_new FROM c),
            cum AS (SELECT sds,
                        CAST(sum(c_old) OVER w AS BIGINT) AS k_old,
                        CAST(sum(c_new) OVER w AS BIGINT) AS k_new
                    FROM c
                    WINDOW w AS (ORDER BY sds ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW)),
            d AS (SELECT sds,
                      abs(k_old * t.n_new - k_new * t.n_old) AS num
                  FROM cum, t),
            best AS (SELECT sds, num FROM d
                     ORDER BY num DESC, sds LIMIT 1)
         SELECT t.n_old, t.n_new,
                round(CAST(best.num AS DOUBLE) / (t.n_old * t.n_new), 6)
                  AS ks_d,
                CAST(best.sds AS DOUBLE) / 10.0 AS ks_at_score
         FROM t, best""",

    "q_nvd_yearly_trend" ->
      s"""$nvdFeedCte
         SELECT CAST(substring(item.cve.CVE_data_meta.ID, 5, 4) AS INTEGER)
                  AS cve_year,
                count(*) AS n_cves,
                CAST(sum(CAST(item.impact.baseMetricV3.cvssV3.baseScore
                              AS DECIMAL(18,1))) AS DOUBLE) AS sum_v3,
                count(item.impact.baseMetricV3.cvssV3.baseScore) AS n_v3
         FROM f
         GROUP BY cve_year
         ORDER BY cve_year""",

    // Latest-revision-wins across the yearly fixture + overlapping recent
    // feed: winner = max (lastModifiedDate, feed precedence) — DuckDB and
    // Spark both compare the struct lexicographically by field order.
    "q_nvd_modified_upsert" ->
      s"""WITH fy AS (SELECT unnest(CVE_Items) AS item
                      FROM read_json('${graft.sources.NvdEtl.FixtureAbsPath}',
                                     maximum_object_size=104857600)),
              fr AS (SELECT unnest(CVE_Items) AS item
                     FROM read_json('${graft.sources.NvdEtl.RecentFixtureAbsPath}',
                                    maximum_object_size=104857600)),
              u AS (SELECT item, CAST(1 AS BIGINT) AS sr FROM fy
                    UNION ALL
                    SELECT item, CAST(2 AS BIGINT) AS sr FROM fr),
              g AS (SELECT item.cve.CVE_data_meta.ID AS cve_id,
                        count(*) AS n_revisions,
                        max(struct_pack(
                          lm := CAST(epoch(item.lastModifiedDate) AS BIGINT),
                          sr := sr)) AS w
                    FROM u GROUP BY cve_id)
         SELECT cve_id, n_revisions, w.lm AS last_modified_s,
                w.sr AS winner_src
         FROM g ORDER BY cve_id""",

    // CVEs present in BOTH feeds; (old severity -> new severity) exact
    // integer counts; missing v3 scores read NONE on both engines
    "q_nvd_severity_transition" ->
      s"""WITH fy AS (SELECT unnest(CVE_Items) AS item
                      FROM read_json('${graft.sources.NvdEtl.FixtureAbsPath}',
                                     maximum_object_size=104857600)),
              fr AS (SELECT unnest(CVE_Items) AS item
                     FROM read_json('${graft.sources.NvdEtl.RecentFixtureAbsPath}',
                                    maximum_object_size=104857600)),
              y AS (SELECT item.cve.CVE_data_meta.ID AS cve_id,
                        COALESCE(item.impact.baseMetricV3.cvssV3
                                   .baseSeverity, 'NONE') AS old_sev
                    FROM fy),
              r AS (SELECT item.cve.CVE_data_meta.ID AS cve_id,
                        COALESCE(item.impact.baseMetricV3.cvssV3
                                   .baseSeverity, 'NONE') AS new_sev
                    FROM fr)
         SELECT old_sev, new_sev, CAST(count(*) AS BIGINT) AS n_cves
         FROM y JOIN r USING (cve_id)
         GROUP BY old_sev, new_sev
         ORDER BY old_sev, new_sev""",

    "q_events_moving" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, value
                    FROM events)
         SELECT event_id, user_id, tus,
             count(*) OVER w AS mov_n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS mov_sum
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q_count" ->
      "SELECT count(o_orderkey) AS n_orders FROM orders",

    "q_nested_exists" ->
      """SELECT vec_id, label FROM embeddings
         WHERE len(list_filter(embedding, e -> e > CAST(0.3 AS DOUBLE))) > 0
         ORDER BY vec_id""",

    "q_incremental_antijoin" ->
      """SELECT event_id, event_type, user_id FROM events f
         WHERE f.ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND NOT EXISTS (SELECT 1 FROM events w
                           WHERE w.ts < TIMESTAMP '2024-01-15 00:00:00'
                             AND w.event_id = f.event_id)
         ORDER BY event_id""",

    "q_dedup_load" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
                    FROM events),
              r AS (SELECT *, row_number() OVER (
                      PARTITION BY user_id, event_type
                      ORDER BY tus, event_id) AS rn FROM e)
         SELECT user_id, event_type, event_id AS first_event_id,
                tus AS first_ts_us
         FROM r WHERE rn = 1
         ORDER BY user_id, event_type""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""",

    "q5_region_revenue" ->
      """SELECT n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "q6_forecast_revenue" ->
      """SELECT
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",

    "q_events_gini" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
                    FROM events GROUP BY user_id, event_type)
         SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                count(*) AS n_types,
                round(1.0 - CAST(sum(c * c) AS DOUBLE)
                        / (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)),
                      6) AS gini
         FROM c GROUP BY user_id
         ORDER BY user_id""",

    "q_orders_cohort" ->
      """WITH o AS (SELECT o_custkey,
                        date_trunc('month', o_orderdate) AS m
                    FROM orders),
              fst AS (SELECT o_custkey, min(m) AS cohort
                      FROM o GROUP BY o_custkey),
              a AS (SELECT DISTINCT o.o_custkey, cohort,
                        CAST(date_diff('month', cohort, m) AS BIGINT) AS age
                    FROM o JOIN fst USING (o_custkey))
         SELECT CAST(cohort AS DATE) AS cohort_month, age,
                count(*) AS n_active
         FROM a GROUP BY cohort_month, age
         ORDER BY cohort_month, age""",

    // DuckDB range(ts, ts, INTERVAL) excludes the stop exactly where
    // Spark's inclusive sequence stops at m1 - 1 month: identical month
    // sets stepping from the same truncated start.
    "q_orders_backlog" ->
      """WITH ls AS (SELECT l_orderkey AS o_orderkey,
                         max(l_shipdate) AS last_ship
                     FROM lineitem GROUP BY 1),
              iv AS (SELECT date_trunc('month', o_orderdate) AS m0,
                         date_trunc('month', last_ship) AS m1,
                         o_totalprice
                     FROM orders JOIN ls USING (o_orderkey)
                     WHERE date_trunc('month', last_ship) >
                           date_trunc('month', o_orderdate)),
              s AS (SELECT unnest(range(m0, m1, INTERVAL 1 MONTH)) AS m,
                        o_totalprice
                    FROM iv)
         SELECT CAST(m AS DATE) AS month, count(*) AS n_open,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS open_value
         FROM s GROUP BY month
         ORDER BY month""",

    // Plain exact semi join: the bloom probe in the Spark plan is a
    // pre-shuffle PREFILTER only (false positives die in the exact semi
    // join), so the oracle needs no bloom at all — that asymmetry IS the
    // gate: it proves the runtime filter never changes the result.
    "q_bloom_semi_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "q12_priority_class" ->
      """SELECT l_returnflag,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",

    "q14_promo_share" ->
      """SELECT
             CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(4,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) * 100.0
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS promo_share_pct,
             COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'""",

    "q19_disjunctive" ->
      """SELECT
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 30))""",

    "q_top_customers_per_nation" ->
      """WITH r AS (SELECT c_custkey, c_name, c_acctbal, c_nationkey,
                        row_number() OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey) AS rk
                    FROM customer)
         SELECT n_name, rk, c_custkey, c_name, c_acctbal
         FROM r JOIN nation ON c_nationkey = n_nationkey
         WHERE rk <= 3
         ORDER BY n_name, rk""",

    "q_order_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q_customer_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
         ORDER BY c_custkey""",

    "q_events_windowed" ->
      """SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             MIN(value) AS min_value,
             MAX(value) AS max_value
         FROM events
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q_events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
              s AS (SELECT user_id, event_id, tus,
                        CASE WHEN tus - lag(tus) OVER w > 1800000000
                               OR lag(tus) OVER w IS NULL
                             THEN 1 ELSE 0 END AS new_s
                    FROM e WINDOW w AS (PARTITION BY user_id
                                        ORDER BY tus, event_id)),
              t AS (SELECT user_id, tus,
                        CAST(SUM(new_s) OVER (PARTITION BY user_id
                          ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
                    FROM s)
         SELECT user_id, session_idx, COUNT(*) AS n_events,
                MIN(tus) AS start_us, MAX(tus) AS end_us
         FROM t GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",

    "q_lineitem_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_events_pivot" ->
      """SELECT user_id,
             count(*) FILTER (event_type = 'click') AS click,
             count(*) FILTER (event_type = 'error') AS error,
             count(*) FILTER (event_type = 'purchase') AS purchase,
             count(*) FILTER (event_type = 'signup') AS signup,
             count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_events_unpivot" ->
      """WITH p AS (SELECT user_id,
                count(*) FILTER (event_type = 'click') AS click,
                count(*) FILTER (event_type = 'error') AS error,
                count(*) FILTER (event_type = 'purchase') AS purchase,
                count(*) FILTER (event_type = 'signup') AS signup,
                count(*) FILTER (event_type = 'view') AS view
              FROM events GROUP BY user_id)
         SELECT user_id, event_type, n FROM (
           SELECT user_id, 'click' AS event_type, click AS n FROM p
           UNION ALL SELECT user_id, 'error', error FROM p
           UNION ALL SELECT user_id, 'purchase', purchase FROM p
           UNION ALL SELECT user_id, 'signup', signup FROM p
           UNION ALL SELECT user_id, 'view', view FROM p)
         ORDER BY user_id, event_type""",

    "q_events_cube" ->
      """WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr
                    FROM events)
         SELECT event_type, hr, count(*) AS n
         FROM e GROUP BY CUBE (event_type, hr)
         ORDER BY event_type NULLS FIRST, hr NULLS FIRST""",

    // EXHAUSTIVE length-filtered scan (|Δlen| <= 20 is implied by
    // dist <= 20, so the length predicate loses nothing) — grades the
    // banding's losslessness, not just the DP arithmetic.
    "dedup_editdistance" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS L FROM documents),
              p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                        CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
                    FROM t a JOIN t b
                      ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= 20)
         SELECT i, j, dist FROM p WHERE dist <= 20
         ORDER BY i, j""",

    "q_events_quantiles" ->
      """SELECT event_type,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.95), 6) AS p95,
             count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    // the oracle ranks by a cumulative window — the IMPL never does
    // (value-domain bisection, O(log) counting passes); k-th-smallest
    // with k = ceil(q*n) in pure integer arithmetic on exact cents
    "q_quantile_bisect" ->
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS v FROM lineitem),
              t AS (SELECT count(*) AS n FROM c),
              d AS (SELECT v, count(*) AS cnt FROM c GROUP BY v),
              w AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cw FROM d),
              ks AS (SELECT 'p50' AS pct, (n + 1) // 2 AS k, n FROM t
                     UNION ALL SELECT 'p90', (9 * n + 9) // 10, n FROM t
                     UNION ALL SELECT 'p99', (99 * n + 99) // 100, n FROM t)
         SELECT ks.pct, ks.k, ks.n AS n_rows,
                min(w.v) AS value_cents,
                CAST(min(w.v) AS DOUBLE) / 100 AS value
         FROM ks JOIN w ON w.cw >= ks.k
         GROUP BY ks.pct, ks.k, ks.n
         ORDER BY pct""",

    // grouped extension: the oracle ranks per group by a partitioned
    // cumulative window — the IMPL never does (one GROUPED counting
    // bucket count per round over group-keyed probe midpoints); same
    // ceil(q*n) integer-arithmetic k per group on exact cents
    "q_group_quantile_bisect" ->
      """WITH c AS (SELECT l_returnflag,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS v FROM lineitem),
              t AS (SELECT l_returnflag, count(*) AS n FROM c
                    GROUP BY l_returnflag),
              d AS (SELECT l_returnflag, v, count(*) AS cnt FROM c
                    GROUP BY l_returnflag, v),
              w AS (SELECT l_returnflag, v,
                           sum(cnt) OVER (PARTITION BY l_returnflag
                                          ORDER BY v) AS cw FROM d),
              ks AS (SELECT l_returnflag, 'p50' AS pct, (n + 1) // 2 AS k,
                            n FROM t
                     UNION ALL SELECT l_returnflag, 'p90',
                            (9 * n + 9) // 10, n FROM t
                     UNION ALL SELECT l_returnflag, 'p99',
                            (99 * n + 99) // 100, n FROM t)
         SELECT ks.pct, ks.l_returnflag AS l_returnflag, ks.k,
                ks.n AS n_rows,
                min(w.v) AS value_cents,
                CAST(min(w.v) AS DOUBLE) / 100 AS value
         FROM ks JOIN w ON w.l_returnflag = ks.l_returnflag
                       AND w.cw >= ks.k
         GROUP BY ks.pct, ks.l_returnflag, ks.k, ks.n
         ORDER BY ks.l_returnflag, ks.pct""",

    "q_events_json_props" ->
      """WITH e AS (SELECT event_type,
                CAST(json_extract(props, '$.k') AS BIGINT) AS k
              FROM events)
         SELECT event_type, count(k) AS n_with_k,
                CAST(sum(k) AS BIGINT) AS sum_k,
                min(k) AS min_k, max(k) AS max_k
         FROM e GROUP BY event_type ORDER BY event_type""",

    "q22_above_avg_idle" ->
      """SELECT c_custkey, c_name, c_acctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                                        AS DOUBLE) / COUNT(*) FROM customer)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
         ORDER BY c_custkey""",

    "q_events_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
                    FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id, c.user_id, c.tus,
                v.tus AS view_tus, c.tus - v.tus AS lag_us
         FROM c ASOF LEFT JOIN v
           ON c.user_id = v.user_id AND c.tus >= v.tus
         ORDER BY c.event_id""",

    "q_part_topn_price" ->
      """WITH r AS (SELECT p_brand, p_partkey, p_retailprice,
                        dense_rank() OVER (PARTITION BY p_brand
                          ORDER BY p_retailprice DESC) AS rk
                    FROM part)
         SELECT p_brand, rk, p_partkey, p_retailprice
         FROM r WHERE rk <= 2
         ORDER BY p_brand, rk, p_partkey""",

    "dedup_exact" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents)
         SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
         FROM u GROUP BY md5(text)
         ORDER BY canonical_id""",

    // EXHAUSTIVE all-pairs token Jaccard — not the prefix-filter
    // algorithm: the oracle proves the AllPairs candidate generation is
    // lossless, not merely self-consistent.
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
                        list_distinct(string_split(text, ' ')) AS tset
                    FROM documents),
              p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                        round(CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.tset, b.tset))), 6) AS jac
                    FROM t a JOIN t b ON a.doc_id < b.doc_id)
         SELECT i, j, jac FROM p WHERE jac >= 0.9
         ORDER BY i, j""",

    // True transitive connected components via recursive CTE — the oracle
    // proves the distributed min-label fixpoint equals the exact
    // component labeling, not an approximation of it.
    "dedup_cluster" ->
      """WITH RECURSIVE
          t AS (SELECT doc_id,
                    list_distinct(string_split(text, ' ')) AS tset
                FROM documents),
          p AS (SELECT a.doc_id AS i, b.doc_id AS j
                FROM t a JOIN t b ON a.doc_id < b.doc_id
                WHERE round(CAST(len(list_intersect(a.tset, b.tset)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.tset, b.tset))), 6)
                      >= 0.9),
          e AS (SELECT i AS src, j AS dst FROM p
                UNION ALL SELECT j, i FROM p),
          reach AS (
            SELECT doc_id AS id, doc_id AS lab FROM documents
            UNION
            SELECT e.dst AS id, r.lab FROM reach r JOIN e ON e.src = r.id)
         SELECT id AS doc_id, min(lab) AS canonical_id
         FROM reach GROUP BY id ORDER BY doc_id""",

    // Exhaustive all-pairs 3-shingle Jaccard — NOT the LSH algorithm: the
    // oracle grades the banding's recall, not just the rerank arithmetic.
    "dedup_minhash_lsh" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              s AS (SELECT doc_id,
                        list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                    FROM t WHERE len(toks) >= 3),
              p AS (SELECT a.doc_id AS i, b.doc_id AS j,
                        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jac
                    FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT i, j, jac FROM p WHERE jac >= 0.5
         ORDER BY i, j""",

    // Same coordinate-difference RHP blocking as the Spark plan (identical
    // baked-in hyperplane index constants) — label-free, hash-exact.
    "dedup_embedding" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
              p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                        round(list_cosine_similarity(a.v, b.v), 6) AS sim
                    FROM s a JOIN s b
                      ON a.vec_id < b.vec_id AND ($anyBucket))
         SELECT i, j, sim FROM p WHERE sim >= 0.4
         ORDER BY i, j"""
    },

    // The over-cap bucket report of the width-capped LSH pipeline: per-
    // table bucket widths from the same baked-in RHP constants, filtered
    // above the report cap — widths are exact integers, so the report is
    // hash-stable by construction.
    "dedup_lsh_cliques" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val widthUnion = buckets.indices.map(i =>
        s"""SELECT $i AS tbl, s$i AS bucket,
                CAST(count(*) AS BIGINT) AS width FROM s GROUP BY 1, 2""")
        .mkString("\n                UNION ALL\n                ")
      s"""WITH s AS (SELECT vec_id,
                $sigSelects
              FROM embeddings e),
              w AS ($widthUnion)
         SELECT tbl, bucket, width FROM w
         WHERE width > ${Dedup.CliqueReportCap}
         ORDER BY tbl, bucket"""
    },

    // Triangles + clustering coefficient over the dedup_embedding pair
    // relation (same RHP constants): ordered-wedge enumeration against
    // the closing edge, per-vertex counts, one exact-integer division.
    "graph_triangles" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
              p AS (SELECT a.vec_id AS i, b.vec_id AS j
                    FROM s a JOIN s b
                      ON a.vec_id < b.vec_id AND ($anyBucket)
                    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
              deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
                      FROM (SELECT i AS id FROM p
                            UNION ALL SELECT j FROM p)
                      GROUP BY id),
              tri AS (SELECT e1.i AS a, e1.j AS b, e2.j AS c
                      FROM p e1 JOIN p e2 ON e2.i = e1.j
                      JOIN p e3 ON e3.i = e1.i AND e3.j = e2.j),
              tv AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
                     FROM (SELECT a AS id FROM tri
                           UNION ALL SELECT b FROM tri
                           UNION ALL SELECT c FROM tri)
                     GROUP BY id)
         SELECT d.id AS vec_id, d.degree,
                COALESCE(tv.n_triangles, 0) AS n_triangles,
                CASE WHEN d.degree >= 2
                     THEN round(2.0 * COALESCE(tv.n_triangles, 0)
                                  / (d.degree * (d.degree - 1)), 6)
                     ELSE 0.0 END AS clustering
         FROM deg d LEFT JOIN tv ON tv.id = d.id
         ORDER BY vec_id"""
    },

    // The similarity profile over the same RHP-blocked pair relation as
    // dedup_embedding, with NO similarity floor — order-independent
    // aggregates only (count/min/max), so no float-summation divergence.
    "sim_pair_hist" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
              p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                        round(list_cosine_similarity(a.v, b.v), 6) AS sim
                    FROM s a JOIN s b
                      ON a.vec_id < b.vec_id AND ($anyBucket))
         SELECT CAST(floor(sim * 20) AS BIGINT) AS band,
                CAST(count(*) AS BIGINT) AS n_pairs,
                min(sim) AS min_sim, max(sim) AS max_sim
         FROM p GROUP BY band ORDER BY band"""
    },

    // Same coordinate-difference RHP blocking as the Spark plan (identical
    // baked-in hyperplane constants) — candidate generation itself is gated.
    "sim_topk_lsh" -> simTopkLshOracle,

    // Transitive components over the RHP-blocked embedding pair relation
    // (same constants as dedup_embedding) — proves the contraction +
    // union-find labeling equals the exact closure, per-vector.
    "dedup_semantic" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH RECURSIVE
          s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
          p AS (SELECT a.vec_id AS i, b.vec_id AS j
                FROM s a JOIN s b
                  ON a.vec_id < b.vec_id AND ($anyBucket)
                WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
          eg AS (SELECT i AS src, j AS dst FROM p
                 UNION ALL SELECT j, i FROM p),
          reach AS (
            SELECT vec_id AS id, vec_id AS lab FROM embeddings
            UNION
            SELECT eg.dst AS id, r.lab FROM reach r JOIN eg ON eg.src = r.id)
         SELECT id AS vec_id, min(lab) AS canonical_id
         FROM reach GROUP BY id ORDER BY vec_id"""
    },

    // DBSCAN over the same RHP-blocked pair relation: core by degree
    // floor, clusters = recursive closure over CORE-CORE edges only,
    // borders attach to min core-neighbor label, -1 = noise — all-integer
    // labels so the CTE matches the contraction + union-find bit for bit.
    "sim_dbscan" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH RECURSIVE
          s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
          p AS (SELECT a.vec_id AS i, b.vec_id AS j
                FROM s a JOIN s b
                  ON a.vec_id < b.vec_id AND ($anyBucket)
                WHERE round(list_cosine_similarity(a.v, b.v), 6)
                      >= ${Dedup.DbscanTau}),
          sym AS (SELECT i AS a, j AS b FROM p
                  UNION ALL SELECT j, i FROM p),
          deg AS (SELECT a AS id, count(*) AS n FROM sym GROUP BY a),
          core AS (SELECT id FROM deg WHERE n >= ${Dedup.DbscanMinPts}),
          eg AS (SELECT sym.a AS src, sym.b AS dst FROM sym
                 WHERE sym.a IN (SELECT id FROM core)
                   AND sym.b IN (SELECT id FROM core)),
          reach AS (
            SELECT id, id AS lab FROM core
            UNION
            SELECT eg.dst AS id, r.lab FROM reach r JOIN eg ON eg.src = r.id),
          cc AS (SELECT id, min(lab) AS cid FROM reach GROUP BY id),
          brd AS (SELECT sym.a AS id, min(cc.cid) AS cid
                  FROM sym JOIN cc ON cc.id = sym.b
                  WHERE sym.a NOT IN (SELECT id FROM core)
                  GROUP BY sym.a)
         SELECT e.vec_id,
                CASE WHEN cc.cid IS NOT NULL THEN 'core'
                     WHEN brd.cid IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                CAST(COALESCE(cc.cid, brd.cid, -1) AS BIGINT) AS cluster_id
         FROM embeddings e
         LEFT JOIN cc ON cc.id = e.vec_id
         LEFT JOIN brd ON brd.id = e.vec_id
         ORDER BY e.vec_id"""
    },

    // the same DBSCAN CTE stack joined to ground-truth labels: integer
    // majority argmax (smallest-label tie-break), one 6dp purity division
    "sim_dbscan_purity" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH RECURSIVE
          s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
          p AS (SELECT a.vec_id AS i, b.vec_id AS j
                FROM s a JOIN s b
                  ON a.vec_id < b.vec_id AND ($anyBucket)
                WHERE round(list_cosine_similarity(a.v, b.v), 6)
                      >= ${Dedup.DbscanTau}),
          sym AS (SELECT i AS a, j AS b FROM p
                  UNION ALL SELECT j, i FROM p),
          deg AS (SELECT a AS id, count(*) AS n FROM sym GROUP BY a),
          core AS (SELECT id FROM deg WHERE n >= ${Dedup.DbscanMinPts}),
          eg AS (SELECT sym.a AS src, sym.b AS dst FROM sym
                 WHERE sym.a IN (SELECT id FROM core)
                   AND sym.b IN (SELECT id FROM core)),
          reach AS (
            SELECT id, id AS lab FROM core
            UNION
            SELECT eg.dst AS id, r.lab FROM reach r JOIN eg ON eg.src = r.id),
          cc AS (SELECT id, min(lab) AS cid FROM reach GROUP BY id),
          brd AS (SELECT sym.a AS id, min(cc.cid) AS cid
                  FROM sym JOIN cc ON cc.id = sym.b
                  WHERE sym.a NOT IN (SELECT id FROM core)
                  GROUP BY sym.a),
          asg AS (SELECT e.vec_id,
                      COALESCE(cc.cid, brd.cid) AS cluster_id,
                      CAST(e.label AS BIGINT) AS label
                  FROM embeddings e
                  LEFT JOIN cc ON cc.id = e.vec_id
                  LEFT JOIN brd ON brd.id = e.vec_id
                  WHERE COALESCE(cc.cid, brd.cid) IS NOT NULL),
          cl AS (SELECT cluster_id, label, count(*) AS n
                 FROM asg GROUP BY cluster_id, label),
          mj AS (SELECT cluster_id,
                     CAST(sum(n) AS BIGINT) AS n_members,
                     max(struct_pack(n := n, neg := -label)) AS w
                 FROM cl GROUP BY cluster_id)
         SELECT cluster_id, n_members,
                CAST(-w.neg AS BIGINT) AS majority_label,
                w.n AS n_majority,
                round(CAST(w.n AS DOUBLE) / n_members, 6) AS purity
         FROM mj ORDER BY cluster_id"""
    },

    // Same RHP candidate generation as dedup_embedding (shared constants),
    // symmetrized so every vector ranks its neighbors; row_number's
    // (sim DESC, nbr_id) tie-break matches the bounded-heap aggregate's.
    "sim_knn_graph" -> {
      val buckets = Dedup.embeddingBucketSqlExprs("e")
      val sigSelects = buckets.zipWithIndex
        .map { case (s, i) => s"$s AS s$i" }.mkString(",\n                ")
      val anyBucket = buckets.indices.map(i => s"a.s$i = b.s$i").mkString(" OR ")
      s"""WITH s AS (SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                $sigSelects
              FROM embeddings e),
              p AS (SELECT a.vec_id AS i, b.vec_id AS j,
                        list_cosine_similarity(a.v, b.v) AS sim_raw
                    FROM s a JOIN s b
                      ON a.vec_id < b.vec_id AND ($anyBucket)),
              sym AS (SELECT i AS vec_id, j AS nbr_id, sim_raw FROM p
                      UNION ALL
                      SELECT j AS vec_id, i AS nbr_id, sim_raw FROM p),
              r AS (SELECT vec_id, nbr_id, sim_raw,
                        row_number() OVER (PARTITION BY vec_id
                          ORDER BY sim_raw DESC, nbr_id) AS rk
                    FROM sym)
         SELECT vec_id, CAST(rk AS BIGINT) AS rank, nbr_id,
                round(sim_raw, 6) AS sim
         FROM r WHERE rk <= 3
         ORDER BY vec_id, rank"""
    },

    "sim_topk_bruteforce" -> simTopkBruteforceOracle,

    // k-center greedy (farthest-point) selection replicated literally: the
    // recursive CTE carries the chosen-id list; each step's argmin over
    // (max cosine to chosen, vec_id) is a correlated struct-min — the same
    // raw-double compare as the Spark loop's incremental greatest fold
    // anchors/positives from the SAME exhaustive AllPairs pair relation
    // dedup_ngram_jaccard grades; negatives are md5-seeded dense-rank
    // draws with two (mod n) collision probes — 3 distinct ranks, at most
    // 2 exclusions, so a negative always resolves and never equals the
    // anchor or positive
    "pipeline_contrastive_pairs" ->
      """WITH t AS (SELECT doc_id,
                        list_distinct(string_split(text, ' ')) AS tset
                    FROM documents),
              pp AS (SELECT a.doc_id AS i, b.doc_id AS j
                     FROM t a JOIN t b ON a.doc_id < b.doc_id
                     WHERE round(CAST(len(list_intersect(a.tset, b.tset))
                             AS DOUBLE)
                           / len(list_distinct(list_concat(a.tset, b.tset))),
                           6) >= 0.9),
              sym AS (SELECT i AS anchor, j AS pos FROM pp
                      UNION ALL SELECT j, i FROM pp),
              best AS (SELECT anchor, min(pos) AS pos_id FROM sym
                       GROUP BY anchor),
              n AS (SELECT count(*) AS n_docs FROM documents),
              ids AS (SELECT doc_id,
                          row_number() OVER (ORDER BY doc_id) - 1 AS rk
                      FROM documents),
              probes AS (SELECT b.anchor, b.pos_id, u.prio,
                             ((('0x' || substring(md5(CAST(b.anchor AS VARCHAR)),
                                 1, 8))::BIGINT % n.n_docs) + u.prio)
                               % n.n_docs AS rk
                         FROM best b CROSS JOIN n
                              CROSS JOIN (SELECT unnest([0, 1, 2]) AS prio) u)
         SELECT pr.anchor AS anchor_id, pr.pos_id,
                min(struct_pack(p := pr.prio, d := i2.doc_id))['d'] AS neg_id
         FROM probes pr JOIN ids i2 ON i2.rk = pr.rk
         WHERE i2.doc_id <> pr.anchor AND i2.doc_id <> pr.pos_id
         GROUP BY pr.anchor, pr.pos_id
         ORDER BY anchor_id""",

    "pipeline_coreset" ->
      s"""WITH RECURSIVE
            v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
            sel AS (
              SELECT 1 AS step,
                     (SELECT min(vec_id) FROM v) AS id,
                     CAST(NULL AS DOUBLE) AS cover,
                     [(SELECT min(vec_id) FROM v)] AS ids
              UNION ALL
              SELECT step + 1, best['id'], best['s'],
                     list_append(ids, best['id'])
              FROM (
                SELECT step, ids,
                    (SELECT min({'s': (SELECT max(list_cosine_similarity(c.v, ch.v))
                                       FROM v ch
                                       WHERE list_contains(sel.ids, ch.vec_id)),
                                 'id': c.vec_id})
                     FROM v c
                     WHERE NOT list_contains(sel.ids, c.vec_id)) AS best
                FROM sel
                WHERE step < ${graft.operators.Similarity.CoresetK}))
         SELECT CAST(step AS BIGINT) AS rank, id AS vec_id,
                round(cover, 6) AS cover_sim
         FROM sel ORDER BY rank""",

    // MMR greedy replicated literally: candidates = top-50 by raw
    // cosine relevance to the vec_id-0 probe (vec_id tie-break), then
    // the recursive CTE carries the chosen-id list and each step's
    // argmax over (0.7*rel - 0.3*max-sim-to-chosen, smallest vec_id)
    // is a struct-min on ('ns': -score, 'id') — the same raw-double
    // compare as the driver-side greedy
    "sim_mmr" ->
      """WITH RECURSIVE
            q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
                      AS qv
                  FROM embeddings WHERE vec_id = 0),
            cv AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE))
                         AS v
                   FROM embeddings WHERE vec_id <> 0),
            cand AS (SELECT vec_id, v,
                         list_cosine_similarity(v, qv) AS rel,
                         row_number() OVER (
                           ORDER BY list_cosine_similarity(v, qv) DESC,
                                    vec_id) AS rk
                     FROM cv, q),
            c50 AS (SELECT vec_id, v, rel FROM cand WHERE rk <= 50),
            sel AS (
              SELECT 1 AS rank, best['id'] AS vec_id, best['r'] AS rel,
                     -best['ns'] AS score, [best['id']] AS ids
              FROM (SELECT (SELECT min({'ns': -(0.7 * c.rel - 0.3 * 0.0),
                                        'id': c.vec_id, 'r': c.rel})
                            FROM c50 c) AS best)
              UNION ALL
              SELECT rank + 1, best['id'], best['r'], -best['ns'],
                     list_append(ids, best['id'])
              FROM (
                SELECT rank, ids,
                    (SELECT min({'ns': -(0.7 * c.rel - 0.3 * COALESCE(
                                   (SELECT max(list_cosine_similarity(
                                        c.v, s.v))
                                    FROM c50 s
                                    WHERE list_contains(sel.ids, s.vec_id)),
                                   0.0)),
                                 'id': c.vec_id, 'r': c.rel})
                     FROM c50 c
                     WHERE NOT list_contains(sel.ids, c.vec_id)) AS best
                FROM sel
                WHERE rank < 10))
         SELECT CAST(rank AS BIGINT) AS rank, vec_id,
                round(rel, 6) AS rel_sim, round(score, 6) AS mmr_score
         FROM sel ORDER BY rank""",

    // Replicates the whole IVF dataflow: same 16 centroids (vec_id < 16),
    // same (cosine desc, cent_id desc) assignment tie-break, same 6-cell
    // probe, same rerank — a corpus vector sits in exactly one cell, so a
    // (q, c) candidate pair is unique and no dedup is needed on either side.
    "sim_topk_ivf" -> simTopkIvfOracle,

    // The stored-index decomposition (standing assignments from the
    // warehouse + map-side feed assignment against the stored centroids)
    // is deterministic in the centroid table alone, so its probe is
    // BIT-IDENTICAL to recomputing the whole index: the oracle IS the
    // recompute SQL — "stored ≡ recompute" is the graded contract.
    "sim_ivf_incremental" -> simTopkIvfOracle,

    "text_tokencount" ->
      """SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens
         FROM documents ORDER BY doc_id""",

    "text_quality" ->
      """WITH t AS (SELECT doc_id, length(text) AS nc,
                        len(string_split(text, ' ')) AS nt,
                        len(regexp_extract_all(text, '[0-9]')) AS nd
                    FROM documents),
              s AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
                        CAST(nc - nt + 1 AS DOUBLE) / nt AS aw,
                        CAST(nd AS DOUBLE) / nc AS dr,
                        least(CAST(nt AS DOUBLE) / 50.0, 1.0) AS ls
                    FROM t)
         SELECT doc_id, n_tokens, round(aw, 6) AS avg_word_len,
             round(dr, 6) AS digit_ratio,
             round(ls * 0.6 +
               (CASE WHEN aw >= 3.0 AND aw <= 8.0 THEN 1.0 ELSE 0.5 END) * 0.4,
               6) AS quality
         FROM s ORDER BY doc_id""",

    "text_top_terms" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         SELECT term, count(*) AS n FROM t
         GROUP BY term ORDER BY n DESC, term LIMIT 50""",

    // the regression runs over exactly the top-100 cut on both engines;
    // ln() ulp noise sits far below the 6dp round
    "text_zipf" ->
      """WITH tf AS (SELECT term, count(*) AS n
                     FROM (SELECT unnest(string_split(text, ' ')) AS term
                           FROM documents)
                     GROUP BY term),
              top AS (SELECT term, n FROM tf
                      ORDER BY n DESC, term LIMIT 100),
              r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term)
                        AS rank
                    FROM top)
         SELECT count(*) AS n_terms,
                round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
                round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept
         FROM r""",

    "text_vocab_growth" ->
      """WITH tk AS (SELECT doc_id,
                         unnest(list_distinct(string_split(text, ' '))) AS term
                     FROM documents),
              fst AS (SELECT term, min(doc_id) AS first_doc
                      FROM tk GROUP BY term),
              b AS (SELECT first_doc // 50 AS batch, count(*) AS new_terms
                    FROM fst GROUP BY 1)
         SELECT batch, new_terms,
                CAST(sum(new_terms) OVER (ORDER BY batch
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_vocab
         FROM b ORDER BY batch""",

    "pipeline_interleave" ->
      """SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS seq
         FROM documents ORDER BY seq, source""",

    "text_normalize" ->
      """WITH n AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
              FROM documents)
         SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_norm_chars
         FROM n ORDER BY doc_id""",

    // feature replicates GraftKernels.byteFeature over the UTF-8 payload —
    // the corpus is ASCII, so unicode(char) == byte value
    "mm_metadata" ->
      """SELECT doc_id,
             CAST(length(text) AS BIGINT) AS payload_len,
             source AS origin,
             'text/plain' AS mime,
             CAST(COALESCE(list_sum(list_transform(range(length(text)),
               i -> unicode(text[i+1]) * ((i % 7) + 1))), 0) AS BIGINT) AS feature
         FROM documents ORDER BY doc_id""",

    "mm_dedup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents)
         SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,
                CAST(min(length(text)) AS BIGINT) AS payload_len,
                CAST(min(COALESCE(list_sum(list_transform(range(length(text)),
                  i -> unicode(text[i+1]) * ((i % 7) + 1))), 0)) AS BIGINT)
                  AS feature
         FROM u GROUP BY md5(text)
         ORDER BY canonical_id""",

    // Byte-faithful framing: payloads are UTF-8 encodings and frames
    // slice BYTES, so the oracle frames the expanded byte list, not the
    // character string (ASCII-safe either way, multibyte-safe this way).
    "mm_frame_features" ->
      s"""WITH b AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
               t AS (SELECT doc_id, bytes,
                         CAST(ceil(len(bytes) / 32.0) AS INTEGER) AS nf
                     FROM b),
               e AS (SELECT doc_id, bytes, unnest(range(1, nf + 1)) AS f
                     FROM t),
               fr AS (SELECT doc_id, CAST(f - 1 AS BIGINT) AS frame_idx,
                          bytes[(f - 1) * 32 + 1 : (f - 1) * 32 + 32] AS fr
                      FROM e)
         SELECT doc_id, frame_idx,
                CAST(len(fr) AS BIGINT) AS frame_len,
                CAST(list_sum(list_transform(range(1, len(fr) + 1),
                       i -> fr[i] * ((i - 1) % 7 + 1))) AS BIGINT) AS feature
         FROM fr ORDER BY doc_id, frame_idx""",

    // same byte/frame CTEs; active = energy > 65536 with the stub-PCM
    // amplitude (b - 128); gaps-and-islands on frame_idx - row_number
    "mm_vad" ->
      s"""WITH b AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
               t AS (SELECT doc_id, bytes,
                         CAST(ceil(len(bytes) / 32.0) AS INTEGER) AS nf
                     FROM b),
               e AS (SELECT doc_id, bytes, unnest(range(1, nf + 1)) AS f
                     FROM t),
               fr AS (SELECT doc_id, CAST(f - 1 AS BIGINT) AS frame_idx,
                          bytes[(f - 1) * 32 + 1 : (f - 1) * 32 + 32] AS fr
                      FROM e),
               en AS (SELECT doc_id, frame_idx,
                          CAST(list_sum(list_transform(fr,
                                x -> CAST((x - 128) * (x - 128) AS BIGINT)))
                               AS BIGINT) AS energy
                      FROM fr),
               act AS (SELECT doc_id, frame_idx, energy,
                           frame_idx - row_number() OVER (
                             PARTITION BY doc_id ORDER BY frame_idx) AS isl
                       FROM en WHERE energy > 65536),
               seg AS (SELECT doc_id, isl,
                           min(frame_idx) AS start_frame,
                           max(frame_idx) AS end_frame,
                           CAST(count(*) AS BIGINT) AS n_frames,
                           CAST(sum(energy) AS BIGINT) AS energy
                       FROM act GROUP BY doc_id, isl)
         SELECT doc_id,
                CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY start_frame) AS BIGINT) AS seg_idx,
                start_frame, end_frame, n_frames, energy
         FROM seg ORDER BY doc_id, seg_idx""",

    // same frame/feature CTEs as mm_frame_features; the cut decision is
    // an all-integer compare, so the oracle replicates it byte-for-byte
    "mm_scene_cut" ->
      s"""WITH b AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
               t AS (SELECT doc_id, bytes,
                         CAST(ceil(len(bytes) / 32.0) AS INTEGER) AS nf
                     FROM b),
               e AS (SELECT doc_id, bytes, unnest(range(1, nf + 1)) AS f
                     FROM t),
               fr AS (SELECT doc_id, CAST(f - 1 AS BIGINT) AS frame_idx,
                          bytes[(f - 1) * 32 + 1 : (f - 1) * 32 + 32] AS fr
                      FROM e),
               ft AS (SELECT doc_id, frame_idx, len(fr) AS fl,
                          CAST(list_sum(list_transform(range(1, len(fr) + 1),
                            i -> fr[i] * ((i - 1) % 7 + 1))) AS BIGINT)
                            AS feature
                      FROM fr),
               d AS (SELECT doc_id, frame_idx, fl, feature,
                         lag(feature) OVER w AS pf, lag(fl) OVER w AS pfl
                     FROM ft
                     WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
                CAST(sum(CASE WHEN fl = 32 AND pfl = 32
                              AND abs(feature - pf) > 1000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
                min(CASE WHEN fl = 32 AND pfl = 32
                         AND abs(feature - pf) > 1000
                         THEN frame_idx END) AS first_cut
         FROM d GROUP BY doc_id ORDER BY doc_id""",

    // same frame/cut CTEs as mm_scene_cut + a running cut count: shot_id
    // at a cut row includes its own cut, so every cut frame OPENS a shot;
    // keyframes = frame 0 + each cut frame (one row per shot, exactly)
    "mm_shot_sample" ->
      s"""WITH b AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                     FROM documents WHERE length(text) > 0),
               t AS (SELECT doc_id, bytes,
                         CAST(ceil(len(bytes) / 32.0) AS INTEGER) AS nf
                     FROM b),
               e AS (SELECT doc_id, bytes, unnest(range(1, nf + 1)) AS f
                     FROM t),
               fr AS (SELECT doc_id, CAST(f - 1 AS BIGINT) AS frame_idx,
                          bytes[(f - 1) * 32 + 1 : (f - 1) * 32 + 32] AS fr
                      FROM e),
               ft AS (SELECT doc_id, frame_idx, len(fr) AS fl,
                          CAST(list_sum(list_transform(range(1, len(fr) + 1),
                            i -> fr[i] * ((i - 1) % 7 + 1))) AS BIGINT)
                            AS feature
                      FROM fr),
               d AS (SELECT doc_id, frame_idx, fl, feature,
                         lag(feature) OVER w AS pf, lag(fl) OVER w AS pfl
                     FROM ft
                     WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
               s AS (SELECT doc_id, frame_idx, feature,
                         CAST(sum(CASE WHEN fl = 32 AND pfl = 32
                                       AND abs(feature - pf) > 1000
                                       THEN 1 ELSE 0 END) OVER w2 AS BIGINT)
                           AS shot_id,
                         CASE WHEN (fl = 32 AND pfl = 32
                                    AND abs(feature - pf) > 1000)
                                   OR frame_idx = 0
                              THEN 1 ELSE 0 END AS is_key
                     FROM d
                     WINDOW w2 AS (PARTITION BY doc_id ORDER BY frame_idx))
         SELECT doc_id, shot_id, frame_idx AS key_frame, feature
         FROM s WHERE is_key = 1 ORDER BY doc_id, shot_id""",

    // CDC chunking mirrored exactly: base-131 degree-7 rolling hash (the
    // 131^t literals are full-precision — max sum 8·255·131^7 ≈ 1.35e18
    // fits BIGINT on both engines), boundary ≡ 0 mod 7, forced boundary at
    // the last byte, FNV-1a-64 chunk digests (HUGEINT mod 2^64 here ≡
    // wrapping Long there: digests only feed WITHIN-engine equality, and
    // FNV collisions — the one way counts could shift — are symmetric
    // because both engines hash the same bytes with the same function).
    // The df cap (2..16), the Jaccard threshold (2·inter ≥ union), and the
    // twin construction (mid-byte replace + 3-byte append) are all
    // replicated verbatim; every output is an exact integer.
    "mm_cdc_neardup" ->
      s"""WITH d0 AS (SELECT doc_id, ${utf8BytesSql("text")} AS bytes
                      FROM documents WHERE length(text) > 0),
            u AS (
              SELECT doc_id, bytes FROM d0
              UNION ALL
              SELECT doc_id + 3000000,
                list_concat(list_concat(list_concat(
                  list_slice(bytes, 1, greatest(len(bytes)//2, 1) - 1),
                  [88]),
                  list_slice(bytes, greatest(len(bytes)//2, 1) + 1,
                             len(bytes))),
                  [32, 118, 50])
              FROM d0),
            $cdcDigestsCte,
            inv AS (SELECT doc_id, unnest(digs) AS dig FROM ch),
            buck AS (SELECT dig FROM inv GROUP BY dig
                     HAVING count(*) BETWEEN 2 AND 16),
            cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                     FROM inv a JOIN buck USING (dig) JOIN inv b USING (dig)
                     WHERE a.doc_id < b.doc_id),
            rr AS (SELECT c.i, c.j,
                     len(list_intersect(x.digs, y.digs)) AS inter,
                     len(x.digs) AS na, len(y.digs) AS nb
                   FROM cand c
                   JOIN ch x ON x.doc_id = c.i
                   JOIN ch y ON y.doc_id = c.j)
         SELECT i, j, CAST(inter AS BIGINT) AS n_shared,
                CAST(na + nb - inter AS BIGINT) AS n_union,
                (1000000 * inter) // (na + nb - inter) AS jmil
         FROM rr WHERE inter * 2 >= na + nb - inter
         ORDER BY i, j""",

    "pipeline_corpus_filter" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks,
                        length(text) AS nc
                    FROM documents),
              s AS (SELECT doc_id, lang, toks,
                        CAST(len(toks) AS BIGINT) AS n_tokens,
                        CAST(nc - len(toks) + 1 AS DOUBLE) / len(toks) AS aw,
                        least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) AS ls
                    FROM t),
              q AS (SELECT doc_id, lang, toks, n_tokens,
                        round(ls * 0.6 +
                          (CASE WHEN aw >= 3.0 AND aw <= 8.0
                                THEN 1.0 ELSE 0.5 END) * 0.4, 6) AS quality
                    FROM s),
              h AS (SELECT doc_id, lang, n_tokens, quality,
                        len(list_filter(toks, x -> list_contains(
                          ['the','a','of','and','to','in'], x))) AS en_hits,
                        len(list_filter(toks, x -> list_contains(
                          ['el','la','de','y','que','en'], x))) AS es_hits,
                        len(list_filter(toks, x -> list_contains(
                          ['der','die','das','und','ist','zu'], x))) AS de_hits
                    FROM q)
         SELECT doc_id, lang, n_tokens, quality,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS pred_lang
         FROM h
         WHERE quality >= 0.7 AND n_tokens BETWEEN 5 AND 1000
           AND (CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                     WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END) = lang
         ORDER BY doc_id""",

    "pipeline_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               % 100 < 10
         ORDER BY doc_id""",

    "pipeline_quality_sample" ->
      """WITH t AS (SELECT doc_id, lang, length(text) AS nc,
                        len(string_split(text, ' ')) AS nt FROM documents),
              s AS (SELECT doc_id, lang,
                        CAST(round(round(
                          least(CAST(nt AS DOUBLE) / 50.0, 1.0) * 0.6 +
                          (CASE WHEN CAST(nc - nt + 1 AS DOUBLE) / nt >= 3.0
                                 AND CAST(nc - nt + 1 AS DOUBLE) / nt <= 8.0
                                THEN 1.0 ELSE 0.5 END) * 0.4, 6) * 1000, 0)
                          AS BIGINT) AS qmil,
                        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                          % 100 AS bucket
                    FROM t)
         SELECT doc_id, lang, qmil FROM s
         WHERE bucket < qmil // 20
         ORDER BY doc_id""",

    "pipeline_split" ->
      """WITH b AS (SELECT doc_id, lang,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  % 100 AS bucket
              FROM documents)
         SELECT lang,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
             count(*) AS n_docs
         FROM b GROUP BY lang, split
         ORDER BY lang, split""",

    // ABC class cuts compare scaled decimals (100·cum_before < 70·total):
    // no float decides a class; the boundary part counts toward the class
    // it completes
    // linear multi-touch attribution: integer ppm credit, purchases with
    // no 7-day click window stay direct; (1e6 div n) * n reconstructs the
    // exact distributed total
    "q_events_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS pt
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS ct
                    FROM events WHERE event_type = 'click'),
              touch AS (SELECT p.user_id, p.p_id, count(*) AS n_touch
                        FROM p JOIN c ON c.user_id = p.user_id
                          AND c.ct < p.pt
                          AND c.ct >= p.pt - 604800000000
                        GROUP BY p.user_id, p.p_id),
              credit AS (SELECT p.user_id,
                             t.n_touch,
                             CASE WHEN t.n_touch IS NULL THEN 0
                                  ELSE (1000000 // t.n_touch) * t.n_touch
                             END AS attributed_ppm
                         FROM p LEFT JOIN touch t
                           ON t.p_id = p.p_id AND t.user_id = p.user_id)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(CASE WHEN n_touch > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_attributed,
                CAST(sum(attributed_ppm) AS BIGINT) AS click_credit_ppm
         FROM credit GROUP BY user_id ORDER BY user_id""",

    // linear multi-touch attribution: integer ppm credit, purchases with
    // no 7-day click window stay direct; (1e6 div n) * n reconstructs the
    // exact distributed total
    "q_events_attribution" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS pt
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS ct
                    FROM events WHERE event_type = 'click'),
              touch AS (SELECT p.user_id, p.p_id, count(*) AS n_touch
                        FROM p JOIN c ON c.user_id = p.user_id
                          AND c.ct < p.pt
                          AND c.ct >= p.pt - 604800000000
                        GROUP BY p.user_id, p.p_id),
              credit AS (SELECT p.user_id,
                             t.n_touch,
                             CASE WHEN t.n_touch IS NULL THEN 0
                                  ELSE (1000000 // t.n_touch) * t.n_touch
                             END AS attributed_ppm
                         FROM p LEFT JOIN touch t
                           ON t.p_id = p.p_id AND t.user_id = p.user_id)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(CASE WHEN n_touch > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_attributed,
                CAST(sum(attributed_ppm) AS BIGINT) AS click_credit_ppm
         FROM credit GROUP BY user_id ORDER BY user_id""",

    "q_abc_analysis" ->
      """WITH rev AS (SELECT l_partkey AS pk,
                sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
              FROM lineitem GROUP BY l_partkey),
              tot AS (SELECT sum(r) AS trev FROM rev),
              ranked AS (SELECT pk, r,
                  coalesce(sum(r) OVER (ORDER BY r DESC, pk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cumb
                FROM rev),
              classed AS (SELECT pk, r,
                  CASE WHEN 100 * cumb < 70 * trev THEN 'A'
                       WHEN 100 * cumb < 90 * trev THEN 'B'
                       ELSE 'C' END AS cls
                FROM ranked CROSS JOIN tot)
         SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
                CAST(sum(r) AS DOUBLE) AS revenue
         FROM classed GROUP BY cls ORDER BY cls""",

    "q_orders_mom" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_orders,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
              FROM orders GROUP BY month),
              g AS (SELECT month, n_orders, rev,
                        lag(rev) OVER (ORDER BY month) AS prev_rev
                    FROM m)
         SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
                CASE WHEN prev_rev IS NOT NULL
                     THEN round(CAST(rev - prev_rev AS DOUBLE)
                                  / CAST(prev_rev AS DOUBLE), 6)
                END AS mom_growth
         FROM g ORDER BY month""",

    "q_events_dow_profile" ->
      """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                CAST(hour(ts) AS BIGINT) AS hr,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2
         ORDER BY dow, hr""",

    // MI over the type×dow contingency: every ln argument a ratio of
    // exact BIGINT products; every cell/marginal aggregation an ORDERed
    // list_reduce mirroring Spark's sorted collect_list folds; sqrt is
    // IEEE-correctly-rounded on both engines
    "q_events_mutual_info" ->
      """WITH c AS (SELECT event_type AS x,
                        CAST(dayofweek(ts) + 1 AS BIGINT) AS y,
                        CAST(count(*) AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
            n AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                      CAST(count(*) AS BIGINT) AS n_cells FROM c),
            cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx
                   FROM c GROUP BY x),
            cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy
                   FROM c GROUP BY y),
            t AS (SELECT c.x, c.y, n.n, n.n_cells,
                      CAST(c.c AS DOUBLE) *
                        ln(CAST(c.c * n.n AS DOUBLE) /
                           CAST(cx.cx * cy.cy AS DOUBLE)) AS t
                  FROM c JOIN cx USING (x) JOIN cy USING (y)
                  CROSS JOIN n),
            mi AS (SELECT n, n_cells,
                       list_reduce(list(t ORDER BY x, y),
                         (a, b) -> a + b) AS smi
                   FROM t GROUP BY n, n_cells),
            hx AS (SELECT list_reduce(
                       list(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE))
                            ORDER BY x), (a, b) -> a + b) AS sx
                   FROM cx),
            hy AS (SELECT list_reduce(
                       list(CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE))
                            ORDER BY y), (a, b) -> a + b) AS sy
                   FROM cy)
         SELECT n AS n_events, n_cells,
                round(smi / CAST(n AS DOUBLE), 6) AS mi_nats,
                round(ln(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE), 6)
                  AS h_type,
                round(ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE), 6)
                  AS h_dow,
                round((smi / CAST(n AS DOUBLE)) /
                      sqrt((ln(CAST(n AS DOUBLE)) - sx / CAST(n AS DOUBLE))
                         * (ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE))),
                      6) AS nmi
         FROM mi CROSS JOIN hx CROSS JOIN hy""",

    // upper-tail dependence at the exact-rank q80: thresholds by
    // integer rank over the (value, day) total order, BIGINT counts,
    // two 6dp divisions and their fixed-order quotient
    "q_events_tail_dependence" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type
                     FROM events
                     WHERE event_type IN ('click', 'purchase')),
            d AS (SELECT day,
                      CAST(sum(CASE WHEN event_type = 'click'
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y
                  FROM ev GROUP BY day),
            r AS (SELECT x, y,
                      CAST(row_number() OVER (ORDER BY x, day) AS BIGINT)
                        AS rx,
                      CAST(row_number() OVER (ORDER BY y, day) AS BIGINT)
                        AS ry
                  FROM d),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
            f AS (SELECT n.n,
                      CASE WHEN rx * 5 > n.n * 4 THEN 1 ELSE 0 END AS ex,
                      CASE WHEN ry * 5 > n.n * 4 THEN 1 ELSE 0 END AS ey
                  FROM r CROSS JOIN n),
            g AS (SELECT CAST(min(n) AS BIGINT) AS n_days,
                      CAST(sum(ex) AS BIGINT) AS n_x_tail,
                      CAST(sum(ey) AS BIGINT) AS n_y_tail,
                      CAST(sum(ex * ey) AS BIGINT) AS n_joint
                  FROM f)
         SELECT n_days, n_x_tail, n_y_tail, n_joint,
                round(CAST(n_joint AS DOUBLE) /
                      CAST(n_x_tail AS DOUBLE), 6) AS chi_hat,
                round(CAST(n_y_tail AS DOUBLE) /
                      CAST(n_days AS DOUBLE), 6) AS baseline,
                round((CAST(n_joint AS DOUBLE) /
                       CAST(n_x_tail AS DOUBLE)) /
                      (CAST(n_y_tail AS DOUBLE) /
                       CAST(n_days AS DOUBLE)), 6) AS tail_lift
         FROM g""",

    // cross-document bigram novelty: per-doc DISTINCT bigram sets,
    // exact (source, bigram) doc counts, one 6dp division
    "text_ngram_novelty" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
            bg AS (SELECT source,
                       unnest(list_distinct(list_transform(
                         range(1, len(t)),
                         i -> t[i] || ' ' || t[i + 1]))) AS b
                   FROM d),
            dc AS (SELECT source, b, CAST(count(*) AS BIGINT) AS dc
                   FROM bg GROUP BY source, b)
         SELECT source,
                CAST(count(*) AS BIGINT) AS n_bigram_types,
                CAST(sum(dc) AS BIGINT) AS n_incidences,
                CAST(sum(CASE WHEN dc >= 2 THEN dc ELSE 0 END) AS BIGINT)
                  AS n_shared_incidences,
                CAST(sum(CASE WHEN dc = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_singleton_types,
                round(CAST(sum(dc) -
                        sum(CASE WHEN dc >= 2 THEN dc ELSE 0 END)
                      AS DOUBLE) / CAST(sum(dc) AS DOUBLE), 6)
                  AS novelty_ratio
         FROM dc GROUP BY source ORDER BY source""",

    // one-way ANOVA across return flags: exact BIGINT (n, S, SS) per
    // group, S²/n one double division, group terms fold flag-ORDERed,
    // F and eta² fixed 6dp chains
    "q_lineitem_anova" ->
      """WITH g AS (SELECT l_returnflag AS mode,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                          AS s,
                        CAST(sum(CAST(l_quantity AS BIGINT) *
                                 CAST(l_quantity AS BIGINT)) AS BIGINT)
                          AS ss
                    FROM lineitem GROUP BY l_returnflag),
            f AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      CAST(sum(n) AS BIGINT) AS ntot,
                      CAST(sum(s) AS BIGINT) AS stot,
                      CAST(sum(ss) AS BIGINT) AS sstot,
                      list_reduce(list(CAST(s * s AS DOUBLE) /
                          CAST(n AS DOUBLE) ORDER BY mode),
                        (a, b) -> a + b) AS tsum
                  FROM g)
         SELECT k AS n_groups, ntot AS n_rows,
                round(tsum - CAST(stot * stot AS DOUBLE) /
                      CAST(ntot AS DOUBLE), 6) AS ss_between,
                round(CAST(sstot AS DOUBLE) - tsum, 6) AS ss_within,
                round(((tsum - CAST(stot * stot AS DOUBLE) /
                        CAST(ntot AS DOUBLE)) /
                       CAST(k - 1 AS DOUBLE)) /
                      ((CAST(sstot AS DOUBLE) - tsum) /
                       CAST(ntot - k AS DOUBLE)), 6) AS f_stat,
                round((tsum - CAST(stot * stot AS DOUBLE) /
                       CAST(ntot AS DOUBLE)) /
                      (CAST(sstot AS DOUBLE) -
                       CAST(stot * stot AS DOUBLE) /
                       CAST(ntot AS DOUBLE)), 6) AS eta_sq
         FROM f""",

    // click→purchase lead-lag correlogram over a zero-filled day spine:
    // integer series, per-lag sample Pearson via moment aggregates
    // (order-insensitive at 6dp for integer inputs — the
    // q_nvd_score_corr precedent), rows keyed by lag
    "q_events_crosscorr" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type
                     FROM events
                     WHERE event_type IN ('click', 'purchase')),
            d AS (SELECT day,
                      CAST(sum(CASE WHEN event_type = 'click'
                        THEN 1 ELSE 0 END) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS y
                  FROM ev GROUP BY day),
            span AS (SELECT min(day) AS d0, max(day) AS d1 FROM d),
            spine AS (SELECT CAST(unnest(generate_series(d0, d1,
                        INTERVAL 1 DAY)) AS DATE) AS day FROM span),
            s AS (SELECT spine.day, COALESCE(d.x, 0) AS x,
                      COALESCE(d.y, 0) AS y
                  FROM spine LEFT JOIN d USING (day)),
            lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
            j AS (SELECT l.lag, a.x, b.y
                  FROM s a CROSS JOIN lags l
                  JOIN s b ON b.day = a.day + l.lag * INTERVAL 1 DAY)
         SELECT CAST(lag AS BIGINT) AS lag_days,
                CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(x) AS BIGINT) AS sum_clicks,
                CAST(sum(y) AS BIGINT) AS sum_purchases,
                round(corr(x, y), 6) AS corr_xy
         FROM j GROUP BY lag ORDER BY lag_days""",

    // Hill tail index on the top-200 totals: membership/ranking decided
    // on exact DECIMAL cents with the order key tie-break; ln args are
    // identical cast/divide chains; the log-sum is a rank-ORDERed
    // list_reduce mirroring Spark's sorted fold
    "q_orders_hill_tail" ->
      s"""WITH top AS (SELECT o_totalprice AS x, o_orderkey
                       FROM orders
                       ORDER BY x DESC, o_orderkey
                       LIMIT ${graft.operators.Relational.HillTailK + 1}),
            ranked AS (SELECT x, o_orderkey, row_number() OVER (
                         ORDER BY x DESC, o_orderkey) AS rn FROM top),
            thr AS (SELECT x AS xmin FROM ranked
                    WHERE rn = ${graft.operators.Relational.HillTailK + 1}),
            logs AS (SELECT rn,
                         ln(CAST(x AS DOUBLE) / CAST(xmin AS DOUBLE))
                           AS lx, xmin
                     FROM ranked CROSS JOIN thr
                     WHERE rn <= ${graft.operators.Relational.HillTailK}),
            f AS (SELECT xmin, list_reduce(list(lx ORDER BY rn),
                      (a, b) -> a + b) AS slog
                  FROM logs GROUP BY xmin)
         SELECT CAST(${graft.operators.Relational.HillTailK} AS BIGINT)
                  AS k,
                CAST(xmin AS DOUBLE) AS threshold,
                round(slog, 6) AS sum_log,
                round(CAST(${graft.operators.Relational.HillTailK}
                  AS DOUBLE) / slog, 6) AS alpha,
                round((CAST(${graft.operators.Relational.HillTailK}
                  AS DOUBLE) / slog) /
                  sqrt(CAST(${graft.operators.Relational.HillTailK}
                    AS DOUBLE)), 6) AS alpha_se
         FROM f""",

    // Flesch/FK from exact per-source integer totals (document = one
    // sentence, documented degeneracy — the corpus has no punctuation);
    // identical char-class regexes on both engines; single double
    // chains over BIGINTs, one 6dp landing per metric
    "text_readability" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS toks, text
                    FROM documents),
            p AS (SELECT source,
                      CAST(len(toks) AS BIGINT) AS w,
                      CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                        AS BIGINT) AS syl,
                      CAST(len(list_filter(toks, x -> regexp_matches(x,
                        '([aeiouy]+[^aeiouy]+){2}[aeiouy]')))
                        AS BIGINT) AS cplx
                  FROM d),
            g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(w) AS BIGINT) AS nw,
                      CAST(sum(syl) AS BIGINT) AS ns,
                      CAST(sum(cplx) AS BIGINT) AS nc
                  FROM p GROUP BY source)
         SELECT source, n_docs, nw AS n_words, ns AS n_syllables,
                nc AS n_complex_words,
                round(CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE), 6)
                  AS syl_per_word,
                round(CAST(nc AS DOUBLE) / CAST(nw AS DOUBLE), 6)
                  AS complex_ratio,
                round(206.835 - 1.015 *
                      (CAST(nw AS DOUBLE) / CAST(n_docs AS DOUBLE)) -
                      84.6 * (CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE)), 6)
                  AS flesch,
                round(0.39 *
                      (CAST(nw AS DOUBLE) / CAST(n_docs AS DOUBLE)) +
                      11.8 * (CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE)) -
                      15.59, 6) AS fk_grade
         FROM g ORDER BY source""",

    // per-source JSD vs rest: every per-term contribution a
    // bit-identical double (ln args are ratios of BIGINT products),
    // quantized ONCE to the DECIMAL(28,12) grid and summed exactly —
    // order-free, no list_reduce needed; absent-term q-parts enter in
    // closed form via the missing rest mass; ln2 is the pinned literal
    "text_js_divergence" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' '))
                       AS term FROM documents),
            st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS ca
                   FROM tk GROUP BY source, term),
            g AS (SELECT term, CAST(sum(ca) AS BIGINT) AS ct
                  FROM st GROUP BY term),
            ps AS (SELECT source, CAST(sum(ca) AS BIGINT) AS na,
                       CAST(count(*) AS BIGINT) AS n_terms
                   FROM st GROUP BY source),
            tot AS (SELECT CAST(sum(na) AS BIGINT) AS n FROM ps),
            j AS (SELECT st.source, st.ca, g.ct - st.ca AS cr, ps.na,
                      tot.n - ps.na AS nr, ps.n_terms,
                      st.ca * (tot.n - ps.na) AS u,
                      (g.ct - st.ca) * ps.na AS v
                  FROM st JOIN g USING (term)
                  JOIN ps ON ps.source = st.source CROSS JOIN tot),
            t AS (SELECT source, na, nr, n_terms, cr,
                      CAST(
                        0.5 * ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) *
                          ln(CAST(2 * u AS DOUBLE) /
                             CAST(u + v AS DOUBLE)))
                        + CASE WHEN cr > 0 THEN
                            0.5 * ((CAST(cr AS DOUBLE) /
                              CAST(nr AS DOUBLE)) *
                              ln(CAST(2 * v AS DOUBLE) /
                                 CAST(u + v AS DOUBLE)))
                          ELSE 0.0 END
                        AS DECIMAL(28,12)) AS t
                  FROM j),
            s AS (SELECT source, na, nr, n_terms, sum(t) AS sdec,
                      CAST(sum(cr) AS BIGINT) AS sr
                  FROM t GROUP BY source, na, nr, n_terms)
         SELECT source, n_terms, na AS n_tokens,
                round(CAST(sdec AS DOUBLE) + 0.5 * 0.6931471805599453 *
                      (CAST(nr - sr AS DOUBLE) / CAST(nr AS DOUBLE)), 6)
                  AS jsd_nats,
                round((CAST(sdec AS DOUBLE) + 0.5 * 0.6931471805599453 *
                       (CAST(nr - sr AS DOUBLE) / CAST(nr AS DOUBLE))) /
                      0.6931471805599453, 6) AS jsd_bits
         FROM s ORDER BY source""",

    "text_langid_confusion" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks
                    FROM documents),
              h AS (SELECT lang,
                        len(list_filter(toks, x -> list_contains(
                          ['the','a','of','and','to','in'], x))) AS en_hits,
                        len(list_filter(toks, x -> list_contains(
                          ['el','la','de','y','que','en'], x))) AS es_hits,
                        len(list_filter(toks, x -> list_contains(
                          ['der','die','das','und','ist','zu'], x))) AS de_hits
                    FROM t)
         SELECT lang,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs
         FROM h GROUP BY lang, pred_lang
         ORDER BY lang, pred_lang""",

    "text_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                    FROM documents),
              h AS (SELECT doc_id, lang,
                        CAST(len(list_filter(toks, x -> list_contains(
                          ['the','a','of','and','to','in'], x))) AS BIGINT) AS en_hits,
                        CAST(len(list_filter(toks, x -> list_contains(
                          ['el','la','de','y','que','en'], x))) AS BIGINT) AS es_hits,
                        CAST(len(list_filter(toks, x -> list_contains(
                          ['der','die','das','und','ist','zu'], x))) AS BIGINT) AS de_hits
                    FROM t)
         SELECT doc_id, lang, en_hits, es_hits, de_hits,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END AS pred_lang
         FROM h ORDER BY doc_id""",

    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
           AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",

    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
             CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(4,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS mkt_share,
             COUNT(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         JOIN region   ON n2.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         WHERE r_name = 'EUROPE'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_year
         ORDER BY o_year""",

    "dedup_incremental" ->
      s"""WITH fp AS (SELECT doc_id,
                 CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                           THEN h - 18446744073709551616::HUGEINT
                           ELSE h END AS BIGINT) AS fp64
               FROM (SELECT doc_id, ${fnv1aUtf8("text")} AS h
                     FROM documents))
         SELECT doc_id, fp64 FROM fp
         WHERE doc_id >= 250
           AND fp64 NOT IN (SELECT fp64 FROM fp WHERE doc_id < 250)
         ORDER BY doc_id""",

    // Exhaustive feed×warehouse 3-shingle Jaccard — NOT the banded
    // algorithm: as with dedup_minhash_lsh, the oracle grades the band
    // table's recall on the ≥0.9 pairs, not just the rerank arithmetic.
    "dedup_incremental_minhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
              s AS (SELECT doc_id,
                        list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
                    FROM t WHERE len(toks) >= 3),
              dup AS (SELECT DISTINCT f.doc_id
                      FROM s f JOIN s w
                        ON f.doc_id >= 250 AND w.doc_id < 250
                      WHERE round(CAST(len(list_intersect(f.sh, w.sh)) AS DOUBLE)
                          / len(list_distinct(list_concat(f.sh, w.sh))), 6) >= 0.9)
         SELECT doc_id FROM documents
         WHERE doc_id >= 250 AND doc_id NOT IN (SELECT doc_id FROM dup)
         ORDER BY doc_id""",

    "dedup_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
              d AS (SELECT doc_id,
                        list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                          AS sh
                    FROM t WHERE len(toks) >= 3),
              post AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
              rare AS (SELECT shingle FROM post GROUP BY shingle
                       HAVING count(*) BETWEEN 2 AND 20),
              cand AS (SELECT a.doc_id AS i, b.doc_id AS j
                       FROM post a, post b, rare r
                       WHERE a.shingle = r.shingle AND b.shingle = r.shingle
                         AND a.doc_id <> b.doc_id
                       GROUP BY a.doc_id, b.doc_id
                       HAVING count(*) >= 4),
              rr AS (SELECT i, j,
                         round(CAST(len(list_intersect(di.sh, dj.sh))
                               AS DOUBLE) / len(di.sh), 6) AS containment
                     FROM cand JOIN d di ON di.doc_id = i
                               JOIN d dj ON dj.doc_id = j)
         SELECT i, j, containment FROM rr
         WHERE containment >= 0.8
         ORDER BY i, j""",

    "pipeline_oversample" ->
      """WITH w AS (SELECT doc_id, lang,
                        CASE lang WHEN 'en' THEN 1 WHEN 'es' THEN 2
                                  WHEN 'de' THEN 3 ELSE 1 END AS w
                    FROM documents)
         SELECT doc_id, lang,
                CAST(unnest(range(1, w + 1)) AS BIGINT) AS rep
         FROM w
         ORDER BY doc_id, rep""",

    // The composition gate: every stage is oracle'd on its own elsewhere
    // (corpus_filter, dedup_exact, pipeline_split); this proves the
    // composed selection end-to-end.
    "pipeline_manifest" ->
      """WITH t AS (SELECT doc_id, lang, source, text,
                        string_split(text, ' ') AS toks,
                        length(text) AS nc,
                        ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                           1, 4))::BIGINT % 100 AS bucket
                    FROM documents),
              s AS (SELECT doc_id, lang, source, text, bucket,
                        CAST(len(toks) AS BIGINT) AS n_tokens,
                        CAST(nc - len(toks) + 1 AS BIGINT) AS ww,
                        len(list_filter(toks, x -> x IN
                          ('the','a','of','and','to','in'))) AS he,
                        len(list_filter(toks, x -> x IN
                          ('el','la','de','y','que','en'))) AS hs,
                        len(list_filter(toks, x -> x IN
                          ('der','die','das','und','ist','zu'))) AS hd
                    FROM t),
              -- quality ×1000 in EXACT integer arithmetic (mirrors the
              -- Spark side): no fp threshold, no rounding-mode tie hazard
              q AS (SELECT *,
                        least(n_tokens, 50) * 12 +
                          (CASE WHEN ww >= 3 * n_tokens
                                 AND ww <= 8 * n_tokens
                              THEN 400 ELSE 200 END) AS q1000,
                        CASE WHEN he >= hs AND he >= hd THEN 'en'
                             WHEN hs >= hd THEN 'es' ELSE 'de' END
                          AS pred_lang
                    FROM s),
              canon AS (SELECT min(doc_id) AS doc_id
                        FROM q GROUP BY md5(text))
         SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM q
         WHERE doc_id IN (SELECT doc_id FROM canon)
           AND q1000 >= 700 AND n_tokens BETWEEN 5 AND 1000
           AND pred_lang = lang AND bucket < 90
         GROUP BY lang, source
         ORDER BY lang, source""",

    // The integer form n_symbols*20 >= n_chars avoids any fp threshold
    // on the ratio; the 6dp-rounded ratio is report-only.
    "text_code_detect" ->
      """WITH s AS (SELECT doc_id,
                        CAST(len(regexp_extract_all(text,
                          '[{}()\[\];=<>+*/#_|@&%$^~`\\-]')) AS BIGINT)
                          AS n_symbols,
                        CAST(len(list_filter(string_split(text, ' '),
                          t -> t IN ('def','return','import','class','if',
                                     'else','for','while','int','void',
                                     'var','let','function','public',
                                     'static'))) AS BIGINT) AS n_kw_hits,
                        CAST(length(text) AS BIGINT) AS n_chars
                    FROM documents)
         SELECT doc_id, n_symbols, n_kw_hits,
                round(CAST(n_symbols AS DOUBLE) / n_chars, 6)
                  AS symbol_ratio,
                CAST(n_symbols * 20 >= n_chars OR n_kw_hits >= 3 AS INTEGER)
                  AS is_code
         FROM s ORDER BY doc_id""",

    "pipeline_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang, source,
                        row_number() OVER (PARTITION BY lang, source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                          AS rk
                    FROM documents)
         SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 30
         ORDER BY doc_id""",

    // Same grouping-sets lattice; within a gid the nulled dimensions are
    // constant, so Spark-nulls-first vs DuckDB-nulls-last never bites.
    "pipeline_dataset_card" ->
      """SELECT lang, source,
             CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                     / count(*), 6) AS avg_tokens
         FROM documents
         GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
         ORDER BY gid, lang, source""",

    // keep-FIRST block dedup replicated literally: same 10-token cut, the
    // winner per block CONTENT is the (doc_id, idx) lexicographic min;
    // the oracle groups by the full block string (not the engine-side
    // xxhash digest), so a digest collision on the Spark side would
    // surface as a dropped-block mismatch here
    "text_block_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
              blocks AS (
                SELECT doc_id, i AS idx,
                       array_to_string(t[i * ${graft.operators.TextAnalysis.BlockTokens} + 1 :
                         i * ${graft.operators.TextAnalysis.BlockTokens} +
                         ${graft.operators.TextAnalysis.BlockTokens}], ' ') AS block
                FROM toks,
                     unnest(range((len(t) + ${graft.operators.TextAnalysis.BlockTokens} - 1)
                       // ${graft.operators.TextAnalysis.BlockTokens})) AS u(i)),
              firsts AS (SELECT block,
                             min(struct_pack(d := doc_id, i := idx)) AS w
                         FROM blocks GROUP BY block),
              kept AS (SELECT b.doc_id, b.idx, b.block
                       FROM blocks b JOIN firsts f ON f.block = b.block
                       WHERE f.w.d = b.doc_id AND f.w.i = b.idx)
         SELECT d.doc_id,
                coalesce(string_agg(k.block, ' ' ORDER BY k.idx), '')
                  AS clean_text,
                CAST(count(k.idx) AS BIGINT) AS n_kept_blocks
         FROM documents d LEFT JOIN kept k ON k.doc_id = d.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",

    "text_window_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
              s AS (SELECT doc_id, tk,
                        unnest(range(1, len(tk) + 1, 96)) AS start_tok
                    FROM t)
         SELECT doc_id,
                CAST((start_tok - 1) // 96 AS BIGINT) AS chunk_idx,
                CAST(start_tok AS BIGINT) AS start_tok,
                CAST(len(tk[start_tok : start_tok + 127]) AS BIGINT)
                  AS n_chunk_tokens,
                md5(array_to_string(tk[start_tok : start_tok + 127], ' '))
                  AS chunk_md5
         FROM s ORDER BY doc_id, chunk_idx""",

    "q_events_markov" ->
      """WITH e AS (SELECT user_id, event_type AS cur,
                        CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
                    FROM events),
              l AS (SELECT user_id, cur,
                        lag(cur) OVER (PARTITION BY user_id
                                       ORDER BY tus, event_id) AS prev
                    FROM e)
         SELECT prev, cur, count(*) AS n_transitions
         FROM l WHERE prev IS NOT NULL
         GROUP BY prev, cur
         ORDER BY prev, cur""",

    // slope/intercept from EXACT integer moment sums (closed OLS forms,
    // one float division each) — regr_slope's Welford update would be
    // accumulation-order-dependent across engines
    "q_discount_elasticity" ->
      """WITH f AS (SELECT p.p_brand,
                        CAST(round(l.l_discount * 100) AS BIGINT) AS x,
                        CAST(l.l_quantity AS BIGINT) AS y
                    FROM lineitem l JOIN part p
                      ON l.l_partkey = p.p_partkey),
              m AS (SELECT p_brand, count(*) AS n_rows,
                        sum(x) AS sx, sum(y) AS sy,
                        sum(x * x) AS sxx, sum(x * y) AS sxy
                    FROM f GROUP BY p_brand)
         SELECT p_brand, n_rows,
                round(CAST(n_rows * sxy - sx * sy AS DOUBLE)
                      / CAST(n_rows * sxx - sx * sx AS DOUBLE), 6) AS slope,
                round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / CAST(n_rows * sxx - sx * sx AS DOUBLE), 6)
                  AS intercept
         FROM m
         ORDER BY p_brand""",

    // Pearson corr is scale-invariant so the engines' moment formulas
    // agree far below the 6dp round; day indices are exact integers
    "q_events_autocorr" ->
      """WITH daily AS (SELECT CAST(epoch_us(ts) AS BIGINT) // 86400000000
                            AS day, count(*) AS c
                        FROM events GROUP BY day),
              lags AS (SELECT unnest([1, 7]) AS lag)
         SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n_pairs,
                round(corr(a.c, b.c), 6) AS autocorr
         FROM lags l
         JOIN daily a ON TRUE
         JOIN daily b ON b.day = a.day + l.lag
         GROUP BY l.lag
         ORDER BY lag""",

    "q_events_paths" ->
      """WITH e AS (SELECT user_id, event_type,
                        CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
                    FROM events),
              l AS (SELECT event_type,
                        lag(event_type, 1) OVER w AS p1,
                        lag(event_type, 2) OVER w AS p2,
                        lag(event_type, 3) OVER w AS p3
                    FROM e
                    WINDOW w AS (PARTITION BY user_id
                                 ORDER BY tus, event_id))
         SELECT concat_ws('>', p3, p2, p1) AS path,
                count(*) AS n_purchases
         FROM l WHERE event_type = 'purchase'
         GROUP BY path
         ORDER BY n_purchases DESC, path""",

    "q_events_dwell" ->
      """WITH e AS (SELECT user_id, event_type,
                        CAST(epoch_us(ts) AS BIGINT) AS tus, event_id
                    FROM events),
              l AS (SELECT event_type, tus,
                        lead(tus, 1) OVER (PARTITION BY user_id
                                           ORDER BY tus, event_id) AS nxt
                    FROM e)
         SELECT event_type,
                count(*) AS n_intervals,
                CAST(sum(nxt - tus) AS BIGINT) AS dwell_us
         FROM l WHERE nxt IS NOT NULL
         GROUP BY event_type
         ORDER BY event_type""",

    "sim_range_search" ->
      """WITH q AS (SELECT vec_id AS q_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                    FROM embeddings WHERE vec_id < 10),
              c AS (SELECT vec_id AS c_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                    FROM embeddings),
              s AS (SELECT q_id, c_id, list_cosine_similarity(qv, cv) AS sim_raw
                    FROM c CROSS JOIN q WHERE c_id <> q_id)
         SELECT q_id, c_id, round(sim_raw, 6) AS sim
         FROM s WHERE sim_raw >= 0.28
         ORDER BY q_id, c_id""",

    // PQ mirror: fixed training ids (vec_id < 64, the IVF oracle's
    // convention); every float op is a sequential left-to-right fold
    // ((x-y)*(x-y), list_reduce) matching Spark's zip_with+aggregate,
    // and the encode tie-break is (d2 asc, j asc) on both engines
    "sim_topk_pq" -> simTopkPqOracle,

    // recall@10 of each ANN path vs ITS exact metric, composed from the
    // SAME SQL texts the component queries are graded with — truth and
    // approximation cannot drift apart
    "sim_recall_report" ->
      s"""WITH ex AS (SELECT q_id, c_id FROM ($simTopkBruteforceOracle)),
              lshq AS (SELECT q_id, c_id FROM ($simTopkLshOracle)),
              ivfq AS (SELECT q_id, c_id FROM ($simTopkIvfOracle)),
              pqq AS (SELECT q_id, c_id FROM ($simTopkPqOracle)),
              exl2 AS (SELECT q_id, c_id FROM ($simExactL2Oracle))
         SELECT method, n_truth, matched,
                (1000000 * matched) // n_truth AS recall_ppm
         FROM (
           SELECT 'ivf' AS method,
                  (SELECT count(*) FROM ex) AS n_truth,
                  (SELECT count(*) FROM ex JOIN ivfq USING (q_id, c_id))
                    AS matched
           UNION ALL
           SELECT 'lsh', (SELECT count(*) FROM ex),
                  (SELECT count(*) FROM ex JOIN lshq USING (q_id, c_id))
           UNION ALL
           SELECT 'pq', (SELECT count(*) FROM exl2),
                  (SELECT count(*) FROM exl2 JOIN pqq USING (q_id, c_id)))
         ORDER BY method""",

    "text_pii_redact" ->
      """WITH p AS (SELECT doc_id,
                text || ' contact doc' || CAST(doc_id AS VARCHAR)
                     || '@example.com call +1-'
                     || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii
              FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(pii,
                     '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(pii,
                     '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                md5(regexp_replace(
                      regexp_replace(pii, '[a-z0-9.]+@[a-z0-9.]+',
                                     '[EMAIL]', 'g'),
                      '\+1-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'))
                  AS redacted_md5
         FROM p ORDER BY doc_id""",

    "pipeline_length_hist" ->
      """WITH d AS (SELECT lang,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n
              FROM documents)
         SELECT lang,
                CASE WHEN n < 16 THEN 'a_lt16'
                     WHEN n < 64 THEN 'b_16_63'
                     WHEN n < 256 THEN 'c_64_255'
                     WHEN n < 1024 THEN 'd_256_1023'
                     ELSE 'e_ge1024' END AS len_bucket,
                count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS sum_tokens
         FROM d GROUP BY lang, len_bucket
         ORDER BY lang, len_bucket""",

    "text_fingerprint" ->
      s"""SELECT doc_id,
             CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
                       THEN h - 18446744073709551616::HUGEINT
                       ELSE h END AS BIGINT) AS fp64
         FROM (SELECT doc_id, ${fnv1aUtf8("text")} AS h
               FROM documents)
         ORDER BY doc_id""",

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",

    "q13_order_count_dist" ->
      """WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count
                     FROM customer
                     LEFT JOIN orders ON c_custkey = o_custkey
                       AND o_orderpriority <> '1-URGENT'
                     GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist
         FROM cc GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    "q2_min_cost_supplier" ->
      """WITH pk AS (SELECT p_partkey, p_name FROM part
                     WHERE p_size < 15 AND p_type = 'PROMO'),
              pairs AS (SELECT l_partkey, l_suppkey,
                            min(l_extendedprice) AS cost
                        FROM lineitem JOIN pk ON l_partkey = p_partkey
                        GROUP BY l_partkey, l_suppkey),
              m AS (SELECT *, min(cost) OVER (PARTITION BY l_partkey)
                             AS mincost
                    FROM pairs)
         SELECT l_partkey AS p_partkey, p_name, s_suppkey, s_name,
                s_acctbal, n_name, cost
         FROM m JOIN pk ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
         WHERE cost = mincost
         ORDER BY p_partkey, s_suppkey""",

    "q4_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q9_profit_by_nation_year" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l_discount AS DECIMAL(4,2))
                      - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(4,0))
                        * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE)
               AS sum_profit
         FROM lineitem
         JOIN part     ON p_partkey = l_partkey
         JOIN orders   ON o_orderkey = l_orderkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation   ON n_nationkey = s_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY n_name, o_year
         ORDER BY n_name, o_year""",

    "q16_supplier_cnt" ->
      """WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM bridge JOIN part ON p_partkey = l_partkey
         WHERE p_type <> 'PROMO'
           AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "q20_dominant_supplier" ->
      """WITH f AS (SELECT l_partkey, l_suppkey,
                      sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                    FROM lineitem JOIN part ON p_partkey = l_partkey
                    WHERE p_name LIKE '%bolt%'
                      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                    GROUP BY l_partkey, l_suppkey),
              m AS (SELECT *, sum(qty) OVER (PARTITION BY l_partkey)
                             AS total
                    FROM f),
              dom AS (SELECT DISTINCT l_suppkey FROM m
                      WHERE qty * 2 > total)
         SELECT s_suppkey, s_name, n_name
         FROM dom JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation ON n_nationkey = s_nationkey
         ORDER BY s_suppkey""",

    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
                   AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
              GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",

    "q17_small_qty_revenue" ->
      """WITH flt AS (SELECT l_partkey, l_quantity, l_extendedprice
                      FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE p_brand = 'Brand#4'),
              a AS (SELECT l_partkey,
                        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(*) AS avg_qty
                    FROM flt GROUP BY l_partkey)
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  / 7.0 AS avg_yearly,
                COUNT(*) AS n_items
         FROM flt JOIN a USING (l_partkey)
         WHERE l_quantity < avg_qty * 0.2""",

    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum_qty > 300.0)
         SELECT c_custkey, c_name, o_orderkey,
                CAST(o_orderdate AS DATE) AS orderdate, o_totalprice, sum_qty
         FROM big
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 100""",

    "q21_late_sole_supplier" ->
      """WITH pairs AS (SELECT l_orderkey, l_suppkey,
                 max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                          THEN 1 ELSE 0 END) AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY l_orderkey, l_suppkey)
         SELECT s_name, count(*) AS numwait
         FROM pairs p1 JOIN supplier ON p1.l_suppkey = s_suppkey
         WHERE p1.late = 1
           AND EXISTS (SELECT 1 FROM pairs p2
                       WHERE p2.l_orderkey = p1.l_orderkey
                         AND p2.l_suppkey <> p1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM pairs p3
                           WHERE p3.l_orderkey = p1.l_orderkey
                             AND p3.l_suppkey <> p1.l_suppkey
                             AND p3.late = 1)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name
         LIMIT 10""",

    "text_gopher_quality" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
              f AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
              m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                        CAST(count(*) AS BIGINT) AS n_unique,
                        CAST(max(c) AS BIGINT) AS mx
                    FROM f GROUP BY doc_id),
              d AS (SELECT doc_id, length(text) AS nc FROM documents)
         SELECT m.doc_id, n_words, n_unique,
             round(1.0 - CAST(n_unique AS DOUBLE) / n_words, 6)
               AS dup_word_ratio,
             round(CAST(mx AS DOUBLE) / n_words, 6) AS top_word_frac,
             round(CAST(nc - n_words + 1 AS DOUBLE) / n_words, 6)
               AS mean_word_len,
             CAST(n_words >= 20
                  AND CAST(mx AS DOUBLE) / n_words <= 0.125
                  AND 1.0 - CAST(n_unique AS DOUBLE) / n_words <= 0.6
                  AS INTEGER) AS keep
         FROM m JOIN d USING (doc_id)
         ORDER BY doc_id""",

    // SimHash per-token hash = fmix64(FNV-1a64): the FNV fold is the same
    // HUGEINT list_reduce as text_fingerprint; the fmix64 finalizer's two
    // 64×64-bit modular multiplies are limb-split (a = a1·2^32 + a0) so
    // the products stay inside INT128. Banding recall is exactly 1 for
    // hamming ≤ 3 (pigeonhole over 4×16-bit bands), so the oracle is the
    // semantically-equal all-pairs form.
    "dedup_simhash" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d),
          tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok
                 GROUP BY doc_id, tok),
          f AS (SELECT doc_id, cnt, ${fnv1aUtf8("tok")} AS h0
                FROM tc),
          x1 AS (SELECT doc_id, cnt,
                     xor(h0::UBIGINT, h0::UBIGINT >> 33)::HUGEINT AS a1
                 FROM f),
          m1 AS (SELECT doc_id, cnt,
                     (((a1 % 4294967296::HUGEINT)
                         * 18397679294719823053::HUGEINT
                       + (((a1 // 4294967296::HUGEINT)
                            * 18397679294719823053::HUGEINT)
                          % 4294967296::HUGEINT) * 4294967296::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS b1
                 FROM x1),
          x2 AS (SELECT doc_id, cnt,
                     xor(b1::UBIGINT, b1::UBIGINT >> 33)::HUGEINT AS a2
                 FROM m1),
          m2 AS (SELECT doc_id, cnt,
                     (((a2 % 4294967296::HUGEINT)
                         * 14181476777654086739::HUGEINT
                       + (((a2 // 4294967296::HUGEINT)
                            * 14181476777654086739::HUGEINT)
                          % 4294967296::HUGEINT) * 4294967296::HUGEINT)
                      % 18446744073709551616::HUGEINT) AS b2
                 FROM x2),
          x3 AS (SELECT doc_id, cnt,
                     xor(b2::UBIGINT, b2::UBIGINT >> 33) AS h FROM m2),
          bits AS (SELECT doc_id, b,
                 sum(cnt * (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))
                   AS vote
               FROM x3 CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bl
               GROUP BY doc_id, b),
          sig AS (SELECT doc_id,
                 sum(CASE WHEN vote > 0 THEN (1::UBIGINT << b)::HUGEINT
                          ELSE 0::HUGEINT END)::UBIGINT AS su
               FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS i, b.doc_id AS j,
                CAST(bit_count(xor(a.su, b.su)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.su, b.su)) <= 3
         ORDER BY i, j""",

    // average-hash perceptual near-dup: the oracle rebuilds the kernel's
    // 8×8 slice grid over UTF-8 BYTES (the utf8BytesSql/FNV precedent —
    // unicode() code points would diverge on non-ASCII), then grades the
    // banded candidate path against the EXHAUSTIVE all-pairs join; sig
    // bits accumulate in UBIGINT (1::BIGINT << 63 overflows DuckDB)
    "mm_phash_neardup" ->
      s"""WITH d0 AS (SELECT doc_id, ${utf8BytesSql("text")} AS b
                      FROM documents WHERE length(text) > 0),
            tw AS (SELECT doc_id + 4000000 AS doc_id,
                       b[1 : greatest(len(b) // 2, 1) - 1] || [88]
                         || b[greatest(len(b) // 2, 1) + 1 : len(b)] AS b
                   FROM d0),
            c AS (SELECT doc_id, b FROM d0
                  UNION ALL SELECT doc_id, b FROM tw),
            byt AS (SELECT doc_id,
                       unnest(list_transform(b, (x, i) ->
                         {'v': x,
                          's': CAST(((i - 1) * 64) // len(b) AS INT)}))
                         AS e
                    FROM c),
            sl AS (SELECT doc_id, e.s AS s,
                       CAST(sum(e.v) AS BIGINT) // count(*) AS avg
                   FROM byt GROUP BY doc_id, e.s),
            m AS (SELECT doc_id, CAST(sum(avg) AS BIGINT) // 64 AS mean
                  FROM sl GROUP BY doc_id),
            sig AS (SELECT sl.doc_id,
                       sum(CASE WHEN avg > mean
                                THEN (1::UBIGINT << s)::HUGEINT
                                ELSE 0::HUGEINT END)::UBIGINT AS su
                    FROM sl JOIN m USING (doc_id)
                    GROUP BY sl.doc_id)
         SELECT a.doc_id AS i, b.doc_id AS j,
                CAST(bit_count(xor(a.su, b.su)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.su, b.su)) <= 3
         ORDER BY i, j""",

    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
                CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
              v AS (SELECT user_id, min(tus) AS v_ts FROM e
                    WHERE event_type = 'view' GROUP BY user_id),
              c AS (SELECT e.user_id, min(tus) AS c_ts
                    FROM e JOIN v USING (user_id)
                    WHERE event_type = 'click' AND tus > v_ts
                    GROUP BY e.user_id),
              p AS (SELECT e.user_id, min(tus) AS p_ts
                    FROM e JOIN c USING (user_id)
                    WHERE event_type = 'purchase' AND tus > c_ts
                    GROUP BY e.user_id)
         SELECT user_id, v_ts, c_ts, p_ts,
                CAST(1 + (CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS stage
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY user_id""",

    "q_events_deciles" ->
      """WITH d AS (SELECT event_type, event_id, value,
                CAST(ntile(10) OVER (PARTITION BY event_type
                     ORDER BY value, event_id) AS BIGINT) AS decile
              FROM events)
         SELECT event_type, decile, count(*) AS n,
                min(value) AS min_v, max(value) AS max_v
         FROM d GROUP BY event_type, decile
         ORDER BY event_type, decile""",

    "q_dq_audit" ->
      """SELECT * FROM (
           SELECT 'customer_null_name' AS check_name, count(*) AS n_bad
           FROM customer WHERE c_name IS NULL
           UNION ALL
           SELECT 'lineitem_discount_range', count(*)
           FROM lineitem WHERE l_discount < 0.0 OR l_discount > 1.0
           UNION ALL
           SELECT 'lineitem_orphan_order', count(*)
           FROM lineitem WHERE NOT EXISTS
             (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
           UNION ALL
           SELECT 'orders_nonpositive_total', count(*)
           FROM orders WHERE o_totalprice <= 0.0
           UNION ALL
           SELECT 'orders_orphan_customer', count(*)
           FROM orders WHERE NOT EXISTS
             (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
         ORDER BY check_name""",

    "q_snapshot_diff" ->
      """WITH o AS (SELECT event_id AS k_old, value AS v_old FROM events
                    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
              n AS (SELECT event_id AS k_new,
                        value + CAST(event_id % 2 AS DOUBLE) AS v_new
                    FROM events
                    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00')
         SELECT CASE WHEN k_old IS NULL THEN 'added'
                     WHEN k_new IS NULL THEN 'removed'
                     WHEN v_old <> v_new THEN 'changed'
                     ELSE 'same' END AS status,
                count(*) AS n
         FROM o FULL OUTER JOIN n ON k_old = k_new
         GROUP BY status ORDER BY status""",

    "q_events_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                CAST(value AS DECIMAL(18,4)) AS v
              FROM events),
              d AS (SELECT user_id, tus, v,
                        lead(tus) OVER (PARTITION BY user_id
                          ORDER BY tus, event_id) - tus AS dt
                    FROM e),
              g AS (SELECT user_id, count(*) AS n_events,
                        sum(v * dt) AS wsum,
                        min(tus) AS t0, max(tus) AS t1
                    FROM d GROUP BY user_id)
         SELECT user_id, n_events,
                round(CAST(wsum AS DOUBLE) / (t1 - t0), 6) AS twap
         FROM g WHERE n_events >= 2
         ORDER BY user_id""",

    "q_user_setops" ->
      """SELECT * FROM (
           SELECT 'click_and_purchase' AS relation, count(*) AS n_users
           FROM (SELECT user_id FROM events WHERE event_type = 'click'
                 INTERSECT
                 SELECT user_id FROM events WHERE event_type = 'purchase')
           UNION ALL
           SELECT 'click_not_purchase', count(*)
           FROM (SELECT user_id FROM events WHERE event_type = 'click'
                 EXCEPT
                 SELECT user_id FROM events WHERE event_type = 'purchase')
           UNION ALL
           SELECT 'purchase_not_click', count(*)
           FROM (SELECT user_id FROM events WHERE event_type = 'purchase'
                 EXCEPT
                 SELECT user_id FROM events WHERE event_type = 'click'))
         ORDER BY relation""",

    "q_customer_first_last" ->
      """WITH g AS (SELECT o_custkey, count(*) AS n_orders,
                min(ROW(o_orderdate, o_orderkey, o_totalprice)) AS f,
                max(ROW(o_orderdate, o_orderkey, o_totalprice)) AS l
              FROM orders GROUP BY o_custkey)
         SELECT o_custkey, n_orders,
                CAST(f[1] AS DATE) AS first_date,
                f[3] AS first_price,
                CAST(l[1] AS DATE) AS last_date,
                l[3] AS last_price
         FROM g ORDER BY o_custkey""",

    "q_events_groupsets" ->
      """SELECT event_type, hour(ts) AS hr,
             CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS BIGINT)
               AS gid,
             count(*) AS n
         FROM events
         GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
         ORDER BY gid, event_type, hr""",

    "q11_revenue_share" ->
      """WITH ps AS (SELECT l_suppkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS rev_dec
              FROM lineitem GROUP BY l_suppkey),
              t AS (SELECT SUM(rev_dec) AS total_dec, COUNT(*) AS n_supp
                    FROM ps)
         SELECT l_suppkey, CAST(rev_dec AS DOUBLE) AS supp_revenue
         FROM ps, t
         WHERE CAST(rev_dec AS DOUBLE)
               > CAST(total_dec AS DOUBLE) / n_supp * 1.02
         ORDER BY supp_revenue DESC, l_suppkey""",

    "q_events_anomaly" ->
      """WITH s AS (SELECT event_type, count(*) AS n,
                sum(CAST(value AS DECIMAL(18,4))) AS s1,
                sum(CAST(value AS DECIMAL(18,4))
                    * CAST(value AS DECIMAL(18,4))) AS s2
              FROM events GROUP BY event_type),
              m AS (SELECT event_type, n,
                        CAST(s1 AS DOUBLE) / n AS mean,
                        sqrt(CAST(s2 AS DOUBLE) / n
                             - (CAST(s1 AS DOUBLE) / n)
                               * (CAST(s1 AS DOUBLE) / n)) AS std
                    FROM s)
         SELECT e.event_type, n, round(mean, 6) AS mean,
                round(std, 6) AS std,
                CAST(sum(CASE WHEN abs(value - mean) > std * 2.0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM events e JOIN m ON e.event_type = m.event_type
         GROUP BY e.event_type, n, mean, std
         ORDER BY e.event_type""",

    // all-integer CUSUM: values scale to 1e-4 units, n·S_k − k·T stays in
    // BIGINT on both engines (no float ever decides a row or an order)
    "q_events_changepoint" ->
      """WITH b AS (SELECT event_type, epoch_us(ts) AS tus, event_id,
                CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vu
              FROM events),
           s AS (SELECT event_type, tus, event_id,
                CAST(row_number() OVER w AS BIGINT) AS k,
                CAST(sum(vu) OVER w AS BIGINT) AS sk,
                CAST(sum(vu) OVER (PARTITION BY event_type) AS BIGINT) AS t,
                CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
              FROM b
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY tus, event_id)),
           d AS (SELECT event_type, n, k, tus,
                abs(n * sk - k * t) AS dabs
              FROM s WHERE k < n),
           r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY dabs DESC, k ASC) AS rn FROM d)
         SELECT event_type, n, k AS split_pos, tus AS split_ts_us,
                dabs AS dmax_units
         FROM r WHERE rn = 1 ORDER BY event_type""",

    "q_events_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events),
              c AS (SELECT user_id, min(day) AS cohort_day
                    FROM a GROUP BY user_id)
         SELECT cohort_day,
                CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
                count(*) AS n_users
         FROM a JOIN c USING (user_id)
         WHERE datediff('day', cohort_day, day) BETWEEN 0 AND 7
         GROUP BY cohort_day, day_offset
         ORDER BY cohort_day, day_offset""",

    "pipeline_pack" ->
      """WITH b AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                md5(CAST(doc_id AS VARCHAR)) AS ord,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  % (SELECT greatest(1, CAST(ceil(count(*) / 50.0) AS BIGINT))
                     FROM documents) AS bucket
              FROM documents),
              s AS (SELECT doc_id, bucket, n_tokens,
                        CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY bucket ORDER BY ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS start_tok
                    FROM b)
         SELECT doc_id, bucket, n_tokens, start_tok,
                start_tok // 256 AS pack_id,
                start_tok % 256 AS pack_offset
         FROM s ORDER BY doc_id""",

    "pipeline_mixture" ->
      """WITH b AS (SELECT doc_id, source,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  % 100 AS bucket,
                CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                            WHEN 'src2' THEN 25 WHEN 'src3' THEN 10
                            WHEN 'src4' THEN 5 ELSE 20 END AS rate_pct
              FROM documents)
         SELECT source, CAST(rate_pct AS BIGINT) AS rate_pct,
                count(*) AS n_docs,
                CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                round(CAST(sum(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END)
                           AS DOUBLE) / count(*), 6) AS kept_frac
         FROM b GROUP BY source, rate_pct
         ORDER BY source""",

    // bigram-LM cross-entropy: per-doc log-prob sums fold SEQUENTIALLY
    // over the token-ordered bigram list (list_reduce ≡ Spark aggregate
    // with an exact 0.0 seed), 6dp rounds land in DECIMAL(18,6), so the
    // per-source mean/min/max aggregate exactly — no order-dependent
    // float sum crosses a group
    "text_perplexity" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
            big AS (SELECT doc_id, source, u.pos AS pos,
                        t[u.pos] AS w1, t[u.pos + 1] AS w2
                    FROM d, LATERAL unnest(generate_series(1, len(t) - 1))
                      AS u(pos)),
            bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbg
                   FROM big GROUP BY w1, w2),
            hist AS (SELECT w1, CAST(count(*) AS BIGINT) AS ch
                     FROM big GROUP BY w1),
            voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
                    FROM (SELECT unnest(t) AS tok FROM d)),
            scored AS (SELECT big.doc_id, big.source, big.pos,
                          log2((CAST(cbg AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
                               (CAST(ch AS DOUBLE) + CAST(v AS DOUBLE)))
                            AS lp
                       FROM big JOIN bc ON bc.w1 = big.w1
                                       AND bc.w2 = big.w2
                                JOIN hist ON hist.w1 = big.w1
                                CROSS JOIN voc),
            pd AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS nbg,
                       list(lp ORDER BY pos) AS lst
                   FROM scored GROUP BY doc_id, source),
            h AS (SELECT doc_id, source, nbg,
                      CAST(round(-list_reduce(lst, (a, b) -> a + b) /
                                 CAST(nbg AS DOUBLE), 6) AS DECIMAL(18,6))
                        AS hd
                  FROM pd)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nbg) AS BIGINT) AS n_bigrams,
                (SELECT v FROM voc) AS vocab_size,
                CAST(min(hd) AS DOUBLE) AS min_ce,
                CAST(max(hd) AS DOUBLE) AS max_ce,
                round(CAST(sum(hd) AS DOUBLE) / count(*), 6) AS avg_ce
         FROM h GROUP BY source ORDER BY source""",

    // per-column profile: engine-stable renderings (decimal for the
    // double, epoch micros for the timestamp), exact distinct counts
    "q_dq_schema_profile" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
              CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nn0,
              CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd0,
              CAST(min(o_orderkey) AS VARCHAR) AS mn0,
              CAST(max(o_orderkey) AS VARCHAR) AS mx0,
              CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nn1,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd1,
              CAST(min(o_custkey) AS VARCHAR) AS mn1,
              CAST(max(o_custkey) AS VARCHAR) AS mx1,
              CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nn2,
              CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd2,
              CAST(min(o_orderstatus) AS VARCHAR) AS mn2,
              CAST(max(o_orderstatus) AS VARCHAR) AS mx2,
              CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nn3,
              CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd3,
              CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS mn3,
              CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS mx3,
              CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS nn4,
              CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd4,
              CAST(min(CAST(epoch_us(o_orderdate) AS BIGINT)) AS VARCHAR)
                AS mn4,
              CAST(max(CAST(epoch_us(o_orderdate) AS BIGINT)) AS VARCHAR)
                AS mx4,
              CAST(sum(CASE WHEN o_orderpriority IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS nn5,
              CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd5,
              CAST(min(o_orderpriority) AS VARCHAR) AS mn5,
              CAST(max(o_orderpriority) AS VARCHAR) AS mx5
            FROM orders)
         SELECT col_name, n_rows, n_nulls, n_distinct, min_val, max_val
         FROM (
           SELECT 'o_orderkey' AS col_name, n_rows, nn0 AS n_nulls,
                  nd0 AS n_distinct, mn0 AS min_val, mx0 AS max_val
           FROM a
           UNION ALL SELECT 'o_custkey', n_rows, nn1, nd1, mn1, mx1
           FROM a
           UNION ALL SELECT 'o_orderstatus', n_rows, nn2, nd2, mn2, mx2
           FROM a
           UNION ALL SELECT 'o_totalprice', n_rows, nn3, nd3, mn3, mx3
           FROM a
           UNION ALL SELECT 'o_orderdate', n_rows, nn4, nd4, mn4, mx4
           FROM a
           UNION ALL SELECT 'o_orderpriority', n_rows, nn5, nd5, mn5, mx5
           FROM a)
         ORDER BY col_name""",

    // join-view IVM graded as delta-merge ≡ FULL RECOMPUTE: the oracle
    // is the plain L ⋈ O monthly rollup — any double-counted or dropped
    // delta term hash-mismatches; decimal-exact revenue
    "warehouse_ivm_join" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                CAST(count(*) AS BIGINT) AS n_lineitems,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(4,2)))
                  AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY month ORDER BY month""",

    // Church-Gale burstiness: sample VMR as the exact rational
    // (N·SS − S²)/(S·(N−1)) — integer rank, one 6dp division
    "text_burstiness" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
            tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
                   FROM w GROUP BY doc_id, term),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents),
            g AS (SELECT term, CAST(sum(c) AS BIGINT) AS s,
                      CAST(sum(c * c) AS BIGINT) AS ss,
                      CAST(count(*) AS BIGINT) AS doc_freq
                  FROM tc GROUP BY term),
            topk AS (SELECT * FROM g CROSS JOIN n
                     ORDER BY s DESC, term LIMIT 20)
         SELECT term, s AS total_count, doc_freq,
                round(CAST(n_docs * ss - s * s AS DOUBLE) /
                      CAST(s * (n_docs - 1) AS DOUBLE), 6) AS vmr
         FROM topk ORDER BY s DESC, term""",

    // DSIR bigram importance weights vs the src0 target model: per-doc
    // log-ratio sums fold sequentially over the token-ordered bigram
    // list (the text_perplexity contract); 6dp DECIMAL(18,6) weights
    // rank exactly with the doc_id tie-break
    "pipeline_dsir_weights" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
            big AS (SELECT doc_id, source, u.pos AS pos,
                        t[u.pos] AS w1, t[u.pos + 1] AS w2
                    FROM d, LATERAL unnest(generate_series(1, len(t) - 1))
                      AS u(pos)),
            bca AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cba
                    FROM big GROUP BY w1, w2),
            cha AS (SELECT w1, CAST(count(*) AS BIGINT) AS cha
                    FROM big GROUP BY w1),
            va AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS va
                   FROM (SELECT unnest(t) AS tok FROM d)),
            bct AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbt
                    FROM big WHERE source = 'src0' GROUP BY w1, w2),
            cht AS (SELECT w1, CAST(count(*) AS BIGINT) AS cht
                    FROM big WHERE source = 'src0' GROUP BY w1),
            vt AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vt
                   FROM (SELECT unnest(t) AS tok FROM d
                         WHERE source = 'src0')),
            scored AS (SELECT big.doc_id, big.source, big.pos,
                          log2(CAST(COALESCE(bct.cbt, 0) + 1 AS DOUBLE) /
                               CAST(COALESCE(cht.cht, 0) + vt.vt
                                 AS DOUBLE)) -
                          log2(CAST(bca.cba + 1 AS DOUBLE) /
                               CAST(cha.cha + va.va AS DOUBLE)) AS ld
                       FROM big
                       JOIN bca ON bca.w1 = big.w1 AND bca.w2 = big.w2
                       JOIN cha ON cha.w1 = big.w1
                       LEFT JOIN bct ON bct.w1 = big.w1
                                    AND bct.w2 = big.w2
                       LEFT JOIN cht ON cht.w1 = big.w1
                       CROSS JOIN va CROSS JOIN vt
                       WHERE big.source <> 'src0'),
            pd AS (SELECT doc_id, source,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       list(ld ORDER BY pos) AS lst
                   FROM scored GROUP BY doc_id, source),
            w AS (SELECT doc_id, source, n_bigrams,
                      CAST(round(list_reduce(lst, (a, b) -> a + b) /
                                 CAST(n_bigrams AS DOUBLE), 6)
                        AS DECIMAL(18,6)) AS wdec
                  FROM pd)
         SELECT doc_id, source, n_bigrams,
                CAST(wdec AS DOUBLE) AS dsir_weight
         FROM w ORDER BY wdec DESC, doc_id LIMIT 25""",

    "text_tfidf" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM w GROUP BY doc_id, term),
              dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM tf GROUP BY term),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              sc AS (SELECT doc_id, term,
                         CAST(tf AS DOUBLE) * n_docs / df AS score
                     FROM tf JOIN dfq USING (term) CROSS JOIN n),
              rk AS (SELECT doc_id, term, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term) AS rn,
                         count(*) OVER (PARTITION BY doc_id) AS n_terms
                     FROM sc)
         SELECT doc_id, n_terms, term AS top_term,
                round(score, 6) AS top_score
         FROM rk WHERE rn = 1 ORDER BY doc_id""",

    // ln-free BM25: both factors are ratios of exact integers (k1=1.2,
    // b=0.75, avgdl=S/N multiplied through), so each engine computes the
    // same two correctly-rounded divisions and one multiply — no libm
    "text_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents),
              dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d),
              c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(dl) AS BIGINT) AS s_tokens FROM dl),
              w AS (SELECT doc_id, unnest(tk) AS term FROM d),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM w
                     WHERE term IN ('dup','spark','join','filter','scan',
                                    'merge')
                     GROUP BY doc_id, term),
              dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM tf GROUP BY term)
         SELECT tf.doc_id, tf.term, tf.tf,
                round(
                  (CAST(2 * c.n_docs - 2 * dfq.df + 1 AS DOUBLE)
                     / (2 * dfq.df + 1))
                  * (CAST(22 * c.s_tokens * tf.tf AS DOUBLE)
                     / (10 * c.s_tokens * tf.tf + 3 * c.s_tokens
                        + 9 * dl.dl * c.n_docs)),
                  6) AS bm25
         FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN c
         ORDER BY doc_id, term""",

    // two-level (shard, pos) permutation keyed by md5(epoch:doc_id) —
    // rank exists only within (epoch, shard)
    "pipeline_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id, epoch,
                        md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS skey
                    FROM documents, (SELECT unnest([0, 1, 2]) AS epoch) e),
              s AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, skey,
                        CAST(ascii(substring(skey, 1, 1)) % 8 AS BIGINT)
                          AS shard
                    FROM k)
         SELECT epoch, shard,
                CAST(row_number() OVER (PARTITION BY epoch, shard
                       ORDER BY skey, doc_id) AS BIGINT) AS pos,
                doc_id
         FROM s ORDER BY epoch, shard, pos""",

    "q_events_rfm" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus,
                CAST(value AS DECIMAL(18,4)) AS v
              FROM events),
              r AS (SELECT max(tus) AS ref_tus FROM e),
              u AS (SELECT user_id, max(tus) AS last_tus,
                        CAST(count(*) AS BIGINT) AS freq, sum(v) AS mon
                    FROM e GROUP BY user_id),
              d AS (SELECT user_id, freq, mon,
                        (ref_tus - last_tus) // 86400000000 AS recency_days
                    FROM u CROSS JOIN r)
         SELECT user_id, recency_days, freq, CAST(mon AS DOUBLE) AS monetary,
                CAST((CASE WHEN recency_days < 1 THEN 3
                           WHEN recency_days < 3 THEN 2 ELSE 1 END) * 100
                   + (CASE WHEN freq >= 75 THEN 3
                           WHEN freq >= 60 THEN 2 ELSE 1 END) * 10
                   + (CASE WHEN mon >= 4000 THEN 3
                           WHEN mon >= 3000 THEN 2 ELSE 1 END)
                  AS BIGINT) AS rfm_segment
         FROM d ORDER BY user_id""",

    "q_events_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
              dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                      FROM ud GROUP BY day),
              w AS (SELECT DISTINCT user_id,
                        day + CAST(o AS INTEGER) AS tday
                    FROM ud, (SELECT unnest(range(7)) AS o)),
              wau AS (SELECT tday, CAST(count(*) AS BIGINT) AS wau
                      FROM w GROUP BY tday)
         SELECT d.day AS day, d.dau, wau.wau
         FROM dau d JOIN wau ON wau.tday = d.day
         ORDER BY day""",

    "dedup_stats" ->
      """WITH u AS (SELECT source, text FROM documents
                    UNION ALL
                    SELECT source, text FROM documents
                    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                             1, 4))::BIGINT % 100 < 40),
              pt AS (SELECT source, md5(text) AS h, count(*) AS c
                     FROM u GROUP BY source, h)
         SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_unique,
                CAST(sum(c) - count(*) AS BIGINT) AS dup_docs,
                round(CAST(sum(c) - count(*) AS DOUBLE)
                        / CAST(sum(c) AS BIGINT), 6) AS dup_rate
         FROM pt GROUP BY source ORDER BY source""",

    // Windows are stride-aligned in BOTH engines (identical index
    // sequence), so the span fingerprints agree row-for-row.
    "dedup_substring" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, text FROM documents),
              t AS (SELECT doc_id, string_split(text, ' ') AS w FROM u),
              s0 AS (SELECT doc_id, w,
                         unnest(range(1, len(w) - 18, 10)) AS i
                     FROM t WHERE len(w) >= 20),
              s AS (SELECT doc_id,
                        md5(array_to_string(w[i : i + 19], ' ')) AS span_md5
                    FROM s0),
              pd AS (SELECT span_md5, doc_id, count(*) AS c
                     FROM s GROUP BY span_md5, doc_id)
         SELECT span_md5, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(c) AS BIGINT) AS n_occ, min(doc_id) AS first_doc
         FROM pd GROUP BY span_md5 HAVING count(*) >= 2
         ORDER BY span_md5""",

    // Same winnowing computation (8-gram md5 at every offset, min of each
    // 13-window), replicated literally: the oracle proves cross-engine
    // determinism of the fingerprint selection; the GUARANTEE (every
    // shared ≥20-token run yields a shared fingerprint) is held against a
    // brute-force stride-1 scan in DedupSpec.
    "dedup_winnow" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000, 'xshift ' || text FROM documents),
              t AS (SELECT doc_id, string_split(text, ' ') AS w FROM u),
              h AS (SELECT doc_id,
                        list_transform(range(1, len(w) - 6),
                          i -> md5(array_to_string(w[i : i + 7], ' '))) AS hs
                    FROM t WHERE len(w) >= 8),
              s AS (SELECT doc_id,
                        unnest(list_transform(range(1, len(hs) - 11),
                          j -> list_min(hs[j : j + 12]))) AS span_fp
                    FROM h WHERE len(hs) >= 13),
              f AS (SELECT DISTINCT doc_id, span_fp FROM s)
         SELECT span_fp, CAST(count(*) AS BIGINT) AS n_docs,
                min(doc_id) AS first_doc
         FROM f GROUP BY span_fp HAVING count(*) >= 2
         ORDER BY span_fp""",

    "text_rarity" ->
      """WITH t AS (SELECT doc_id,
                unnest(list_distinct(string_split(text, ' '))) AS term
              FROM documents),
              dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM t GROUP BY term),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              s AS (SELECT doc_id, term, df,
                        (n_docs * 1000000) // df AS ppm
                    FROM t JOIN dfq USING (term) CROSS JOIN n),
              rk AS (SELECT doc_id, term, df,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY df, term) AS rn,
                         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
                           AS n_terms,
                         CAST(sum(ppm) OVER (PARTITION BY doc_id) AS BIGINT)
                           AS sum_ppm
                     FROM s)
         SELECT doc_id, n_terms, term AS rare_term, df AS rare_df,
                round(CAST(sum_ppm AS DOUBLE) / n_terms / 1000000, 6)
                  AS mean_rarity
         FROM rk WHERE rn = 1 ORDER BY doc_id""",

    "text_keywords" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
              tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                     FROM w GROUP BY doc_id, term),
              dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM tf GROUP BY term),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              sc AS (SELECT doc_id, term,
                         CAST(tf AS DOUBLE) * n_docs / df AS score
                     FROM tf JOIN dfq USING (term) CROSS JOIN n),
              rk AS (SELECT doc_id, term, score,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term) AS rn
                     FROM sc)
         SELECT doc_id, CAST(rn AS BIGINT) AS rk, term,
                round(score, 6) AS score
         FROM rk WHERE rn <= 3 ORDER BY doc_id, rk""",

    "pipeline_decontaminate" ->
      """WITH b AS (SELECT doc_id, lang, source, string_split(text, ' ') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  % 100 AS bucket
              FROM documents),
              g AS (SELECT doc_id, bucket,
                        unnest(list_distinct(list_transform(
                          range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' ')))) AS gram
                    FROM b),
              tg AS (SELECT DISTINCT gram FROM g WHERE bucket >= 95),
              bad AS (SELECT DISTINCT doc_id FROM g JOIN tg USING (gram)
                      WHERE bucket < 90)
         SELECT doc_id, lang, source FROM b
         WHERE bucket < 90 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",

    "text_ngram_repetition" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
              g AS (SELECT doc_id,
                        list_transform(range(1, len(w)),
                          i -> array_to_string(w[i:i+1], ' ')) AS g2,
                        CASE WHEN len(w) < 3 THEN CAST([] AS VARCHAR[])
                             ELSE list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' ')) END AS g3
                    FROM b)
         SELECT doc_id,
                CAST(len(g2) AS BIGINT) AS n_bigrams,
                CASE WHEN len(g2) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                                  / len(g2), 6)
                     ELSE 0.0 END AS dup_bigram_frac,
                CAST(len(g3) AS BIGINT) AS n_trigrams,
                CASE WHEN len(g3) > 0
                     THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                                  / len(g3), 6)
                     ELSE 0.0 END AS dup_trigram_frac
         FROM g ORDER BY doc_id""",

    "pipeline_token_budget" ->
      """WITH b AS (SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                md5(CAST(doc_id AS VARCHAR)) AS ord
              FROM documents),
              s AS (SELECT doc_id, source, n_tokens,
                        CAST(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY source ORDER BY ord, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS cum_before
                    FROM b)
         SELECT doc_id, source, n_tokens, cum_before
         FROM s WHERE cum_before < 600 ORDER BY doc_id""",

    "text_contamination" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                  % 100 AS bucket
              FROM documents),
              g AS (SELECT doc_id, bucket,
                        unnest(list_distinct(list_transform(
                          range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' ')))) AS gram
                    FROM b),
              train AS (SELECT DISTINCT gram FROM g WHERE bucket < 90),
              test AS (SELECT doc_id, gram FROM g WHERE bucket >= 95)
         SELECT t.doc_id, count(*) AS n_grams, count(tr.gram) AS n_shared,
                round(CAST(count(tr.gram) AS DOUBLE) / count(*), 6)
                  AS contamination
         FROM test t LEFT JOIN train tr USING (gram)
         GROUP BY t.doc_id
         ORDER BY t.doc_id""",
  )
}
