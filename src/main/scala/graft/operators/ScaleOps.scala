package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Determinism._
import graft.functions.TextFunctions._


/** Round-4b operator surface: warehouse temporal modeling (SCD-2),
  * iterative graph ranking (PageRank), sparse-vector similarity
  * (TF-IDF cosine pairs over an inverted index), product-quantization
  * encoding (the IVF-PQ building block), and last-touch revenue
  * attribution. Same contract as every other query group: one
  * `queries` entry + one DuckDB oracle per operator; every
  * fp-critical expression is decimal-bridged so the two engines
  * cannot drift.
  */
object ScaleOps extends ScaleGraphOps with ScaleAnnOps
    with ScaleRelationalOps {

  // Shared tuning constants (Spark plan ⟷ oracle SQL)
  val SparseDfMin = 2      // df=1 terms cannot contribute to any pair
  val SparseDfCap = 50     // stop-term cap: bounds every posting list,
                           //   so the term self-join is O(vocab·cap²)
                           //   worst-case instead of O(n²)
  val SparseTau = "0.6"    // cosine threshold, spelled once for both engines
  val PrDamping = "0.85"   // PageRank damping, literal for both engines
  val PrIters = 3
  val PqM = 4              // PQ subspaces
  val PqSub = 16           // dims per subspace (4 × 16 = 64-dim fixture)
  val PqK = 8              // centroids per subspace
  val PqTopK = 10          // ADC results per probe
  val PqProbeMod = 100     // probes = vec_ids ≡ 0 (mod 100)
  val MergeInserts = 50    // CDC fixture: rows appended past max key

  // ------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_scd2"          -> scd2 _,
    "q103_sparse_cosine" -> sparseCosine _,
    "q104_pagerank"      -> pageRank _,
    "q277_ppr"           -> ppr _,
    "q105_pq_encode"     -> pqEncode _,
    "q106_attribution"   -> attribution _,
    "q107_pq_adc_topk"   -> pqAdcSearch _,
    "q169_ann_recall"    -> annRecallAudit _,
    "q170_emb_pca"       -> embPca _,
    "q181_emb_pca2"      -> embPca2 _,
    "q172_emb_abtt"      -> embAbtt _,
    "q108_merge_upsert"  -> mergeUpsert _,
    "q109_star_flatten"  -> starFlatten _,
    "q110_data_quality"  -> dataQuality _,
    "q111_mutual_info"   -> mutualInfo _,
    "q112_twap"          -> twap _,
    "q113_assoc_rules"   -> assocRules _,
    "q114_skyline"       -> skyline _,
    "q115_triangles"     -> triangles _,
    "q116_ab_test"       -> abTest _,
    "q274_ks_test"       -> ksTest _,
    "q281_mann_whitney"  -> mwTest _,
    "q275_qte"           -> qte _,
    "q276_encoding_advisor" -> encodingAdvisor _,
    "q278_heaps_growth"  -> heapsGrowth _,
    "q287_zipf_fit"      -> zipfFit _,
    "q117_rfm"           -> rfm _,
    "q118_event_paths"   -> eventPaths _,
    "q119_ivfpq_search"  -> ivfPqSearch _,
    "q146_ivfpq_serve"   -> ivfPqServe _,
    "q151_ivfpq_append"  -> ivfPqAppend _,
    "q193_ann_rerank"    -> annRerank _,
    "q153_jl_distortion" -> jlDistortion _,
    "q154_emb_drift"     -> embDrift _,
    "q120_chi_square"    -> chiSquare _,
    "q121_gini"          -> gini _,
    "q122_seasonal"      -> seasonal _,
    "q149_hits"          -> hits _,
    "q194_kcore"         -> kcore _,
    "q195_zorder_layout" -> zorderLayout _,
    "q198_zorder_serve"  -> zorderServe _,
    "q200_zorder_append" -> zorderAppendServe _,
    "q202_dim_truncation" -> dimTruncationAudit _,
    "q203_trunc_rerank"  -> truncRerank _,
    "q209_silhouette"    -> silhouette _,
    "q210_bitmap_index"  -> bitmapServe _,
    "q212_column_stats"  -> colStats _,
    "q213_label_prop"    -> labelProp _,
    "q214_bitmap_append" -> bitmapAppendServe _,
    "q216_equidepth_hist" -> equiDepthHist _,
    "q217_modularity"    -> lpModularity _,
    "q219_ivfpq_delete"  -> ivfPqDelete _,
    "q220_margin_mine"   -> marginMine _,
    "q221_profile_drift" -> profileDrift _,
    "q222_k_anonymity"   -> kAnonymity _,
    "q224_profile_refresh" -> profileRefresh _,
    "q225_index_purge"   -> ivfPqPurge _,
    "q227_mmr_rerank"    -> mmrRerank _,
    "q230_cuped"         -> cuped _,
    "q231_bitmap_delete" -> bitmapDeleteServe _,
    "q232_zorder_purge"  -> zorderPurgeServe _,
    "q238_bitmap_purge"  -> bitmapPurgeServe _,
    "q245_zorder_update" -> zorderUpdateServe _,
    "q255_bloom_skip"    -> bloomSkipServe _,
    "q256_bloom_skip_append" -> bloomSkipAppendServe _,
    "q259_bloom_skip_purge" -> bloomSkipPurgeServe _,
    "q260_l_diversity"   -> lDiversity _,
    "q266_t_closeness"   -> tCloseness _,
    "q268_benford"       -> benford _,
    "q269_ivm_join_view" -> ivmViewServe _,
    "q270_ivm_agg_view"  -> ivmAggServe _,
    "q261_nsw_search"    -> nswSearch _,
    "q262_nsw_recall"    -> nswRecall _,
    "q264_nsw_append"    -> nswAppendServe _,
    "q265_nsw_delete"    -> nswDeleteServe _,
    "q279_nsw_update"    -> nswUpdateServe _,
    "q280_rrf_fusion"    -> rrfFusion _,
    "q283_sq8_audit"     -> sq8Audit _,
    "q284_sq8_recall"    -> sq8Recall _,
    "q285_ivf_sq8"       -> ivfSq8Recall _,
    "q292_rank_metrics"  -> rankMetrics _,
    "q250_markov_attribution" -> markovAttribution _,
    "q251_shapley_attribution" -> shapleyAttribution _,
    "q236_ann_update"    -> ivfPqUpdate _
  )

  val oracles: Map[String, String] = Map(
    "q102_scd2" -> scd2Sql("orders", "TIMESTAMP '9999-12-31 00:00:00'"),
    "q103_sparse_cosine" -> sparseCosineSql(
      s"SELECT doc_id, unnest(${wordsSql("text")}) AS term FROM documents"),
    "q104_pagerank" -> pageRankSql("lineitem", PrIters),
    // the seeded teleport iterated on the same 1e-12 grid; the oracle
    // unrolls the identical integer iteration as chained CTEs
    "q277_ppr" -> pprSql("lineitem", PrIters),
    "q105_pq_encode" -> pqOracleSql,
    "q106_attribution" -> attributionSql("epoch_ms(ts)"),
    "q107_pq_adc_topk" -> s"WITH $pqBaseOracle $pqAdcTail",
    "q169_ann_recall" -> annRecallAuditOracleSql,
    "q170_emb_pca" -> embPcaOracleSql,
    "q181_emb_pca2" -> embPca2OracleSql,
    "q172_emb_abtt" -> embAbttOracleSql,
    "q108_merge_upsert" -> mergeUpsertSql("customer"),
    "q109_star_flatten" -> starFlattenSql(centsRound),
    "q110_data_quality" -> dataQualitySql,
    "q111_mutual_info" -> mutualInfoSql("lineitem"),
    "q112_twap" -> twapSql("epoch_ms(ts)"),
    "q113_assoc_rules" -> assocRulesSql("lineitem"),
    "q114_skyline" -> skylineOracleSql,
    "q115_triangles" -> trianglesSql("lineitem"),
    "q116_ab_test" -> abTestSql(xhashSql("'ab:' || user_id::VARCHAR")),
    // exact-integer ECDF distance: the (num, den) rational and the
    // argmax value hash-compare with no float anywhere
    "q274_ks_test" -> ksTestSql(xhashSql("'ab:' || user_id::VARCHAR")),
    "q281_mann_whitney" -> mwTestSql(xhashSql("'ab:' || user_id::VARCHAR")),
    // per-arm quantiles gridded BEFORE differencing; interpolation
    // equality is q46's proven percentile <-> quantile_cont bridge
    "q275_qte" -> qteOracleSql(xhashSql("'ab:' || user_id::VARCHAR")),
    // run counts under the identical (l_orderkey, l_linenumber) total
    // order: the oracle's lag window replays the rank-adjacency join
    "q276_encoding_advisor" -> encodingAdvisorSql("lineitem"),
    // first-occurrence positions under the identical (doc_id, pos)
    // total order; the checkpoint set derives arithmetically from n
    "q278_heaps_growth" -> heapsGrowthSql("documents"),
    // logs gridded BEFORE the slope divides them; doubled Theil-Sen
    // median with (ri, rj) tie keys -- q273's exact-integer spelling
    "q287_zipf_fit" -> zipfFitSql("documents"),
    "q117_rfm" -> rfmSql((from, to) => s"datediff('day', $from, $to)"),
    "q118_event_paths" -> eventPathsSql,
    "q119_ivfpq_search" -> s"WITH $pqBaseOracle $pqIvfAdcTail",
    // q146 serves from the at-rest code index; the oracle recomputes the
    // whole q119 pipeline — hash equality proves the index is lossless
    "q146_ivfpq_serve" -> s"WITH $pqBaseOracle $pqIvfAdcTail",
    // q151 appends batch codes to the at-rest base index; the oracle is
    // again the full q119 recompute — append ∘ store ≡ rebuild
    "q151_ivfpq_append" -> s"WITH $pqBaseOracle $pqIvfAdcTail",
    // q193 retrieves from the at-rest codes and reranks from the
    // embedding table; the oracle replays both stages off a live encode
    "q193_ann_rerank" -> annRerankOracleSql,
    "q153_jl_distortion" -> jlDistortionSql,
    "q154_emb_drift" -> embDriftSql,
    "q120_chi_square" -> chiSquareSql("orders"),
    "q121_gini" -> giniSql("orders"),
    "q122_seasonal" -> seasonalSql("orders"),
    "q149_hits" -> hitsSql(HitsIters),
    "q194_kcore" -> kcoreSql("lineitem"),
    "q195_zorder_layout" -> zorderLayoutSql("lineitem"),
    "q198_zorder_serve" -> zorderServeSql("lineitem"),
    "q200_zorder_append" -> zorderAppendServeSql("lineitem"),
    "q202_dim_truncation" -> dimTruncationAuditSql,
    "q203_trunc_rerank" -> truncRerankSql,
    "q209_silhouette" -> silhouetteSql,
    "q210_bitmap_index" -> bitmapServeSql("lineitem"),
    "q212_column_stats" -> colStatsOracleSql,
    "q213_label_prop" -> labelPropSql("lineitem", LpIters),
    "q214_bitmap_append" -> bitmapServeSql("lineitem"),
    "q216_equidepth_hist" -> equiDepthHistSql("lineitem"),
    "q217_modularity" -> lpModularitySql("lineitem", LpIters),
    "q219_ivfpq_delete" -> (s"WITH $pqBaseOracle " +
      pqIvfAdcTailWhere(s"AND NOT (vec_id % $AnnDelMod = $AnnDelRem)")),
    "q220_margin_mine" -> marginMineSql,
    "q221_profile_drift" -> profileDriftSql,
    "q222_k_anonymity" -> kAnonymitySql("customer"),
    "q224_profile_refresh" -> profileRefreshSql("lineitem"),
    // the physically-purged serve must equal the tombstone-view serve
    "q225_index_purge" -> (s"WITH $pqBaseOracle " +
      pqIvfAdcTailWhere(s"AND NOT (vec_id % $AnnDelMod = $AnnDelRem)")),
    "q227_mmr_rerank" -> mmrRerankSql,
    "q230_cuped" -> cupedSql(
      graft.core.Determinism.xhashSql("'ab:' || user_id::VARCHAR"),
      c => s"epoch_ms($c)"),
    // the tombstoned serve must equal the plain count over the
    // tombstone-filtered base rows: delete ∘ store ≡ rebuild
    "q231_bitmap_delete" -> bitmapDeleteServeSql("lineitem"),
    // the physically-purged layout serve must equal a replay of the
    // original layout minus the tombstoned rows, boxes recomputed
    "q232_zorder_purge" -> zorderPurgeServeSql("lineitem"),
    // the physically-purged bitmap serve must equal the tombstone-view
    // serve (q231's oracle): purge ∘ publish ≡ tombstone ≡ rebuild
    "q238_bitmap_purge" -> bitmapDeleteServeSql("lineitem"),
    // in-place update with frozen file ids: the oracle replays the
    // original layout, applies the same coordinate revision
    // post-assignment, and serves from the grown boxes
    "q245_zorder_update" -> zorderUpdateServeSql("lineitem"),
    // the oracle replays the file assignment and exact aggregates; the
    // hash equality is the no-false-negative proof, the booleans the
    // pruning evidence (bloom bits themselves are not SQL-replayable)
    "q255_bloom_skip" -> bloomSkipServeSql("lineitem"),
    "q256_bloom_skip_append" -> bloomSkipAppendServeSql("lineitem"),
    // purge: the oracle replays the v1 assignment over all raw rows,
    // filters the tombstone o-range, and serves the FROZEN keys
    "q259_bloom_skip_purge" -> bloomSkipPurgeServeSql("lineitem"),
    "q260_l_diversity" -> lDiversitySql("customer"),
    "q266_t_closeness" -> tClosenessSql("customer"),
    "q268_benford" -> benfordSql("orders"),
    // the oracle is the full join over the revision-applied orders:
    // maintain ∘ store ≡ rebuild-with-new-values for the join view
    "q269_ivm_join_view" -> ivmViewServeSql("orders", "customer"),
    // signed summary deltas fold into the stored rollup: COUNT/SUM form
    // an abelian group, so the oracle is the full rebuilt aggregate
    "q270_ivm_agg_view" -> ivmAggServeSql("orders"),
    // graph-refined ANN: the oracle replays adjacency, entries, and
    // the unrolled three-hop beam walk; q262 scores it against the
    // exact brute-force truth set
    "q261_nsw_search" -> nswSearchSql("embeddings"),
    "q262_nsw_recall" -> nswRecallSql("embeddings"),
    // append's oracle IS the rebuild walk: maintain ∘ store ≡ rebuild,
    // proven through the four-hop dynamics by the hash match
    "q264_nsw_append" -> nswSearchSql("embeddings"),
    // delete's oracle is the rebuild walk over the tombstone-filtered
    // corpus: delete ∘ store ≡ rebuild, proven through the walk
    "q265_nsw_delete" -> nswSearchSqlWhere("embeddings",
      s"NOT (vec_id % $NswDelMod = $NswDelRem)"),
    // update's oracle is the rebuild walk over the sign-flipped corpus:
    // update ∘ store ≡ rebuild-with-new-values through the walk
    "q279_nsw_update" -> nswSearchSqlV(s"""SELECT vec_id,
      CASE WHEN vec_id % $NswUpdMod = $NswUpdRem
           THEN list_transform(embedding, x -> -x)
           ELSE embedding END AS embedding
      FROM embeddings"""),
    // rank-only fusion: cosine rides the 1e-6 grid, Jaccard and
    // 1/(k+rank) are single exactly-rounded divisions on identical
    // integers — bit-equal doubles in both engines
    "q280_rrf_fusion" -> rrfFusionOracleSql,
    // every step is an IEEE exactly-rounded op on identical inputs:
    // bit-equal doubles, identical grid integers in both engines
    "q283_sq8_audit" -> sq8AuditOracleSql,
    // asymmetric SQ serve scored against the exact top-k — the recall
    // number a rollout reads before flipping the cheap tier on
    "q284_sq8_recall" -> sq8RecallOracleSql,
    // the composed tier: coarse cell shortlist + int8 scan, priced
    // against the GLOBAL exact top-k so both losses show at once
    "q285_ivf_sq8" -> ivfSq8RecallOracleSql,
    // DCG terms gridded to 1e-9 BEFORE summing (exact in any order);
    // ideal DCG is the same gridded sum over the true ranking itself
    "q292_rank_metrics" -> rankMetricsOracleSql,
    // both engines iterate bit-identical 1e-12-grid integers: the
    // oracle unrolls the same integer value iteration as chained CTEs
    "q250_markov_attribution" -> markovAttributionSql,
    // phi*24 is an exact integer in both engines; only display divides
    "q251_shapley_attribution" -> shapleyAttributionSql,
    // update ∘ store ≡ rebuild-with-new-values under the frozen
    // codebook: the oracle trains on the original corpus and encodes
    // the updated one (pqBaseOracleP's encSrc split)
    "q236_ann_update" -> (s"""WITH emb_upd AS (
      SELECT vec_id, label,
        CASE WHEN vec_id % $AnnUpdMod = $AnnUpdRem
             THEN list_transform(embedding, x -> -x)
             ELSE embedding END AS embedding
      FROM embeddings),
    ${pqBaseOracleP(PqM, PqSub, PqK, PqRounds, encSrc = "emb_upd")}
    $pqIvfAdcTail""")
  )
}
