package graft

/** Scale-invariant audit over EVERY registered query's physical plan:
  * the properties that keep a plan viable at 100 TB, checked
  * mechanically so a regression cannot slip in via one query.
  *
  *  - no CartesianProduct anywhere (an all-pairs plan is an automatic
  *    scale failure);
  *  - BroadcastNestedLoopJoin only where the broadcast side is
  *    provably bounded by a constant (the ANN query side, <= 8 rows);
  *  - every query analyzes + plans against the testdata schema (no
  *    lazily-broken column references).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // queries whose plans legitimately contain a BroadcastNestedLoopJoin:
  // - sim_topk_exact: the brute-force cosine baseline broadcasts a
  //   <=8-row query side against the corpus with a non-equi condition;
  // - dd_embed_neardup / sim_ivf_topk: the IVF centroid table (K ≈ √n
  //   resp. K = 16 rows × dim doubles — the index itself, ~16 MB at
  //   n = 10⁹) is broadcast for the corpus×centroid assignment pass
  //   (assignCells), exactly as FAISS/SemDeDup hold the centroid
  //   matrix in RAM on every worker.
  private val bnljAllowed =
    Set("sim_topk_exact", "sim_range_search", "dd_embed_neardup", "sim_ivf_topk",
      // SemDeDup keep rule: same centroid-table broadcast as dd_embed_neardup
      "dd_semdedup_keep",
      // incremental IVF: same broadcast centroid probe, frozen codebook
      "sim_ivf_delta",
      // coarse pass of the rerank cascade: same broadcast-query scan
      // as sim_topk_exact, on 16-dim prefixes
      "sim_prefix_rerank",
      // IVF coarse assignment: same broadcast centroid probe as sim_ivf_topk
      "sim_ivfpq_topk",
      // 1-row bounds relation × distinct event types — grid generation
      "st_gap_fill",
      // ECDF grid: the 5-row event-type domain × distinct value
      // buckets — the same bounded grid-generation shape
      "ops_ks_drift",
      // PSI (r17): the 5-row type domain × bucket-grid completion and
      // the 10-bin grid — both domain-bounded (the former 4×-fact !=
      // rest fan is now grid algebra, pooled − own)
      "ops_psi_drift",
      // Q–Q deciles: the same 5-row-domain != rest fan as psi_drift,
      // plus the Pctl.dist global straddle (2·|qs| rows) — bounded
      "ops_qq_deciles",
      // Ansari–Bradley: the 1-row pooled-total aggregate fanned onto
      // the value-domain block relation (the ops_ks_drift shape)
      "ops_ansari_bradley",
      // 4-row literal band dimension, lo<=x<hi non-equi lookup
      "j4_band_join",
      // flags × literal 9-digit range grid completion — both sides
      // domain-bounded (the digit side is a 9-row literal)
      "ops_benford",
      // segment × priority contingency grid completion + the 1-row
      // dims aggregate — all domain-bounded
      "ops_chi2_assoc",
      // 1-row bigram-total aggregate broadcast onto the pair relation
      "ta_npmi_colloc",
      // 1-row bigram-type-count aggregate onto the bigram relation
      "ta_kn_bigram",
      // 1-row experiment-clock midpoint resp. pooled-moment aggregates
      "ops_did", "ops_cuped",
      // same 1-row experiment-clock midpoint device (withPeriod)
      "ops_gains_curve",
      // 1-row observation-end aggregate against the user relation
      "ops_survival_km",
      // same 1-row observation-end device, arm-split
      "ops_logrank_test",
      // 1-row jackknife total (N, S) onto the 10-row bucket grid
      "ops_jackknife_se",
      // 1-row exact-count aggregate onto the 1-row register summary
      "sk_hll_distinct",
      // 5-row BM25 query term + 5-row exemplar embedding broadcasts
      "ta_hybrid_rrf",
      // 1-row total-edge-count aggregate onto the community grid
      "gr_modularity",
      // source-pair grid: |sources|² domain-bounded rows (a categorical
      // dimension, like ops_psi_drift's type domain)
      "ta_js_divergence",
      // composes sim_topk_exact + sim_ann_lsh — inherits their allowed
      // <=NQueries-row broadcast-query non-equi scans
      "sim_ann_recall",
      // SQ8: 1-row per-dim [min,max] array-pair trainer (512 B — the
      // index itself) onto the corpus, plus the <=NQueries-row code
      // query side — both constant-bounded
      "sim_sq8_topk",
      // kNN classify: the <=KnnTestSplit-row (literal filter) test
      // split broadcast against the train scan, sim_topk_exact's shape
      "sim_knn_classify",
      // 1-row exact-count aggregate onto the 1-row theta-sketch summary
      "sk_kmv_intersect",
      // 64-bucket × 2-set literal register grid + the 1-row exact
      // aggregate onto the 1-row register summary
      "sk_hll_union",
      // 1-row tie-correction aggregate onto the 5-row group grid
      "ops_kruskal_wallis",
      // 25-row literal resample grid fanned onto the fact scan
      "ops_bootstrap_poisson",
      // same 25-row grid, xxhash64 production twin
      "ops_bootstrap_xxhash",
      // 16-row coalition grid x 4-row channel dim, <=16-row mask-subset
      // containment joins, 1-row efficiency-axiom totals - all literal
      "st_shapley_attrib",
      // PAV minimax interval joins: both non-equi sides capped at 10
      // rows by the least(9, bin) literal — bin²-sized at ANY fact
      // scale (the st_shapley_attrib containment-grid shape)
      "ops_isotonic_calib",
      // 1-row observation-end aggregate onto the user relation — the
      // ops_survival_km device verbatim
      "ops_nelson_aalen",
      // 1-row grand-total (k, N, ΣS, A, B) aggregate onto the 5-row
      // segment grid — the ops_kruskal_wallis tie-total shape
      "ops_brown_forsythe",
      // 1-row distinct-treatment-count aggregate onto the block grid
      "ops_friedman",
      // 1-row date-span midpoint (the experiment-clock device) onto
      // the fact scan + 1-row arm-total aggregate onto the bin grid
      "ops_emd_drift",
      // 1-row bigram-type-count aggregate onto the bigram-type
      // relation — the ta_kn_bigram device verbatim
      "ta_lm_perplexity",
      // 4-row literal k grid against the ≤201-row top-rank relation
      // (rn <= k non-equi) — both sides literal-bounded
      "ops_hill_tail",
      // 1-row distinct-treatment-count aggregate (friedman device)
      "ops_page_trend",
      // 1-row token-total aggregate onto the frequency grid
      "ta_good_turing",
      // 1-row S/variance totals onto the 12-row season grid
      "ops_seasonal_mk",
      // 1-row Gini totals onto the degree histogram + the 1-row
      // entropy aggregate
      "gr_degree_gini",
      // 1-row grand-moment aggregate onto the 5-row segment grid
      // (the ops_brown_forsythe shape)
      "ops_anova_f",
      // 5-row segment grid against itself (k² categorical pairs) +
      // the 1-row MSW total
      "ops_tukey_hsd",
      // 5-row type grid against itself + the 1-row N/tie totals
      // (ops_kruskal_wallis tie-total shape, paired)
      "ops_dunn_test",
      // 1-row epoch-µs midpoint onto the fact scan (the ops_emd_drift
      // experiment-clock device)
      "ops_mcnemar",
      // 1-row grand-median broadcast onto the fact + the 1-row
      // 2×k-table totals onto the segment grid
      "ops_mood_median",
      // 1-row pooled-variance/ln totals onto the 5-row segment grid
      // (the ops_anova_f shape)
      "ops_bartlett",
      // 1-row record total onto the <=10-row k-bucket grid
      "ops_k_anonymity",
      // 1-row customer/order totals onto the <=125-row cell grid +
      // 5-row/25-row margin dims (the ops_hhi dim shape)
      "ops_raking",
      // 1-row corpus-total aggregate onto the vocabulary grid (the
      // ta_good_turing token-total device)
      "ta_fightin_words",
      // VERDICT r13 #5 foldings: former driver scalars, now broadcast
      // 1-row aggregates — basket count, RFM anchor, DSIR totals
      "bk_assoc_rules", "ops_rfm_segments", "cu_dsir_weights",
      // kHop seed-nation min, same folding
      "gr_khop",
      // 1-row pivoted 8-rule merge table broadcast onto the vocab
      "cu_bpe_apply", "cu_bpe_fertility",
      // r14 scalar foldings: 1-row corpus stats (bm25 N/avgdl, tfidf N,
      // unigram token total, KS n_all, salsa start mass, k-core /
      // jaccard support threshold)
      "ta_bm25_topk", "ta_tfidf", "ta_unigram_ll", "ops_ks_drift",
      "gr_salsa", "gr_kcore", "gr_sim_neighbors",
      // DistRank (VERDICT r14 #2): the device's 1-row global [min,max]
      // bounds aggregate crossJoined onto the value histogram — the
      // broadcast-1-row folding shape (partitioned gates join the
      // |groups|-row bounds by key instead, no BNLJ)
      "ops_auc_roc", "ops_jonckheere",
      // r15: pageRank start-mass/teleport-base fold — the salsa-style
      // broadcast 1-row node-count aggregate (VERDICT r14 #3)
      "gr_pagerank",
      // r15: 1-row experiment-clock midpoint + the DistRank 1-row
      // bounds aggregate
      "ops_wilcoxon_signed",
      // r15 scalar foldings: textrank vocabulary count, plus the IVF
      // seed-count fold k = max(16, floor(sqrt(n))) riding the already-
      // allowed dd_embed_neardup / dd_semdedup_keep centroid plans
      "ta_textrank",
      // r15 EDF family: the ops_ks_drift grid shape (5-row type domain
      // × distinct 2-dp buckets) + the DistRank 1-row global bounds +
      // the 1-row pooled-total aggregate
      "ops_cvm_test", "ops_anderson_darling",
      // permutation p-value: the same grid shapes ×R plus the 19-row
      // literal relabel grid and the 5-row threshold relation fanned
      // onto the fact scan (the ops_bootstrap_poisson recipe)
      "ops_cvm_permutation", "ops_cvmperm_xxhash",
      // k-sample AD: the same edfGrid shape, one more 5-row rollup
      "ops_ad_ksample",
      // energy distance: the same edfGrid shape + a grid lead window
      "ops_energy_distance",
      // PSM: the ≤10-row treated-cell × ≤10-row control-cell caliper
      // match — grid², domain-bounded (the ops_tukey_hsd pair shape)
      "ops_psm_att",
      // Burrows' Delta: the |sources|-row domain × 50-word literal-K
      // grid completion (the ta_js_divergence shape)
      "ta_burrows_delta",
      // quantile normalization: DistRank 1-row global bounds + the
      // 1-row corpus-total aggregate onto two histogram-sized relations
      "cu_quantile_norm",
      // r18 weighted PSI: the psiDrift grid shapes verbatim — the
      // |sources|-row type domain × length-bucket grid completion and
      // the 10-bin literal grid, both domain-bounded
      "cu_weighted_psi")

  // the oracle-less bench-only twins stay under the same plan audit:
  // they run in every bench even though they left the correctness map
  private def auditSurface: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    (SparkEntry.queries ++ SparkEntry.benchOnlyDefs.map(d => d.name -> d.fn)).toSeq

  /** Build a gate's QueryExecution against an EMPTY cache: several
    * gates pin relations (DistRank histograms, shared fence/pooled
    * relations) at plan-BUILD time, and cache
    * substitution would then fold those subplans into opaque
    * InMemoryRelation leaves — hiding exactly the windows, joins and
    * aggregates these audits exist to count, both within a gate and
    * across alphabetically-later gates (r16). Releasing before the
    * plan is resolved keeps every audit hermetic and the censuses
    * exact; the runtime caching behavior is unchanged (Verify/Bench
    * release AFTER materializing, per gate). Planning never reads the
    * released local-checkpoint blocks, so the plan stays auditable.
    */
  private def freshQe(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.QueryExecution = {
    val df = fn(spark, dir)
    graft.plans.Checkpoint.release()
    spark.catalog.clearCache()
    df.queryExecution
  }

  test("every registered query plans without cartesian products") {
    val failures = auditSurface.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = freshQe(fn).executedPlan.toString
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
      if (cart || bnlj)
        Some(s"$name: ${if (cart) "CartesianProduct " else ""}${if (bnlj) "unexpected BNLJ" else ""}")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // queries whose logical plans may carry an explicit broadcast() hint:
  // each broadcast side is provably bounded by a CONSTANT — the ANN
  // query sides (<= NQueries rows by a literal filter), the IVF probe
  // list (<= NQueries * nProbe rows), and TPC-H nation/region (25 / 5
  // rows by spec). Anything data-bounded (a fact- or catalog-derived
  // relation) must leave the join strategy to AQE: a forced hint OOMs
  // the driver when the relation outgrows it at scale.
  private val broadcastHintAllowed =
    Set("sim_topk_exact", "sim_range_search", "sim_ann_lsh", "sim_ivf_topk", "q5_region_volume",
      "sim_prefix_rerank", // <= NQueries-row query side, as sim_topk_exact
      // TpchMore: nation/region broadcast hints — fixed 25/5 rows by spec
      "q2_min_cost_supp", "q9_profit_map", "q10_returned_top",
      "j4_band_join",
      "q7_nation_trade", // nation dim: fixed 25 rows at every scale factor
      "q11_value_share", // same fixed 25-row nation dim
      // TpchFinal: q8 broadcasts nation (×2 aliases) + region, q20 the
      // NATION_7-filtered nation — all spec-constant 25/5-row dims
      "q8_market_share", "q20_dominant_supp",
      // PQ codebook (M*K = 128 rows x 8 doubles, constant) and the
      // per-query ADC lookup table (NQueries * M * K rows, constant)
      "sim_pq_adc",
      // IVFPQ: the same constant codebook/ADC-table broadcasts plus the
      // NQueries * nProbe probe list
      "sim_ivfpq_topk",
      // incremental IVF: same constant probe-list broadcast as sim_ivf_topk
      "sim_ivf_delta",
      // BM25 query relation: <= NQueries rows by a literal limit
      "ta_bm25_topk",
      // PSI: the 5-row event-type domain broadcast for the rest join
      "ops_psi_drift",

      "dd_embed_neardup", // centroid index table, K ≈ √n — see bnljAllowed
      "dd_semdedup_keep", // same centroid broadcasts via assignCells
      // 5-row per-type fence relation broadcast back (the psi precedent)
      "ops_trimmed_mean",
      // 5-row priority domain for grid completion + the 1-row dims agg
      "ops_chi2_assoc",
      // 1-row bigram-total aggregate
      "ta_npmi_colloc",
      // 1-row bigram-type-count aggregate
      "ta_kn_bigram",
      // 1-row experiment-clock midpoint resp. pooled-moment aggregates
      "ops_did", "ops_cuped",
      // same 1-row experiment-clock midpoint device (withPeriod)
      "ops_gains_curve",
      // 1-row base-month aggregate (min month) for the common-basket join
      "ops_price_index",
      // 1-row jackknife total (N, S) broadcast onto the bucket grid
      "ops_jackknife_se",
      // 1-row exact-count aggregate beside the 1-row register summary
      "sk_hll_distinct",
      // 1-row observation-end aggregate
      "ops_survival_km",
      // same 1-row observation-end device, arm-split
      "ops_logrank_test",
      // 5-row query-term + exemplar-embedding broadcasts (bm25 device)
      "ta_hybrid_rrf",
      // 1-row total-edge-count aggregate
      "gr_modularity",
      // composes sim_topk_exact + sim_ann_lsh, inheriting their
      // constant-bounded (<= NQueries rows) query-side hints
      "sim_ann_recall",
      // MMR candidate build is sim_topk_exact's broadcast-query scan
      "sim_mmr_rerank",
      // SQ8 trainer (1-row array pair) + <=NQueries-row code queries
      "sim_sq8_topk",
      // <=KnnTestSplit-row literal-filtered test split
      "sim_knn_classify",
      // 1-row exact-count aggregate beside the 1-row sketch summary
      "sk_kmv_intersect",
      // 2-row set-literal dim for the register grid + 1-row exact agg
      "sk_hll_union",
      // 1-row tie-correction aggregate
      "ops_kruskal_wallis",
      // 25-row literal resample grid
      "ops_bootstrap_poisson",
      // same 25-row grid, xxhash64 production twin
      "ops_bootstrap_xxhash",
      // 16-row coalition grid x 4-row channel dim, <=16-row mask-subset
      // containment joins, 1-row efficiency-axiom totals - all literal
      "st_shapley_attrib",
      // <=10-row bin-grid sides of the PAV interval joins (literal
      // least(9, bin) cap)
      "ops_isotonic_calib",
      // nation dim only: fixed 25 rows by spec (customer side is
      // un-hinted — data-bounded, AQE decides)
      "ops_kendall_tau",
      // 1-row observation-end aggregate (ops_survival_km device)
      "ops_nelson_aalen",
      // 1-row base-month aggregate (ops_price_index device)
      "ops_tornqvist_index",
      // 5-row median grid back onto the fact + the 1-row grand-total
      "ops_brown_forsythe",
      // 1-row distinct-treatment-count aggregate
      "ops_friedman",
      // 1-row date-span midpoint + 1-row arm totals
      "ops_emd_drift",
      // nation dim only (25 rows by spec; the ops_kendall_tau shape)
      "ops_sen_slope",
      // nation + region dims (25/5 rows by spec)
      "ops_hhi",
      // 1-row bigram-type-count aggregate (ta_kn_bigram device)
      "ta_lm_perplexity",
      // 5-row literal-limit query set, its 5-row target-source labels,
      // and the source-domain-bounded relevant-count grid (the
      // ta_js_divergence source-domain precedent)
      "ta_ndcg_eval",
      // 4-row literal k grid + its 4-row per-k threshold relation
      "ops_hill_tail",
      // 1-row distinct-treatment-count aggregate (friedman device)
      "ops_page_trend",
      // 1-row token-total aggregate
      "ta_good_turing",
      // 1-row S/variance totals
      "ops_seasonal_mk",
      // 1-row Gini-total + 1-row entropy aggregates
      "gr_degree_gini",
      // 1-row grand-moment aggregate (ops_brown_forsythe shape)
      "ops_anova_f",
      // 5-row segment grid pair side + 1-row MSW total
      "ops_tukey_hsd",
      // 5-row type grid pair side + 1-row N/tie totals
      "ops_dunn_test",
      // 1-row epoch-µs midpoint (ops_emd_drift device)
      "ops_mcnemar",
      // 1-row grand-median + 1-row table totals
      "ops_mood_median",
      // 1-row pooled-variance/ln totals (ops_anova_f shape)
      "ops_bartlett",
      // 1-row record total onto the k-bucket grid
      "ops_k_anonymity",
      // 1-row totals + 5/25-row margin dims (ops_hhi shape)
      "ops_raking",
      // 1-row corpus-total aggregate (ta_good_turing device)
      "ta_fightin_words",
      // VERDICT r13 #5 foldings: 1-row basket-count / anchor / totals
      "bk_assoc_rules", "ops_rfm_segments", "cu_dsir_weights",
      // kHop seed-nation min, same folding
      "gr_khop",
      // 1-row pivoted 8-rule merge table broadcast onto the vocab
      "cu_bpe_apply", "cu_bpe_fertility",
      // r14 scalar foldings (see bnljAllowed)
      "ta_tfidf", "ta_unigram_ll", "ops_ks_drift",
      "gr_salsa", "gr_kcore", "gr_sim_neighbors",
      // DistRank-migrated rank gates (VERDICT r14 #2): the device
      // broadcasts its |groups|-row (or 1-row) bounds aggregate and
      // its <= groups x 1024-row bucket-carry relation; lorenz adds
      // the 50-row tileBounds decile-boundary relation. All
      // cardinality-bounded by construction, never fact-sized.
      // (kruskal/dunn/gains already appear above for prior devices.)
      "ops_auc_roc", "ops_cliffs_delta", "ops_gini", "ops_jonckheere",
      "ops_lorenz", "ops_mannwhitney", "ops_spearman",
      // r15: pageRank node-count fold (see bnljAllowed)
      "gr_pagerank",
      // r15: midpoint + DistRank bounds broadcasts (see bnljAllowed)
      "ops_wilcoxon_signed",
      // r15 scalar foldings (see bnljAllowed)
      "ta_textrank",
      // r15 EDF family + quantile normalization: the DistRank 1-row
      // bounds / bucket-carry broadcasts, the |types|- resp.
      // |sources|-row totals, and the 1-row pooled-total aggregate
      "ops_cvm_test", "ops_anderson_darling", "cu_quantile_norm",
      // permutation p-value: those plus the 19-row relabel grid, the
      // 5-row threshold relation, the 95-row world dimension and the
      // 5-row observed-statistic relation
      "ops_cvm_permutation", "ops_cvmperm_xxhash",
      // k-sample AD: the edfGrid broadcasts (see bnljAllowed)
      "ops_ad_ksample",
      // energy distance: the edfGrid broadcasts (see bnljAllowed)
      "ops_energy_distance",
      // PSM: the ≤10-row control-cell donor relation
      "ops_psm_att",
      // r16 Pctl.dist histogram-percentile migrations (VERDICT r15
      // #2): the device broadcasts its DistRank bounds/bucket-carry
      // relations plus the |groups|·|fractions|·2-row straddling-index
      // relation; outlier_bounds additionally broadcasts its 5-row
      // median grid back onto the fact. All constant- or
      // grid-bounded. (trimmed_mean/brown_forsythe/mood_median/
      // psi_drift already appear above for prior devices.)
      "fn_percentile_suite", "ops_outlier_bounds", "ops_winsorize",
      "sk_quantile_reservoir", "sk_quantile_xxhash",
      "st_hourly_quantiles",
      // r17: the weighted sparse-path gate broadcasts the same device
      // bounds relation
      "ops_weighted_quantiles",
      // r16 quantile tranche, born on the same device (tukey also
      // broadcasts its 5-row fence relation back onto the fact; qq
      // fans the 5-row type domain like psi_drift)
      "ops_tukey_fences", "ops_bowley_skew", "ops_qq_deciles",
      "ta_len_profile",
      // r16b: AB's DistRank pooled-prefix broadcasts + 1-row total;
      // length filter broadcasts its |sources|-row band relation
      "ops_ansari_bradley", "cu_length_filter",
      // Burrows' Delta: the 50-row top-K word relation and the
      // K-row/word-grid stats relations
      "ta_burrows_delta",
      // r18 weighted PSI: the |sources|-row fence relation + the
      // |sources|-row type-domain broadcasts (the ops_psi_drift shape)
      "cu_weighted_psi",
      // r18 weighted Gini: DistRank.prefixLt's |flags|-row bounds and
      // bucket-carry broadcasts (the ops_gini shape, weighted)
      "ops_weighted_gini")

  // SHUFFLE_HASH is a different risk class from broadcast: nothing is
  // collected or shipped whole — it only swaps the post-shuffle
  // algorithm from sort-merge to per-partition hash build, safe
  // whenever the build side's PER-PARTITION slice stays memory-sized
  // (it scales as |build|/P, and P scales with data). Censused exactly
  // like broadcasts so a hint on a genuinely huge-per-partition build
  // side still needs a reviewed entry here.
  //  - gr_triangles (r18): the closing join builds the oriented edge
  //    relation (|E|/P per task) while STREAMING the Σd²-sized wedge
  //    fan — sort-merge would sort the wedge fan (~42M rows at sf0.1,
  //    the single most expensive stage of the whole bench before the
  //    hint; 0.55× after).
  private val shuffleHashHintAllowed = Set("gr_triangles")

  test("no explicit broadcast hints outside constant-bounded relations") {
    val offenders = auditSurface.sortBy(_._1).flatMap { case (name, fn) =>
      val analyzed = freshQe(fn).analyzed
      val hints = analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.hints
      }
      val hasShuffleHash = hints.exists(_.strategy.exists(
        _ == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_HASH))
      val hasOther = hints.exists(_.strategy.forall(
        _ != org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_HASH))
      val bad =
        (hasOther && !broadcastHintAllowed(name)) ||
          (hasShuffleHash && !shuffleHashHintAllowed(name))
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"forced join-strategy hints outside their censuses: $offenders")
    // stale-entry guard, like the other censuses: an allowlisted
    // shuffle-hash query that no longer carries the hint must be
    // dropped from the list
    val stale = shuffleHashHintAllowed.filter { name =>
      auditSurface.find(_._1 == name).forall { case (_, fn) =>
        !freshQe(fn).analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h.hints
        }.exists(_.strategy.exists(
          _ == org.apache.spark.sql.catalyst.plans.logical.SHUFFLE_HASH))
      }
    }
    assert(stale.isEmpty, s"stale shuffleHashHintAllowed entries: $stale")
  }

  // Unpartitioned-window census (VERDICT r14 #2): a Window with an
  // empty partitionSpec sorts its WHOLE input in one task — the
  // scale-killer class the DistRank migration removed from the ten
  // fact-sized rank gates. Every remaining unpartitioned window on
  // the surface runs over a PROVABLY BOUNDED relation (an aggregate
  // grid: k event types, 10 deciles/bins, <=1024 bucket totals, a
  // distinct-lifetime/p-value/split-candidate grid) — pinned here by
  // EXACT count per query so a new global window anywhere (or a new
  // one sneaking into an allowed query) fails this audit and must
  // justify its bounded input. DistRank's own carry windows partition
  // by a constant, which the optimizer folds away — they surface here
  // as unpartitioned, with input <= groups x 1024 totals rows.
  private val unpartitionedWindowsAllowed: Map[String, Int] = Map(
    // BPE: rule/vocab-grid scans (Heaps-bounded vocabulary relations)
    "cu_bpe_apply" -> 2, "cu_bpe_fertility" -> 1, "cu_bpe_merges" -> 1,
    // mixture weights: domain-count grids (5-ish rows)
    "cu_domain_mix" -> 1, "cu_temperature_mix" -> 2,
    // degree-histogram / degree-grid cumulatives (distinct-degree-sized)
    "gr_degree_gini" -> 1, "gr_rich_club" -> 1,
    // decile/bin/k-grid cumulative readouts
    "ops_abc_xyz" -> 2, "ops_calibration_ece" -> 2, "ops_chi2_assoc" -> 2,
    "ops_cmh_test" -> 4, "ops_emd_drift" -> 1, "ops_fdr_bh" -> 3,
    "ops_fdr_by" -> 4, "ops_hill_tail" -> 2, "ops_isotonic_calib" -> 2,
    // mood_median: the k-row chi2 grid cumulative, plus the global
    // Pctl.dist grand-median's bucket carry (<=1024 totals rows) —
    // duplicated because the g/tot self-join repeats the device
    // subtree (r16)
    "ops_ks_drift" -> 1, "ops_mood_median" -> 3, "ops_mutual_info" -> 4,
    "ops_sprt_ab" -> 2, "ops_woe_iv" -> 2, "ops_best_split" -> 3,
    // survival: distinct-lifetime grid windows
    "ops_survival_km" -> 3, "ops_nelson_aalen" -> 3, "ops_logrank_test" -> 1,
    // sketch summaries: 1-row register/sketch relations
    "sk_kmv_intersect" -> 1,
    // two-level prefix decomposition: day-level carry over the day grid
    "st_concurrency" -> 1,
    // community grid cumulative (community-count-sized)
    "gr_modularity" -> 1,
    // DistRank-migrated rank gates: the remaining unpartitioned
    // windows are the device's bucket-carry (<=1024 totals rows) and
    // the k-row/10-row result-grid cumulatives — never the fact
    "ops_auc_roc" -> 1, "ops_dunn_test" -> 2, "ops_gains_curve" -> 4,
    "ops_jonckheere" -> 1, "ops_kruskal_wallis" -> 3,
    // r15 Wilcoxon signed-rank: the DistRank bucket carry
    "ops_wilcoxon_signed" -> 1,
    // r17: the EDF family's pooled cumulative is now the cross-type
    // SUM of the per-type union-window cumulative (edfGrid), so the
    // former pooled-leg DistRank bucket carries are gone from
    // ops_cvm_test / ops_anderson_darling / ops_ad_ksample /
    // ops_energy_distance entirely; the per-type windows partition by
    // type and never surface here.
    // quantile normalization: the pooled-histogram leg's bucket carry
    "cu_quantile_norm" -> 1,
    // Ansari–Bradley: the same pooled-leg bucket carry (r16)
    "ops_ansari_bradley" -> 1,
    // permutation p-value: the pooled leg's bucket carry appears in
    // both the observed-statistic (r = 0) and the tail (r >= 1)
    // readouts of the pinned `stats` relation
    "ops_cvm_permutation" -> 2, "ops_cvmperm_xxhash" -> 2)

  test("unpartitioned windows appear only over bounded grid relations (exact census)") {
    val actual = auditSurface.sortBy(_._1).map { case (name, fn) =>
      val plan = freshQe(fn).optimizedPlan
      val n = plan.collectWithSubqueries {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.size
      name -> n
    }.toMap
    val drift = actual.filter { case (name, n) =>
      n != unpartitionedWindowsAllowed.getOrElse(name, 0)
    }
    assert(drift.isEmpty,
      s"unpartitioned-window census drift (query -> actual, expected): " +
        drift.toSeq.sorted.map { case (k, v) =>
          s"$k -> $v, ${unpartitionedWindowsAllowed.getOrElse(k, 0)}"
        }.mkString("; "))
    // stale allowlist entries rot the census — drop them when a query
    // loses its windows
    val stale = unpartitionedWindowsAllowed.keySet
      .filter(k => actual.contains(k) && actual(k) == 0)
    assert(stale.isEmpty, s"allowlist entries with zero actual windows: $stale")
  }

  // Exact-Percentile census (VERDICT r15 #2): Spark's `percentile` is
  // a TypedImperativeAggregate that materializes EVERY value of its
  // group in one aggregation buffer — acceptable ONLY over provably
  // bounded relations (calendar-bounded hourly bars, month-pair
  // grids). The nine fact-sized callers migrated to the
  // [[graft.queries.Pctl.dist]] histogram device in r16; this census
  // pins EXACTLY where the buffering aggregate may still appear, so a
  // new fact-sized percentile anywhere fails the audit and must
  // justify its bounded input. Counts are subplan instances in the
  // optimized plan (self-joins duplicate device subtrees — the
  // unpartitioned-window census precedent).
  // r17: st_mad_anomaly's and st_runs_test's bar medians moved to the
  // bounded histogram device (cost-neutral, two fewer buffering
  // sites); the two SLOPE medians stay on the buffering aggregate
  // DELIBERATELY — r17 measured both histogram devices 1.3-1.8×
  // slower on the calendar²-bounded pair grids, and a ≤ 744²/2-row
  // buffer is grid-sized at any corpus scale, exactly the class this
  // census exists to pin.
  private val percentileAggAllowed: Map[String, Int] = Map(
    // Sen's slope median over the month-pair grid per nation
    // (calendar² ≤ ~300 rows/group)
    "ops_sen_slope" -> 1,
    // Mann–Kendall Sen slope over the hour-pair grid per type
    "st_trend_mk" -> 1)

  test("exact percentile aggregates appear only over bounded grid relations (exact census)") {
    val actual = auditSurface.sortBy(_._1).map { case (name, fn) =>
      val plan = freshQe(fn).optimizedPlan
      val n = plan.collectWithSubqueries { case p =>
        p.expressions.map(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.aggregate.Percentile => e
        }.size).sum
      }.sum
      name -> n
    }.toMap
    val drift = actual.filter { case (name, n) =>
      n != percentileAggAllowed.getOrElse(name, 0)
    }
    assert(drift.isEmpty,
      s"exact-percentile census drift (query -> actual, expected): " +
        drift.toSeq.sorted.map { case (k, v) =>
          s"$k -> $v, ${percentileAggAllowed.getOrElse(k, 0)}"
        }.mkString("; "))
    val stale = percentileAggAllowed.keySet
      .filter(k => actual.contains(k) && actual(k) == 0)
    assert(stale.isEmpty, s"allowlist entries with zero actual percentiles: $stale")
  }

  test("madAnomaly's repeated identical bar aggregate deduplicates via ReusedExchange (no persist needed)") {
    // measured: pinning the hourly-bar aggregate was
    // 1.9× SLOWER because its three consumers repeat the IDENTICAL
    // subplan, whose shuffle ReuseExchange unifies at runtime — this
    // pin keeps the one-fact-pass property mechanical so a refactor
    // that makes the three subplans drift apart (breaking the reuse)
    // fails here instead of silently tripling the fact scan. Under
    // AQE the reuse only appears in the FINAL adaptive plan, so the
    // probe materializes first (sf0.001 — cheap).
    val df = graft.queries.StreamingGates.madAnomaly(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(plan.contains("ReusedExchange"),
      "the three bars consumers must share one exchange; if this " +
        "fails, either the subplans drifted apart (re-unify them or " +
        "Checkpoint.pin the bars) or the planner stopped reusing")
  }

  test("rank-filter windows get the group-limit optimization (top-k never sorts full partitions)") {
    val plan = graft.queries.Relational.defs.find(_.name == "w1_window_topk").get
      .fn(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"w1 should push rank<=k into a WindowGroupLimit:\n${plan.take(1500)}")
  }

  test("parquet scans prune columns (no full-width reads in projecting queries)") {
    // representative narrow queries must not read the full documents row
    val plan = graft.queries.LlmText.fingerprint(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "fingerprint should scan only (doc_id, text)")
    val plan2 = graft.queries.Relational.defs.find(_.name == "q1_pricing").get
      .fn(spark, dir).queryExecution.executedPlan.toString
    assert(!plan2.contains("l_comment"), "q1 must not read unused lineitem columns")
  }

  test("predicates reach the parquet scan (PushedFilters non-empty under filters)") {
    val plan = graft.queries.Relational.defs.find(_.name == "q3_top_orders").get
      .fn(spark, dir).queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[([^\\]]+)\\]".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(p => p.trim.nonEmpty && p != "IsNotNull"),
      s"q3's segment/date filters should push to the scans: $pushed")
  }
}
