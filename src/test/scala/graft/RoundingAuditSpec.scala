package graft

import graft.queries.{Graph, StatOps, StreamingGates}
import org.apache.spark.sql.DataFrame

/** The r11 lesson (`gr_modularity`, VERDICT r11 #2): a gate whose final
  * projection `round()`s a DOUBLE produced by several float operations
  * is one FMA-contraction / re-association away from a cross-engine
  * hash flip IF the pre-round value sits on a rounding boundary. The
  * repo's first line of defense is the exact-numerator/single-crossing
  * recipe; for the Pearson-shaped gates where a full exact route would
  * overflow DECIMAL(38), this audit proves the SECOND defense: at gate
  * scale (the driver's sf0.01 verify data) every pre-round double
  * lands at least 10^-(scale+3) away from a HALF-boundary — i.e. ≥1e-9
  * in value units for the round-6 outputs — so any last-ulp engine
  * divergence rounds to the same decimal.
  */
/** Shared boundary-distance probe — also used by Round12GatesSpec's
  * driver-side replays to certify THEIR pre-round values.
  */
object RoundingAudit {
  /** Distance of x from the nearest round-half boundary, in units of
    * 10^-scale (0.5 = dead center of a decimal cell, 0.0 = exactly on
    * a x.xxx5 boundary).
    */
  def boundaryDist(x: Double, scale: Int): Double = {
    val scaled = math.abs(x) * math.pow(10, scale)
    if (scaled.isNaN || scaled.isInfinite || scaled >= 1e15) 0.5
    else {
      val frac = scaled - math.floor(scaled)
      math.abs(frac - 0.5)
    }
  }

  /** True when a value this close to x (same formula, ulp-level
    * divergence at most) must round to the same 6-dp decimal.
    */
  def safe6(x: Double): Boolean = boundaryDist(x, 6) >= 1e-3

  private val NegZeroBits = java.lang.Double.doubleToRawLongBits(-0.0)

  /** IEEE −0.0 detector (bit-level — `v == 0.0` is true for BOTH
    * zeros, which is exactly how the r12 `gr_modularity` divergence
    * hid from value-equality checks while flipping the driver hash).
    */
  def isNegZero(v: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(v) == NegZeroBits
}

class RoundingAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val gateDir = "/root/testdata/sf0.01"

  private def boundaryDist(x: Double, scale: Int): Double =
    RoundingAudit.boundaryDist(x, scale)

  private def audit(name: String, df: DataFrame,
      cols: Seq[(String, Int)]): Unit = {
    val rows = df.select(cols.map(c => org.apache.spark.sql.functions
      .col(c._1)): _*).collect()
    assert(rows.nonEmpty, s"$name: audit relation is empty")
    for (row <- rows; ((cname, scale), i) <- cols.zipWithIndex) {
      if (!row.isNullAt(i)) {
        val v = row.getDouble(i)
        val d = boundaryDist(v, scale)
        assert(d >= 1e-3,
          s"$name.$cname = $v sits within 10^-${scale + 3} of a " +
            s"round-$scale boundary (dist $d) — restructure to the " +
            "exact-numerator recipe before this flips an engine hash")
      }
    }
  }

  test("gr_assortativity pre-round value is boundary-safe at gate scale") {
    audit("gr_assortativity", Graph.assortativityRaw(spark, gateDir),
      Seq(("r0", 6)))
  }

  test("ops_cuped pre-round values are boundary-safe at gate scale") {
    audit("ops_cuped", StatOps.cupedRaw(spark, gateDir),
      Seq(("mean_post0", 6), ("mean_post_cuped0", 6), ("theta0", 6),
        ("corr20", 6)))
  }

  test("st_lag_autocorr pre-round values are boundary-safe at gate scale") {
    audit("st_lag_autocorr", StreamingGates.lagAutocorrRaw(spark, gateDir),
      Seq(("ac0", 6)))
  }

  test("st_correlogram pre-round values are boundary-safe at both scales") {
    // ac0 feeds the round-6 output AND the round-9 dominant-period rank
    audit("st_correlogram", StreamingGates.correlogramRaw(spark, gateDir),
      Seq(("ac0", 6), ("ac0", 9)))
  }

  test("st_seasonal_naive pre-round values are boundary-safe at gate scale") {
    audit("st_seasonal_naive", StreamingGates.seasonalNaiveRaw(spark, gateDir),
      Seq(("mn", 6), ("ms", 6), ("mase0", 6)))
  }

  /** Signed-zero audit (VERDICT r12 #3): the r12 red gate was NOT a
    * boundary miss — it was DuckDB's round() preserving IEEE −0.0 on
    * 144 negative near-zero quotients while Spark's BigDecimal round
    * has no signed zero. The boundary audit above cannot see that
    * hazard, so this one does: for every double column of a gate's
    * FINAL output, no value may carry the −0.0 bit pattern (the Spark
    * side of the contract), and any gate whose pre-round values go
    * negative-but-rounds-to-zero must sign-normalize in its ORACLE
    * text too (the DuckDB side — asserted on the SQL itself, which is
    * what a revert would delete).
    */
  private def auditNoNegZero(name: String, df: DataFrame): Unit = {
    val doubleCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.DoubleType)
      .map(_.name)
    assert(doubleCols.nonEmpty, s"$name: no double columns to audit")
    val rows = df.select(doubleCols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
    for (row <- rows; (cname, i) <- doubleCols.zipWithIndex)
      if (!row.isNullAt(i))
        assert(!RoundingAudit.isNegZero(row.getDouble(i)),
          s"$name.$cname emits IEEE -0.0 — sign-normalize (`+ 0.0`) " +
            "before this flips the driver hash (gr_modularity r11/r12)")
  }

  test("gr_modularity: the -0.0 hazard is live at gate scale and normalized on both engines") {
    import org.apache.spark.sql.functions._
    // (a) the hazard is REAL on the driver's verify data: communities
    // with negative exact numerators whose quotient rounds to zero —
    // without sign normalization these render -0.0 in DuckDB, +0.0 in
    // Spark (the two-round red gate)
    val raw = Graph.modularityRawPlan(spark, gateDir)
    val hazard = raw
      .filter(col("q_num") < 0 && round(col("q_part0"), 6) === 0.0)
    assert(hazard.count() > 0,
      "expected negative-numerator round-to-zero communities at gate " +
        "scale; if the data shifted, this audit needs a new live probe")
    // (b) Spark's final projection never emits the -0.0 bit pattern
    auditNoNegZero("gr_modularity", Graph.modularity(spark, gateDir))
    // (c) the ORACLE carries the identical normalization — this is the
    // assertion that fails if the r13 fix is reverted
    for (colName <- Seq("q_part", "modularity"))
      assert(Graph.modularityOracle.contains(s"+ 0.0 AS $colName") ||
        Graph.modularityOracle.replaceAll("\\s+", " ")
          .contains(s"+ 0.0 AS $colName"),
        s"modularityOracle lost the `+ 0.0 AS $colName` sign " +
          "normalization — DuckDB will render -0.0 and the gate goes red")
  }

  test("rounded-double gate outputs carry no -0.0 bit pattern at gate scale") {
    import org.apache.spark.sql.functions._
    auditNoNegZero("gr_assortativity", Graph.assortativity(spark, gateDir))
    auditNoNegZero("ops_cuped", StatOps.cuped(spark, gateDir))
    auditNoNegZero("st_lag_autocorr",
      StreamingGates.lagAutocorr(spark, gateDir))
    auditNoNegZero("st_seasonal_naive",
      StreamingGates.seasonalNaive(spark, gateDir))
    // round-13 negative-capable outputs: each also carries the `+ 0.0`
    // sign normalization in its ORACLE (checked below) so a tiny
    // negative pre-round value cannot render -0.0 in DuckDB only
    auditNoNegZero("ops_ttest_welch", StatOps.welchTTest(spark, gateDir))
    auditNoNegZero("ops_auc_roc", StatOps.aucRoc(spark, gateDir))
    auditNoNegZero("ops_kruskal_wallis", StatOps.kruskalWallis(spark, gateDir))
    auditNoNegZero("ops_logrank_test", StatOps.logrankTest(spark, gateDir))
    auditNoNegZero("ops_theil_index", StatOps.theilIndex(spark, gateDir))
    auditNoNegZero("st_shapley_attrib",
      StreamingGates.shapleyAttrib(spark, gateDir))
    auditNoNegZero("ops_kendall_tau",
      graft.queries.StatMore.kendallTau(spark, gateDir))
    auditNoNegZero("ops_sprt_ab",
      graft.queries.StatMore.sprtAb(spark, gateDir))
    // tranche C negative-capable outputs (δ and the Sen slope go
    // negative by definition; avg ln P is always negative; the W/χ²
    // ratios are ≥0 mathematically but float to −ε when the group
    // effect vanishes — all normalized in their oracles below)
    auditNoNegZero("ops_cliffs_delta",
      graft.queries.StatTests.cliffsDelta(spark, gateDir))
    auditNoNegZero("ops_sen_slope",
      graft.queries.StatTests.senSlope(spark, gateDir))
    auditNoNegZero("ops_brown_forsythe",
      graft.queries.StatTests.brownForsythe(spark, gateDir))
    auditNoNegZero("ops_friedman",
      graft.queries.StatTests.friedmanTest(spark, gateDir))
    auditNoNegZero("ta_lm_perplexity",
      graft.queries.TextEval.lmPerplexity(spark, gateDir))
    auditNoNegZero("ops_page_trend",
      graft.queries.StatTests.pageTrend(spark, gateDir))
    auditNoNegZero("ops_cohens_d",
      graft.queries.StatTests.cohensD(spark, gateDir))
    auditNoNegZero("ops_seasonal_mk",
      graft.queries.StatTests.seasonalMk(spark, gateDir))
    auditNoNegZero("ops_anova_f",
      graft.queries.StatTests.anovaF(spark, gateDir))
    auditNoNegZero("ops_odds_ratio",
      graft.queries.StatTests.oddsRatio(spark, gateDir))
    auditNoNegZero("ta_cli_ari",
      graft.queries.TextScores.cliAri(spark, gateDir))
    auditNoNegZero("ops_tukey_hsd",
      graft.queries.StatTests.tukeyHsd(spark, gateDir))
    auditNoNegZero("ops_dunn_test",
      graft.queries.StatTests.dunnTest(spark, gateDir))
    auditNoNegZero("ops_mcnemar",
      graft.queries.StatTests.mcnemar(spark, gateDir))
    auditNoNegZero("ops_cochran_q",
      graft.queries.StatTests.cochranQ(spark, gateDir))
    auditNoNegZero("ops_mood_median",
      graft.queries.StatTests.moodMedian(spark, gateDir))
    auditNoNegZero("ops_bartlett",
      graft.queries.StatTests.bartlett(spark, gateDir))
    auditNoNegZero("ops_jonckheere",
      graft.queries.StatTests.jonckheere(spark, gateDir))
    auditNoNegZero("ops_fdr_by",
      graft.queries.StatTests.fdrBy(spark, gateDir))
    auditNoNegZero("ops_k_anonymity",
      graft.queries.DataOps.kAnonymity(spark, gateDir))
    auditNoNegZero("st_page_hinkley",
      graft.queries.StreamingGates.pageHinkley(spark, gateDir))
    auditNoNegZero("ops_gumbel_moments",
      graft.queries.StatTests.gumbelMoments(spark, gateDir))
    auditNoNegZero("ops_best_split",
      graft.queries.StatTests.bestSplit(spark, gateDir))
    auditNoNegZero("ops_raking",
      graft.queries.DataOps.raking(spark, gateDir))
    auditNoNegZero("ops_mutual_info",
      graft.queries.StatTests.mutualInfo(spark, gateDir))
    auditNoNegZero("ta_fightin_words",
      graft.queries.TextScores.fightinWords(spark, gateDir))
  }

  test("round-13 negative-capable oracles carry the -0.0 sign normalization") {
    val probes = Seq(
      StatOps.welchOracle -> "t_stat",
      StatOps.aucRocOracle -> "gini_auc",
      StatOps.kruskalWallisOracle -> "h_stat",
      StatOps.kruskalWallisOracle -> "h_adj",
      StatOps.logrankTestOracle -> "o_minus_e",
      StatOps.theilIndexOracle -> "theil",
      StreamingGates.shapleyAttribOracle -> "phi",
      graft.queries.StatMore.kendallTauOracle -> "tau_b",
      graft.queries.StatMore.sprtAbOracle -> "delta",
      graft.queries.StatMore.sprtAbOracle -> "ln_lambda",
      graft.queries.StatTests.cliffsDeltaOracle -> "cliffs_delta",
      graft.queries.StatTests.senSlopeOracle -> "sen_slope_cents",
      graft.queries.StatTests.brownForsytheOracle -> "w_stat",
      graft.queries.StatTests.friedmanTestOracle -> "chi2_f",
      graft.queries.StatTests.friedmanTestOracle -> "kendall_w",
      graft.queries.TextEval.lmPerplexityOracle -> "avg_lnp",
      graft.queries.StatTests.pageTrendOracle -> "z_score",
      graft.queries.StatTests.cohensDOracle -> "mean_diff",
      graft.queries.StatTests.cohensDOracle -> "cohens_d",
      graft.queries.StatTests.cohensDOracle -> "hedges_g",
      graft.queries.StatTests.seasonalMkOracle -> "z_total",
      graft.queries.StatTests.anovaFOracle -> "f_stat",
      graft.queries.StatTests.anovaFOracle -> "eta2",
      graft.queries.StatTests.anovaFOracle -> "omega2",
      graft.queries.StatTests.oddsRatioOracle -> "log_or",
      graft.queries.TextScores.cliAriOracle -> "coleman_liau",
      graft.queries.TextScores.cliAriOracle -> "ari",
      graft.queries.StatTests.tukeyHsdOracle -> "mean_diff",
      graft.queries.StatTests.dunnTestOracle -> "z_stat",
      graft.queries.StatTests.bartlettOracle -> "t_stat",
      graft.queries.StatTests.jonckheereOracle -> "z_stat",
      graft.queries.StatTests.bestSplitOracle -> "gini_gain",
      graft.queries.StatTests.mutualInfoOracle -> "mi_nats",
      graft.queries.StatTests.mutualInfoOracle -> "nmi",
      graft.queries.TextScores.fightinWordsOracle -> "log_odds",
      graft.queries.TextScores.fightinWordsOracle -> "z_score")
    for ((sql, colName) <- probes)
      assert(sql.replaceAll("\\s+", " ").contains(s"+ 0.0 AS $colName"),
        s"oracle lost the `+ 0.0 AS $colName` sign normalization — a " +
          "tiny negative pre-round value renders -0.0 in DuckDB only " +
          "and flips the driver hash (the gr_modularity r11/r12 class)")
  }

  test("public gates equal their raw frames rounded (refactor is a pure split)") {
    // sf0.001 keeps this equivalence check cheap; the raws above ran
    // at gate scale already
    import org.apache.spark.sql.functions._
    val a = Graph.assortativity(spark, sfDir).collect()
    val b = Graph.assortativityRaw(spark, sfDir)
      .select(col("n_sym_edges"), round(col("r0"), 6).as("assortativity"))
      .collect()
    assert(a.toSeq === b.toSeq)
    val c = StatOps.cuped(spark, sfDir).collect()
    val d = StatOps.cupedRaw(spark, sfDir)
      .select(col("arm"), col("n_users"),
        round(col("mean_post0"), 6).as("mean_post"),
        round(col("mean_post_cuped0"), 6).as("mean_post_cuped"),
        round(col("theta0"), 6).as("theta"),
        round(col("corr20"), 6).as("var_reduction"))
      .orderBy(col("arm")).collect()
    assert(c.toSeq === d.toSeq)
  }
}
