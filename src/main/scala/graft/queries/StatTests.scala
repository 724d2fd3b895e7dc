package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 extension tranche C: the classical-inference and
  * distribution-comparison operators that complete families already
  * on the surface — effect size beside the Mann–Whitney test
  * ([[StatOps.mannWhitney]]), variance homogeneity beside the Welch
  * t ([[StatOps]]' `ops_ttest_welch`), the blocked-design rank test
  * beside Kruskal–Wallis (`ops_kruskal_wallis`), the robust slope
  * beside the Mann–Kendall trend (`st_trend_mk`), earth-mover drift
  * beside PSI/KS/JS (`ops_psi_drift`/`ops_ks_drift`/
  * `ta_js_divergence`), and market concentration beside
  * Gini/Lorenz/Theil (`ops_gini`/`ops_lorenz`/`ops_theil_index`).
  * Same float policy as [[StatOps]]: exact integers through
  * aggregation, per-term doubles written identically in the Spark
  * plan and the DuckDB oracle, order-free Σ via DECIMAL(38,12) where
  * a sum crosses rows, round-6 output, `+ 0.0` oracle normalization
  * on negative-capable columns.
  */
object StatTests {

  /** Cliff's delta ordinal effect size (Cliff 1993) of event value
    * between the two experiment arms, per event type — the
    * magnitude companion to [[StatOps.mannWhitney]]'s significance:
    * δ = P(A > B) − P(B > A), the probability a random A observation
    * exceeds a random B one minus the reverse. Derived EXACTLY from
    * the same doubled mid-rank carry as the U test (δ =
    * 2U_A/(n_A·n_B) − 1, with U_A from the rank sum, ties counted
    * half), so δ never touches an O(n²) pair join; the qualitative
    * band (negligible < 0.147 ≤ small < 0.33 ≤ medium < 0.474 ≤
    * large, Romano et al. 2006) is decided by INTEGER
    * cross-multiplication — no double ever enters a comparison.
    *
    * Scale shape (VERDICT r14 #2 — [[graft.queries.DistRank]]
    * migration, the [[StatOps.mannWhitney]] shape): one map-combined
    * hash aggregate to the (type, value) histogram with the A-arm
    * split, bucketed prefix sums for the doubled midranks — no
    * fact-sized window — then the δ formula on the 5-row type grid.
    * Bit-identical (DistRankSpec).
    */
  def cliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type").as("t"),
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("value"))
    val d = DecimalType(38, 0)
    val hist = DistRank.midrank2(ev, Seq("t"), "value",
      Seq("na_v" -> sum(when(col("arm") === "A", 1L).otherwise(0L))))
    val agg = hist
      .groupBy(col("t"))
      .agg(sum(col("na_v")).as("n_a"),
        sum(col("eq") - col("na_v")).as("n_b"),
        // when-guard keeps the no-A-rows degenerate case NULL, like
        // the old CASE-summed form (and the oracle's)
        sum(when(col("na_v") > 0, col("r2").cast(d) * col("na_v"))).as("s2a"))
    // 2·U_A = s2a − n_a(n_a+1);  δ·(n_a·n_b) = 2·U_A − n_a·n_b — all
    // exact integers; |num| vs 0.147/0.33/0.474 thresholds compared
    // as num·1000 vs 147/330/474·(n_a·n_b)
    val num = (col("s2a") - (col("n_a") * (col("n_a") + 1)).cast(d) -
      (col("n_a") * col("n_b")).cast(d)).as("num")
    agg.select(col("t"), col("n_a"), col("n_b"), num,
      (col("n_a") * col("n_b")).cast(d).as("den"))
      .select(col("t").as("event_type"), col("n_a"), col("n_b"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType), 6)
          .as("cliffs_delta"),
        when(abs(col("num")) * 1000 < col("den") * 147, "negligible")
          .when(abs(col("num")) * 1000 < col("den") * 330, "small")
          .when(abs(col("num")) * 1000 < col("den") * 474, "medium")
          .otherwise("large").as("magnitude"))
      .orderBy(col("event_type"))
  }

  val cliffsDeltaOracle: String =
    """WITH ev AS (
      |  SELECT event_type AS t,
      |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm, "value"
      |  FROM events),
      |r AS (
      |  SELECT t, arm,
      |    CAST(2 * rank() OVER (PARTITION BY t ORDER BY "value")
      |      + COUNT(*) OVER (PARTITION BY t, "value") - 1 AS BIGINT) AS r2
      |  FROM ev),
      |agg AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    SUM(CASE WHEN arm = 'A' THEN CAST(r2 AS DECIMAL(38,0)) END) AS s2a
      |  FROM r GROUP BY 1),
      |f AS (
      |  SELECT t, n_a, n_b,
      |    s2a - CAST(n_a * (n_a + 1) AS DECIMAL(38,0))
      |      - CAST(n_a * n_b AS DECIMAL(38,0)) AS num,
      |    CAST(n_a * n_b AS DECIMAL(38,0)) AS den
      |  FROM agg)
      |SELECT t AS event_type, n_a, n_b,
      |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0
      |    AS cliffs_delta,
      |  CASE WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
      |    WHEN abs(num) * 1000 < den * 330 THEN 'small'
      |    WHEN abs(num) * 1000 < den * 474 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM f ORDER BY event_type""".stripMargin

  /** (seg, cents): order value in integer cents by customer market segment. */
  private def segCents(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))

  /** (seg, n, s = Σcents, q = Σcents²) over [[segCents]], sums in DECIMAL(38,0). */
  private def segMoments(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    segCents(s, dir).groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("cents").cast(d0)).as("s"),
        sum((col("cents") * col("cents")).cast(d0)).as("q"))
  }

  /** Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    * 1974 — Levene's test with MEDIAN centers, the robust variant
    * every ANOVA pre-check uses): are order-value spreads equal
    * across the five customer market segments? W = ((N−k)/(k−1)) ·
    * Σnᵢ(Z̄ᵢ−Z̄)² / ΣᵢΣⱼ(Zᵢⱼ−Z̄ᵢ)² with Zᵢⱼ = |xᵢⱼ − medᵢ|. The
    * medians ride [[Pctl]] (integer cents → the interpolated median
    * is an exact half-integer), so the DOUBLED deviations
    * z2 = |2x − 2·med| are exact integers: the within-group sums
    * Sᵢ = Σz2 and Qᵢ = Σz2² aggregate exactly (DECIMAL(38,0)); the
    * 4× unit factor cancels in W's ratio. Per-group double terms
    * (Sᵢ²/nᵢ) cross once each and Σ over the 5-segment grid rides
    * DECIMAL(38,12), so no row-order enters a float sum.
    *
    * Scale shape: two fact passes (one [[Pctl.dist]] histogram median
    * per segment — no buffer-everything percentile aggregate, VERDICT
    * r15 #2 — one deviation aggregate with the 5-row median grid
    * broadcast back), then 5-row grid algebra.
    */
  def brownForsythe(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val d12 = DecimalType(38, 12)
    // pinned: ord feeds the median device's histogram AND
    // the deviation aggregate — one orders-customer join, not two
    val ord = graft.plans.Checkpoint.pin(segCents(s, dir))
    val med = Pctl.dist(ord, Seq("seg"), "cents", Seq("med" -> 0.5))
      .withColumn("m2", (col("med") * 2).cast(LongType))
    val dev = ord.join(broadcast(med), "seg")
      .select(col("seg"), col("med"),
        abs(col("cents") * 2 - col("m2")).as("z2"))
    // pinned: g feeds both the per-segment output AND the
    // tot rollup — without the pin, the ord scan + median device would
    // re-execute per reference
    val g = graft.plans.Checkpoint.pin(dev.groupBy(col("seg"), col("med"))
      .agg(count(lit(1)).as("n"), sum(col("z2").cast(d0)).as("s"),
        sum((col("z2") * col("z2")).cast(d0)).as("q")))
    // per-group double terms, written once; Σ over groups rides dec12
    val between = col("s").cast(DoubleType) * col("s").cast(DoubleType) /
      col("n").cast(DoubleType)
    val within = col("q").cast(DoubleType) - between
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(col("s")).as("s_tot"),
      sum(between.cast(d12)).cast(DoubleType).as("a_raw"),
      sum(within.cast(d12)).cast(DoubleType).as("b"))
    val aNum = col("a_raw") -
      col("s_tot").cast(DoubleType) * col("s_tot").cast(DoubleType) /
        col("n_tot").cast(DoubleType)
    val w = (col("n_tot") - col("k")).cast(DoubleType) /
      (col("k") - 1).cast(DoubleType) * aNum / col("b")
    g.crossJoin(broadcast(tot.filter(col("b") > 0)))
      .select(col("seg").as("segment"), col("n"),
        round(col("med"), 6).as("median_price"),
        round(col("s").cast(DoubleType) /
          (lit(2.0) * col("n").cast(DoubleType)), 6).as("mean_absdev"),
        round(w, 6).as("w_stat"),
        (col("k") - 1).as("df1"), (col("n_tot") - col("k")).as("df2"))
      .orderBy(col("segment"))
  }

  val brownForsytheOracle: String = {
    val between = "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    s"""WITH ord AS (
       |  SELECT c.c_mktsegment AS seg,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |med AS (
       |  SELECT seg, ${Pctl.sql("cents", 0.5)} AS med FROM ord GROUP BY 1),
       |dev AS (
       |  SELECT o.seg, m.med,
       |    abs(o.cents * 2 - CAST(m.med * 2 AS BIGINT)) AS z2
       |  FROM ord o JOIN med m USING (seg)),
       |g AS (
       |  SELECT seg, med, COUNT(*) AS n,
       |    SUM(CAST(z2 AS DECIMAL(38,0))) AS s,
       |    SUM(CAST(z2 * z2 AS DECIMAL(38,0))) AS q
       |  FROM dev GROUP BY 1, 2),
       |tot AS (
       |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
       |    SUM(s) AS s_tot,
       |    CAST(SUM(CAST($between AS DECIMAL(38,12))) AS DOUBLE) AS a_raw,
       |    CAST(SUM(CAST(CAST(q AS DOUBLE) - $between AS DECIMAL(38,12)))
       |      AS DOUBLE) AS b
       |  FROM g)
       |SELECT g.seg AS segment, g.n,
       |  round(g.med, 6) AS median_price,
       |  round(CAST(g.s AS DOUBLE) / (2.0 * CAST(g.n AS DOUBLE)), 6)
       |    AS mean_absdev,
       |  round(CAST(t.n_tot - t.k AS DOUBLE) / CAST(t.k - 1 AS DOUBLE)
       |    * (t.a_raw - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE)
       |        / CAST(t.n_tot AS DOUBLE))
       |    / t.b, 6) + 0.0 AS w_stat,
       |  t.k - 1 AS df1, t.n_tot - t.k AS df2
       |FROM g CROSS JOIN tot t
       |WHERE t.b > 0
       |ORDER BY segment""".stripMargin
  }

  /** Friedman blocked rank test (Friedman 1937) — the
    * repeated-measures complement to `ops_kruskal_wallis`: within
    * each ship-month BLOCK, rank the five order priorities by total
    * revenue, then ask whether any priority systematically out-ranks
    * the others across months. Observations are exact integer cent
    * sums per (month, priority) cell; only COMPLETE blocks (all 5
    * priorities present) enter, filtered relationally on both
    * engines. Ranks carry the doubled mid-rank trick (2r + t − 1) so
    * ties stay integer; χ²_F = 3·ΣⱼR2ⱼ²/(b·k·(k+1)) − 3·b·(k+1)
    * (the doubled-rank rendering of 12/(bk(k+1))·ΣRⱼ² − 3b(k+1))
    * crosses to double once, and Kendall's concordance W =
    * χ²_F/(b·(k−1)) comes free.
    *
    * Scale shape: one fact hash aggregate to the (month × priority)
    * grid, grid-sized rank windows, one k-row aggregate — the fact
    * is touched once.
    */
  def friedmanTest(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val cells = Tables.t(s, dir, "orders")
      .select(date_trunc("month", col("o_orderdate").cast(TimestampType))
        .cast(DateType).as("block"),
        col("o_orderpriority").as("trt"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy(col("block"), col("trt"))
      .agg(sum(col("cents").cast(d0)).as("obs"))
    val kTot = cells.select(col("trt")).distinct()
      .agg(count(lit(1)).as("k"))
    val full = cells
      .withColumn("n_trt", count(lit(1))
        .over(Window.partitionBy(col("block"))))
      .crossJoin(broadcast(kTot))
      .filter(col("n_trt") === col("k"))
    val r2 = (lit(2) * rank().over(
      Window.partitionBy(col("block")).orderBy(col("obs")))
      + count(lit(1)).over(Window.partitionBy(col("block"), col("obs"))) - 1)
      .cast(LongType)
    val ranked = full.withColumn("r2", r2)
    val byTrt = ranked.groupBy(col("trt"), col("k"))
      .agg(count(lit(1)).as("b"), sum(col("r2")).as("rs2"))
    val stat = byTrt.groupBy(col("k"), col("b"))
      .agg(sum((col("rs2") * col("rs2")).cast(d0)).as("ss2"))
      .select(col("k"), col("b"),
        (lit(3.0) * col("ss2").cast(DoubleType) /
          (col("b") * col("k") * (col("k") + 1)).cast(DoubleType) -
          lit(3.0) * (col("b") * (col("k") + 1)).cast(DoubleType))
          .as("chi2"))
    byTrt.join(stat, Seq("k", "b"))
      .select(col("trt").as("priority"), col("b").as("n_blocks"),
        col("rs2").as("rank_sum2"),
        round(col("rs2").cast(DoubleType) /
          (lit(2.0) * col("b").cast(DoubleType)), 6).as("mean_rank"),
        round(col("chi2"), 6).as("chi2_f"),
        (col("k") - 1).as("df"),
        round(col("chi2") / (col("b") * (col("k") - 1)).cast(DoubleType), 6)
          .as("kendall_w"))
      .orderBy(col("priority"))
  }

  val friedmanTestOracle: String =
    """WITH cells AS (
      |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
      |      AS DATE) AS block,
      |    o_orderpriority AS trt,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |      AS DECIMAL(38,0))) AS obs
      |  FROM orders GROUP BY 1, 2),
      |kt AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
      |full_blocks AS (
      |  SELECT c.*, kt.k FROM cells c CROSS JOIN kt
      |  QUALIFY COUNT(*) OVER (PARTITION BY c.block) = kt.k),
      |ranked AS (
      |  SELECT *,
      |    CAST(2 * rank() OVER (PARTITION BY block ORDER BY obs)
      |      + COUNT(*) OVER (PARTITION BY block, obs) - 1 AS BIGINT) AS r2
      |  FROM full_blocks),
      |by_trt AS (
      |  SELECT trt, k, COUNT(*) AS b, CAST(SUM(r2) AS BIGINT) AS rs2
      |  FROM ranked GROUP BY 1, 2),
      |stat AS (
      |  SELECT k, b,
      |    3.0 * CAST(SUM(CAST(rs2 * rs2 AS DECIMAL(38,0))) AS DOUBLE)
      |      / CAST(b * k * (k + 1) AS DOUBLE)
      |      - 3.0 * CAST(b * (k + 1) AS DOUBLE) AS chi2
      |  FROM by_trt GROUP BY 1, 2)
      |SELECT t.trt AS priority, t.b AS n_blocks, t.rs2 AS rank_sum2,
      |  round(CAST(t.rs2 AS DOUBLE) / (2.0 * CAST(t.b AS DOUBLE)), 6)
      |    AS mean_rank,
      |  round(s.chi2, 6) + 0.0 AS chi2_f,
      |  t.k - 1 AS df,
      |  round(s.chi2 / CAST(t.b * (t.k - 1) AS DOUBLE), 6) + 0.0 AS kendall_w
      |FROM by_trt t JOIN stat s USING (k, b)
      |ORDER BY priority""".stripMargin

  /** Theil–Sen robust slope (Theil 1950; Sen 1968) of each nation's
    * monthly revenue series — the estimator that ANSWERS the
    * question `st_trend_mk`'s Mann–Kendall test only decides: not
    * "is there a monotone trend" but "how steep is it", immune to
    * outlier months (29% breakdown point). Slope of every month
    * pair is one double division of exact integers (Δcents /
    * Δmonth-index); the estimate is the [[Pctl]] median over the
    * per-nation slope set. Degenerate nations (<2 months) never
    * form a pair and drop out relationally.
    *
    * Scale shape: one fact hash aggregate to the (nation × month)
    * grid (the kendallTau grid), one within-nation month²-sized
    * pair join — never fact-sized — and a 25-group exact
    * percentile over ~month²/2 slopes each.
    */
  def senSlope(s: SparkSession, dir: String): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val grid = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast(LongType).as("mi"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy(col("n_name"), col("mi"))
      .agg(sum(col("cents").cast(dec0)).cast(LongType).as("rev"))
    val a = grid.select(col("n_name").as("nn"), col("mi").as("m1"),
      col("rev").as("r1"))
    val b = grid.select(col("n_name").as("nn2"), col("mi").as("m2"),
      col("rev").as("r2"))
    // the division is branch-guarded even though the join condition
    // already excludes m1 = m2: the device's slope-not-null filter
    // can merge into the join residual AHEAD of m1 < m2, and ANSI
    // float division by zero THROWS (the branch is never null on
    // surviving rows, so values are unchanged)
    val pairs = a.join(b, col("nn") === col("nn2") && col("m1") < col("m2"))
      .select(col("nn"),
        when(col("m2") =!= col("m1"),
          (col("r2") - col("r1")).cast(DoubleType) /
            (col("m2") - col("m1")).cast(DoubleType)).as("slope"))
    val months = grid.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_months"))
    // the buffering `percentile` aggregate is the RIGHT device here
    // and stays (r17 measured the histogram devices 30% slower on
    // this shape): the pair relation is calendar²-bounded (≤ ~300
    // month pairs per nation at ANY corpus size), so the buffer is
    // grid-sized — exactly the class the PlanAuditSpec census pins
    pairs.groupBy(col("nn"))
      .agg(count(col("slope")).as("n_pairs"), Pctl.p("slope", 0.5).as("sen"))
      .join(months, col("nn") === col("n_name"))
      .select(col("n_name"), col("n_months"), col("n_pairs"),
        col("sen").as("sen_slope_cents"))
      .orderBy(col("n_name"))
  }

  val senSlopeOracle: String =
    s"""WITH grid AS (
       |  SELECT n.n_name,
       |    CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
       |      AS mi,
       |    CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.n_name,
       |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.mi - a.mi AS DOUBLE)
       |      AS slope
       |  FROM grid a JOIN grid b
       |    ON a.n_name = b.n_name AND a.mi < b.mi),
       |months AS (SELECT n_name, COUNT(*) AS n_months FROM grid GROUP BY 1)
       |SELECT p.n_name, m.n_months, p.n_pairs,
       |  p.sen + 0.0 AS sen_slope_cents
       |FROM (SELECT n_name, COUNT(slope) AS n_pairs,
       |    ${Pctl.sql("slope", 0.5)} AS sen
       |  FROM pairs GROUP BY 1) p
       |JOIN months m USING (n_name)
       |ORDER BY p.n_name""".stripMargin

  /** 1-D earth-mover (Wasserstein-1) drift between the first- and
    * second-half order-value distributions (split at the relational
    * midpoint of the date span) — the drift measure that,
    * unlike PSI/KS/JS (`ops_psi_drift`/`ops_ks_drift`/
    * `ta_js_divergence`), is in the UNITS of the metric ("average
    * dollars a value must move"), so a monitoring page can alarm on
    * it directly. On $10k value bins, W₁ = Σ|F_A−F_B|·Δ collapses
    * to EXACT integers: per occupied bin the CDF gap is
    * |cumA·N_B − cumB·N_A| (integer cross-multiplication — no
    * rational ever floats), weighted by the gap to the next
    * occupied bin so sparse grids integrate exactly; ONE double
    * division at the end.
    *
    * Scale shape: one fact pass to the value-bin grid, two
    * grid-sized cumulative windows, a 1-row aggregate.
    */
  def emdDrift(s: SparkSession, dir: String): DataFrame = {
    val BinCents = 1000000L // $10k bins
    val d0 = DecimalType(38, 0)
    // the [[StatOps]] experiment-clock device: the pivot is the
    // midpoint of the order-date span, derived relationally (a 1-row
    // min/max broadcast) so the split never depends on a calendar
    // constant the testdata may not straddle
    val pivot = Tables.t(s, dir, "orders")
      .agg(min(col("o_orderdate")).as("d0"), max(col("o_orderdate")).as("d1"))
      .select(date_add(col("d0"),
        (datediff(col("d1"), col("d0")) / 2).cast(IntegerType)).as("pivot"))
    val bins = Tables.t(s, dir, "orders")
      .crossJoin(broadcast(pivot))
      .select(expr(s"CAST(round(o_totalprice * 100) AS BIGINT) DIV $BinCents")
        .as("bin"),
        (col("o_orderdate") < col("pivot")).as("early"))
      .groupBy(col("bin"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("nb"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.orderBy(col("bin"))
    val tot = bins.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    val terms = bins
      .withColumn("ca", sum(col("na")).over(wCum))
      .withColumn("cb", sum(col("nb")).over(wCum))
      .withColumn("gap",
        coalesce(lead(col("bin"), 1).over(wLead) - col("bin"), lit(0L)))
      .crossJoin(broadcast(tot))
      // cross-multiply in DECIMAL(38,0): cum·total can pass 2⁶³ long
      // before the subtraction at large row counts
      .select(col("n_a"), col("n_b"),
        (abs(col("ca").cast(d0) * col("n_b").cast(d0) -
          col("cb").cast(d0) * col("n_a").cast(d0)) *
          col("gap").cast(d0)).as("term"))
    terms.groupBy(col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_bins"), sum(col("term")).as("num"))
      .select(col("n_a"), col("n_b"), col("n_bins"),
        round(col("num").cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType), 6).as("emd_bins"),
        round(col("num").cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType) * lit(10000.0), 6)
          .as("emd_dollars"))
  }

  val emdDriftOracle: String =
    """WITH pv AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE)
      |    + CAST((CAST(MAX(o_orderdate) AS DATE)
      |      - CAST(MIN(o_orderdate) AS DATE)) // 2 AS INTEGER) AS cutoff
      |  FROM orders),
      |bins AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 1000000 AS bin,
      |    SUM(CASE WHEN CAST(o_orderdate AS DATE) < pv.cutoff
      |      THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN CAST(o_orderdate AS DATE) < pv.cutoff
      |      THEN 0 ELSE 1 END) AS nb
      |  FROM orders CROSS JOIN pv GROUP BY 1),
      |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a,
      |    CAST(SUM(nb) AS BIGINT) AS n_b FROM bins),
      |terms AS (
      |  SELECT t.n_a, t.n_b,
      |    abs(CAST(SUM(na) OVER w AS DECIMAL(38,0))
      |        * CAST(t.n_b AS DECIMAL(38,0))
      |      - CAST(SUM(nb) OVER w AS DECIMAL(38,0))
      |        * CAST(t.n_a AS DECIMAL(38,0)))
      |      * CAST(COALESCE(lead(bin, 1) OVER (ORDER BY bin) - bin, 0)
      |        AS DECIMAL(38,0)) AS term
      |  FROM bins CROSS JOIN tot t
      |  WINDOW w AS (ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT n_a, n_b, COUNT(*) AS n_bins,
      |  round(CAST(SUM(term) AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6)
      |    AS emd_bins,
      |  round(CAST(SUM(term) AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
      |    * 10000.0, 6) AS emd_dollars
      |FROM terms GROUP BY n_a, n_b""".stripMargin

  /** Herfindahl–Hirschman market concentration per region — the
    * antitrust-desk summary ("is this market competitive?") that
    * completes the inequality family (`ops_gini`/`ops_lorenz`/
    * `ops_theil_index`) with its square-of-shares form: HHI =
    * Σᵢsᵢ² over supplier revenue shares, the normalized
    * HHI* = (n·HHI − 1)/(n − 1), and the effective number of firms
    * 1/HHI. Supplier revenues are exact cent sums; HHI =
    * Σrᵢ²/(Σrᵢ)² keeps both Σ as DECIMAL(38,0) integers (rᵢ² can
    * pass 2⁶³) and crosses to double ONCE per output column; the
    * normalized form multiplies through by n before any division so
    * the comparison algebra stays integer too.
    *
    * Scale shape: one fact pass to the (region × supplier) grid
    * (broadcast dim joins for nation→region), one hash aggregate to
    * the 5-row region grid.
    */
  def hhiConcentration(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val rev = Tables.t(s, dir, "lineitem")
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast(LongType).as("cents"))
      .join(Tables.t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.t(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("s_suppkey"))
      .agg(sum(col("cents").cast(d0)).as("r"))
    rev.groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("s"), sum(col("r") * col("r")).as("q"))
      .filter(col("n_suppliers") > 1)
      .select(col("r_name").as("region"), col("n_suppliers"),
        col("s").cast(LongType).as("rev_cents"),
        round(col("q").cast(DoubleType) /
          (col("s") * col("s")).cast(DoubleType), 6).as("hhi"),
        round((col("n_suppliers") * col("q") - col("s") * col("s"))
          .cast(DoubleType) /
          ((col("s") * col("s")).cast(DoubleType) *
            (col("n_suppliers") - 1).cast(DoubleType)), 6).as("hhi_norm"),
        round((col("s") * col("s")).cast(DoubleType) /
          col("q").cast(DoubleType), 6).as("effective_firms"))
      .orderBy(col("region"))
  }

  val hhiConcentrationOracle: String =
    """WITH rev AS (
      |  SELECT r.r_name, l.l_suppkey,
      |    SUM(CAST(CAST(round(l.l_extendedprice * (1.0 - l.l_discount)
      |      * 100) AS BIGINT) AS DECIMAL(38,0))) AS rv
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT r_name, COUNT(*) AS n_suppliers,
      |    SUM(rv) AS s, SUM(rv * rv) AS q
      |  FROM rev GROUP BY 1)
      |SELECT r_name AS region, n_suppliers,
      |  CAST(s AS BIGINT) AS rev_cents,
      |  round(CAST(q AS DOUBLE) / CAST(s * s AS DOUBLE), 6) AS hhi,
      |  round(CAST(n_suppliers * q - s * s AS DOUBLE)
      |    / (CAST(s * s AS DOUBLE) * CAST(n_suppliers - 1 AS DOUBLE)), 6)
      |    AS hhi_norm,
      |  round(CAST(s * s AS DOUBLE) / CAST(q AS DOUBLE), 6) + 0.0
      |    AS effective_firms
      |FROM g WHERE n_suppliers > 1 ORDER BY region""".stripMargin

  /** Hill tail-index estimator (Hill 1975) of the order-value
    * distribution — the "how heavy is the tail, really" number
    * behind p99 capacity planning, beside `ops_outlier_bounds`'
    * fences: for each tail depth k, α̂(k) = k / Σ_{i≤k}
    * ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k largest values — reading the
    * small-k/large-k disagreement off the Hill plot IS the
    * diagnostic, so the gate emits the curve at k ∈ {25,50,100,200}.
    * One global top-201 rank filter (WindowGroupLimit — never a full
    * sort), then every k row is algebra over that literal-bounded
    * relation: each ln ratio is one double on exact cent integers,
    * Σ rides DECIMAL(38,12).
    *
    * Scale shape: the rank filter is a per-partition top-201 merge;
    * everything after is ≤201 rows crossed with a 4-row literal k
    * grid.
    */
  def hillTail(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val Ks = Seq(25, 50, 100, 200)
    val top = Tables.t(s, dir, "orders")
      .select(round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cents").desc)))
      .filter(col("rn") <= Ks.max + 1)
    val kGrid = s.range(1).select(explode(lit(Ks.toArray)).as("k0"))
      .select(col("k0").cast(LongType).as("k"))
    val xk1 = top.join(broadcast(kGrid), col("rn") === col("k") + 1)
      .select(col("k"), col("cents").as("xk1"))
    top.join(broadcast(xk1), col("rn") <= col("k"))
      .groupBy(col("k"), col("xk1"))
      .agg(sum(log(col("cents").cast(DoubleType) /
        col("xk1").cast(DoubleType)).cast(d12)).cast(DoubleType).as("lnsum"))
      .filter(col("lnsum") > 0)
      .select(col("k"),
        round(col("xk1").cast(DoubleType) / 100.0, 6).as("threshold"),
        round(col("k").cast(DoubleType) / col("lnsum"), 6).as("hill_alpha"),
        round(col("lnsum") / col("k").cast(DoubleType), 6).as("tail_index"))
      .orderBy(col("k"))
  }

  val hillTailOracle: String =
    """WITH top AS (
      |  SELECT cents, rn FROM (
      |    SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |      row_number() OVER (ORDER BY CAST(round(o_totalprice * 100)
      |        AS BIGINT) DESC) AS rn
      |    FROM orders)
      |  WHERE rn <= 201),
      |kg AS (SELECT unnest([25, 50, 100, 200]) AS k),
      |xk1 AS (
      |  SELECT kg.k, t.cents AS xk1
      |  FROM top t JOIN kg ON t.rn = kg.k + 1),
      |agg AS (
      |  SELECT x.k, x.xk1,
      |    CAST(SUM(CAST(ln(CAST(t.cents AS DOUBLE) / CAST(x.xk1 AS DOUBLE))
      |      AS DECIMAL(38,12))) AS DOUBLE) AS lnsum
      |  FROM top t JOIN xk1 x ON t.rn <= x.k
      |  GROUP BY 1, 2)
      |SELECT CAST(k AS BIGINT) AS k,
      |  round(CAST(xk1 AS DOUBLE) / 100.0, 6) AS threshold,
      |  round(CAST(k AS DOUBLE) / lnsum, 6) AS hill_alpha,
      |  round(lnsum / CAST(k AS DOUBLE), 6) AS tail_index
      |FROM agg WHERE lnsum > 0 ORDER BY k""".stripMargin

  /** Page's trend test for ordered alternatives (Page 1963) — the
    * directional sharpening of [[friedmanTest]]: not "do the
    * priorities differ" but "does revenue rank INCREASE along the
    * priority order 1-URGENT → 5-LOW"? Same complete-block
    * (month × priority) rank construction; L = Σⱼ j·Rⱼ with j the
    * hypothesized position (the priority's leading digit — a
    * deterministic integer both engines parse identically);
    * z = 3·(2L₂ − b·k·(k+1)²) / (k(k+1)·√(b(k−1))) with the doubled
    * rank carry L₂ = 2L keeping everything integer until the one
    * √/division crossing.
    *
    * Scale shape: identical to [[friedmanTest]] — one fact hash
    * aggregate to the calendar-sized grid, grid windows, k-row
    * algebra.
    */
  def pageTrend(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.t(s, dir, "orders")
      .select(date_trunc("month", col("o_orderdate").cast(TimestampType))
        .cast(DateType).as("block"),
        col("o_orderpriority").as("trt"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy(col("block"), col("trt"))
      .agg(sum(col("cents").cast(DecimalType(38, 0))).as("obs"))
    val kTot = cells.select(col("trt")).distinct()
      .agg(count(lit(1)).as("k"))
    val full = cells
      .withColumn("n_trt", count(lit(1))
        .over(Window.partitionBy(col("block"))))
      .crossJoin(broadcast(kTot))
      .filter(col("n_trt") === col("k"))
    val r2 = (lit(2) * rank().over(
      Window.partitionBy(col("block")).orderBy(col("obs")))
      + count(lit(1)).over(Window.partitionBy(col("block"), col("obs"))) - 1)
      .cast(LongType)
    val ranked = full
      .withColumn("r2", r2)
      .withColumn("j", substring(col("trt"), 1, 1).cast(LongType))
    val byTrt = ranked.groupBy(col("trt"), col("j"), col("k"))
      .agg(count(lit(1)).as("b"), sum(col("r2")).as("rs2"))
    val stat = byTrt.groupBy(col("k"), col("b"))
      .agg(sum(col("j") * col("rs2")).as("l2"))
      .select(col("k"), col("b"), col("l2"),
        (lit(3.0) * (lit(2) * col("l2") -
          col("b") * col("k") * (col("k") + 1) * (col("k") + 1))
          .cast(DoubleType) /
          ((col("k") * (col("k") + 1)).cast(DoubleType) *
            sqrt((col("b") * (col("k") - 1)).cast(DoubleType)))).as("z"))
    byTrt.join(stat, Seq("k", "b"))
      .select(col("trt").as("priority"), col("j").as("hyp_order"),
        col("b").as("n_blocks"),
        round(col("rs2").cast(DoubleType) /
          (lit(2.0) * col("b").cast(DoubleType)), 6).as("mean_rank"),
        col("l2").as("page_l2"),
        round(col("z"), 6).as("z_score"))
      .orderBy(col("priority"))
  }

  val pageTrendOracle: String =
    """WITH cells AS (
      |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
      |      AS DATE) AS block,
      |    o_orderpriority AS trt,
      |    SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |      AS DECIMAL(38,0))) AS obs
      |  FROM orders GROUP BY 1, 2),
      |kt AS (SELECT COUNT(DISTINCT trt) AS k FROM cells),
      |full_blocks AS (
      |  SELECT c.*, kt.k FROM cells c CROSS JOIN kt
      |  QUALIFY COUNT(*) OVER (PARTITION BY c.block) = kt.k),
      |ranked AS (
      |  SELECT *,
      |    CAST(2 * rank() OVER (PARTITION BY block ORDER BY obs)
      |      + COUNT(*) OVER (PARTITION BY block, obs) - 1 AS BIGINT) AS r2,
      |    CAST(substr(trt, 1, 1) AS BIGINT) AS j
      |  FROM full_blocks),
      |by_trt AS (
      |  SELECT trt, j, k, COUNT(*) AS b, CAST(SUM(r2) AS BIGINT) AS rs2
      |  FROM ranked GROUP BY 1, 2, 3),
      |stat AS (
      |  SELECT k, b, CAST(SUM(j * rs2) AS BIGINT) AS l2
      |  FROM by_trt GROUP BY 1, 2)
      |SELECT t.trt AS priority, t.j AS hyp_order, t.b AS n_blocks,
      |  round(CAST(t.rs2 AS DOUBLE) / (2.0 * CAST(t.b AS DOUBLE)), 6)
      |    AS mean_rank,
      |  s.l2 AS page_l2,
      |  round(3.0 * CAST(2 * s.l2 - t.b * t.k * (t.k + 1) * (t.k + 1)
      |      AS DOUBLE)
      |    / (CAST(t.k * (t.k + 1) AS DOUBLE)
      |      * sqrt(CAST(t.b * (t.k - 1) AS DOUBLE))), 6) + 0.0 AS z_score
      |FROM by_trt t JOIN stat s USING (k, b)
      |ORDER BY priority""".stripMargin

  /** Cohen's d / Hedges' g standardized mean difference of event
    * value between the experiment arms, per event type — the
    * PARAMETRIC effect size beside [[cliffsDelta]]'s ordinal one
    * (and the size companion to `ops_ttest_welch`, exactly as δ
    * companions `ops_mannwhitney`): d = (x̄_A − x̄_B)/s_pooled with
    * the Hedges 1981 small-sample correction g = d·(1 − 3/(4N−9)).
    * Values carry as exact integer cents; n, Σx, Σx² aggregate
    * exactly (DECIMAL(38,0)); means, the pooled variance
    * ((n_A−1)s²_A + (n_B−1)s²_B)/(N−2) via the Σx²−(Σx)²/n identity,
    * and the one √ crossing are a fixed double expression written
    * identically in both engines.
    *
    * Scale shape: one map-combined fact aggregate to the
    * (type × arm) grid; all algebra on 5 rows.
    */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type").as("t"),
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        round(col("value") * 100).cast(LongType).as("cents"))
    val g = ev.groupBy(col("t"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === "A", col("cents").cast(d0))).as("sa"),
        sum(when(col("arm") === "B", col("cents").cast(d0))).as("sb"),
        sum(when(col("arm") === "A",
          (col("cents") * col("cents")).cast(d0))).as("qa"),
        sum(when(col("arm") === "B",
          (col("cents") * col("cents")).cast(d0))).as("qb"))
    val ma = col("sa").cast(DoubleType) / col("n_a").cast(DoubleType)
    val mb = col("sb").cast(DoubleType) / col("n_b").cast(DoubleType)
    val ssA = col("qa").cast(DoubleType) -
      col("sa").cast(DoubleType) * col("sa").cast(DoubleType) /
        col("n_a").cast(DoubleType)
    val ssB = col("qb").cast(DoubleType) -
      col("sb").cast(DoubleType) * col("sb").cast(DoubleType) /
        col("n_b").cast(DoubleType)
    val sp = sqrt((ssA + ssB) /
      (col("n_a") + col("n_b") - 2).cast(DoubleType))
    val dStat = (ma - mb) / sp
    val corr = lit(1.0) - lit(3.0) /
      (lit(4.0) * (col("n_a") + col("n_b")).cast(DoubleType) - lit(9.0))
    g.filter(col("n_a") > 1 && col("n_b") > 1)
      .select(col("t").as("event_type"), col("n_a"), col("n_b"),
        round((ma - mb) / 100.0, 6).as("mean_diff"),
        round(sp / 100.0, 6).as("pooled_sd"),
        round(dStat, 6).as("cohens_d"),
        round(dStat * corr, 6).as("hedges_g"))
      .orderBy(col("event_type"))
  }

  val cohensDOracle: String = {
    val ma = "CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)"
    val mb = "CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)"
    val ssA = "CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)"
    val ssB = "CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)"
    val sp = s"sqrt((($ssA) + ($ssB)) / CAST(n_a + n_b - 2 AS DOUBLE))"
    s"""WITH ev AS (
       |  SELECT event_type AS t,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(round("value" * 100) AS BIGINT) AS cents
       |  FROM events),
       |g AS (
       |  SELECT t,
       |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    SUM(CASE WHEN arm = 'A' THEN CAST(cents AS DECIMAL(38,0)) END)
       |      AS sa,
       |    SUM(CASE WHEN arm = 'B' THEN CAST(cents AS DECIMAL(38,0)) END)
       |      AS sb,
       |    SUM(CASE WHEN arm = 'A'
       |      THEN CAST(cents * cents AS DECIMAL(38,0)) END) AS qa,
       |    SUM(CASE WHEN arm = 'B'
       |      THEN CAST(cents * cents AS DECIMAL(38,0)) END) AS qb
       |  FROM ev GROUP BY 1)
       |SELECT t AS event_type, n_a, n_b,
       |  round((($ma) - ($mb)) / 100.0, 6) + 0.0 AS mean_diff,
       |  round(($sp) / 100.0, 6) AS pooled_sd,
       |  round((($ma) - ($mb)) / ($sp), 6) + 0.0 AS cohens_d,
       |  round((($ma) - ($mb)) / ($sp)
       |    * (1.0 - 3.0 / (4.0 * CAST(n_a + n_b AS DOUBLE) - 9.0)), 6)
       |    + 0.0 AS hedges_g
       |FROM g WHERE n_a > 1 AND n_b > 1 ORDER BY event_type""".stripMargin
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack 1984) on
    * monthly order revenue — the deseasonalized complement to
    * `st_trend_mk`: January compares only against other Januaries,
    * so an annual cycle can never masquerade as (or mask) a trend.
    * Per calendar-month season g: S_g = Σ_{y<y'} sign(x_{gy'} −
    * x_{gy}) over exact cent totals, the tie-corrected variance in
    * 18ths kept INTEGER (18·Var = n(n−1)(2n+5) − Σt(t−1)(2t+5));
    * the overall Z uses the standard continuity correction
    * (S∓1)/√Var, the one double crossing.
    *
    * Scale shape: one fact hash aggregate to the (season × year)
    * grid, one year²-sized pair join per season (grid-bounded,
    * never fact-sized), 12-row algebra.
    */
  def seasonalMk(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val grid = Tables.t(s, dir, "orders")
      .select(month(col("o_orderdate")).cast(LongType).as("g"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy(col("g"), col("y"))
      .agg(sum(col("cents").cast(d0)).cast(LongType).as("rev"))
    val a = grid.select(col("g").as("ga"), col("y").as("y1"),
      col("rev").as("r1"))
    val b = grid.select(col("g").as("gb"), col("y").as("y2"),
      col("rev").as("r2"))
    val sg = a.join(b, col("ga") === col("gb") && col("y1") < col("y2"))
      .groupBy(col("ga").as("g"))
      .agg(sum(signum((col("r2") - col("r1")).cast(DoubleType))
        .cast(LongType)).as("s_g"))
    val ties = grid.groupBy(col("g"), col("rev"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nv"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tcorr"))
    val perG = grid.groupBy(col("g")).agg(count(lit(1)).as("n_years"))
      .join(sg, "g").join(ties, "g")
      .withColumn("var18",
        col("n_years") * (col("n_years") - 1) * (col("n_years") * 2 + 5) -
          col("tcorr"))
    val tot = perG.agg(sum(col("s_g")).as("s_tot"),
      sum(col("var18")).as("v18_tot"))
      .select(col("s_tot"), col("v18_tot"),
        round(when(col("s_tot") > 0,
          (col("s_tot") - 1).cast(DoubleType) /
            sqrt(col("v18_tot").cast(DoubleType) / lit(18.0)))
          .when(col("s_tot") < 0,
            (col("s_tot") + 1).cast(DoubleType) /
              sqrt(col("v18_tot").cast(DoubleType) / lit(18.0)))
          .otherwise(lit(0.0)), 6).as("z_total"))
    perG.crossJoin(broadcast(tot))
      .select(col("g").as("season_month"), col("n_years"), col("s_g"),
        col("var18").as("var_x18"), col("s_tot"),
        round(col("z_total"), 6).as("z_total"))
      .orderBy(col("season_month"))
  }

  val seasonalMkOracle: String =
    """WITH grid AS (
      |  SELECT CAST(month(o_orderdate) AS BIGINT) AS g,
      |    CAST(year(o_orderdate) AS BIGINT) AS y,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |sg AS (
      |  SELECT a.g,
      |    CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
      |      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_g
      |  FROM grid a JOIN grid b ON a.g = b.g AND a.y < b.y
      |  GROUP BY 1),
      |ties AS (
      |  SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr
      |  FROM (SELECT g, rev, COUNT(*) AS t FROM grid GROUP BY 1, 2)
      |  GROUP BY 1),
      |per_g AS (
      |  SELECT n.g, n.n_years, sg.s_g,
      |    n.n_years * (n.n_years - 1) * (2 * n.n_years + 5) - ties.tcorr
      |      AS var18
      |  FROM (SELECT g, COUNT(*) AS n_years FROM grid GROUP BY 1) n
      |  JOIN sg USING (g) JOIN ties USING (g)),
      |tot AS (
      |  SELECT CAST(SUM(s_g) AS BIGINT) AS s_tot,
      |    CAST(SUM(var18) AS BIGINT) AS v18_tot
      |  FROM per_g)
      |SELECT p.g AS season_month, p.n_years, p.s_g,
      |  CAST(p.var18 AS BIGINT) AS var_x18, t.s_tot,
      |  round(CASE WHEN t.s_tot > 0
      |      THEN CAST(t.s_tot - 1 AS DOUBLE)
      |        / sqrt(CAST(t.v18_tot AS DOUBLE) / 18.0)
      |    WHEN t.s_tot < 0
      |      THEN CAST(t.s_tot + 1 AS DOUBLE)
      |        / sqrt(CAST(t.v18_tot AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 6) + 0.0 AS z_total
      |FROM per_g p CROSS JOIN tot t
      |ORDER BY season_month""".stripMargin

  /** One-way ANOVA F (Fisher 1925) of order value across the five
    * market segments — the parametric mean-comparison that completes
    * the inference ladder this file and [[StatOps]] build:
    * `ops_ttest_welch` (2 groups), `ops_kruskal_wallis` (ranks),
    * [[brownForsythe]] (the variance pre-check THIS test assumes),
    * now the k-group F itself, with the effect sizes η² and the
    * less-biased ω². Same exact-moment discipline as [[cohensD]]:
    * n/Σx/Σx² per group in DECIMAL(38,0), SSB/SSW via the
    * Σx²−(Σx)²/n identity with per-group double terms Σ-dec12, every
    * output one fixed double expression.
    *
    * Scale shape: one map-combined fact aggregate to the 5-row
    * (segment) moment grid; all algebra after is 5-row.
    */
  def anovaF(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val g = segMoments(s, dir)
    val between = col("s").cast(DoubleType) * col("s").cast(DoubleType) /
      col("n").cast(DoubleType)
    val within = col("q").cast(DoubleType) - between
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(col("s")).as("s_tot"),
      sum(between.cast(d12)).cast(DoubleType).as("b_raw"),
      sum(within.cast(d12)).cast(DoubleType).as("ssw"))
    val ssb = col("b_raw") -
      col("s_tot").cast(DoubleType) * col("s_tot").cast(DoubleType) /
        col("n_tot").cast(DoubleType)
    val msw = col("ssw") / (col("n_tot") - col("k")).cast(DoubleType)
    val f = ssb / (col("k") - 1).cast(DoubleType) / msw
    val eta2 = ssb / (ssb + col("ssw"))
    val omega2 = (ssb - (col("k") - 1).cast(DoubleType) * msw) /
      (ssb + col("ssw") + msw)
    g.crossJoin(broadcast(tot.filter(col("ssw") > 0)))
      .select(col("seg").as("segment"), col("n"),
        round(col("s").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(100.0)), 6).as("mean_price"),
        round(f, 6).as("f_stat"),
        (col("k") - 1).as("df1"), (col("n_tot") - col("k")).as("df2"),
        round(eta2, 6).as("eta2"),
        round(omega2, 6).as("omega2"))
      .orderBy(col("segment"))
  }

  val anovaFOracle: String = {
    val between = "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    val ssb = "t.b_raw - CAST(t.s_tot AS DOUBLE) * CAST(t.s_tot AS DOUBLE) / CAST(t.n_tot AS DOUBLE)"
    val msw = "t.ssw / CAST(t.n_tot - t.k AS DOUBLE)"
    s"""WITH ord AS (
       |  SELECT c.c_mktsegment AS seg,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |g AS (
       |  SELECT seg, COUNT(*) AS n,
       |    SUM(CAST(cents AS DECIMAL(38,0))) AS s,
       |    SUM(CAST(cents * cents AS DECIMAL(38,0))) AS q
       |  FROM ord GROUP BY 1),
       |tot AS (
       |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
       |    SUM(s) AS s_tot,
       |    CAST(SUM(CAST($between AS DECIMAL(38,12))) AS DOUBLE) AS b_raw,
       |    CAST(SUM(CAST(CAST(q AS DOUBLE) - $between AS DECIMAL(38,12)))
       |      AS DOUBLE) AS ssw
       |  FROM g)
       |SELECT g.seg AS segment, g.n,
       |  round(CAST(g.s AS DOUBLE) / (CAST(g.n AS DOUBLE) * 100.0), 6)
       |    AS mean_price,
       |  round(($ssb) / CAST(t.k - 1 AS DOUBLE) / ($msw), 6) + 0.0
       |    AS f_stat,
       |  t.k - 1 AS df1, t.n_tot - t.k AS df2,
       |  round(($ssb) / (($ssb) + t.ssw), 6) + 0.0 AS eta2,
       |  round((($ssb) - CAST(t.k - 1 AS DOUBLE) * ($msw))
       |    / (($ssb) + t.ssw + ($msw)), 6) + 0.0 AS omega2
       |FROM g CROSS JOIN tot t
       |WHERE t.ssw > 0
       |ORDER BY segment""".stripMargin
  }

  /** Odds ratio / relative risk with the Wald CI (Woolf 1955 SE) —
    * the 2×2 epidemiology readout beside `ops_ab_lift`'s z and
    * `ops_cmh_test`'s STRATIFIED odds ratio: exposure = experiment
    * arm, outcome = the user ever converts (the `ops_sprt_ab`
    * qualifying-purchase definition). The four cells are exact
    * integers; OR = ad/bc crosses once; ln OR, the Woolf SE
    * √(1/a+1/b+1/c+1/d), and the 95% bounds exp(ln OR ± 1.96·SE)
    * are fixed double expressions. Degenerate tables (any empty
    * cell) are excluded relationally on both engines.
    *
    * Scale shape: one fact hash aggregate to users, one 1-row
    * four-cell aggregate — nothing after the user grain.
    */
  def oddsRatio(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
        .otherwise(0L)).as("conv"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("conv"))
    val cells = users.agg(
      sum(when(col("arm") === "A" && col("conv") === 1, 1L).otherwise(0L))
        .as("a"),
      sum(when(col("arm") === "A" && col("conv") === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("arm") === "B" && col("conv") === 1, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("arm") === "B" && col("conv") === 0, 1L).otherwise(0L))
        .as("d"))
      .filter(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0)
    val or = (col("a") * col("d")).cast(DoubleType) /
      (col("b") * col("c")).cast(DoubleType)
    val se = sqrt(lit(1.0) / col("a").cast(DoubleType) +
      lit(1.0) / col("b").cast(DoubleType) +
      lit(1.0) / col("c").cast(DoubleType) +
      lit(1.0) / col("d").cast(DoubleType))
    val rr = (col("a").cast(DoubleType) /
      (col("a") + col("b")).cast(DoubleType)) /
      (col("c").cast(DoubleType) / (col("c") + col("d")).cast(DoubleType))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      round(or, 6).as("odds_ratio"),
      round(log(or), 6).as("log_or"),
      round(se, 6).as("woolf_se"),
      round(exp(log(or) - lit(1.96) * se), 6).as("ci95_lo"),
      round(exp(log(or) + lit(1.96) * se), 6).as("ci95_hi"),
      round(rr, 6).as("risk_ratio"))
  }

  val oddsRatioOracle: String = {
    val or = "CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)"
    val se = "sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE) + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))"
    s"""WITH users AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    MAX(CASE WHEN event_type = 'purchase'
       |      AND TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER)
       |        >= 95
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 'A' AND conv = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS a,
       |    CAST(SUM(CASE WHEN arm = 'A' AND conv = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN arm = 'B' AND conv = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN arm = 'B' AND conv = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS d
       |  FROM users)
       |SELECT a, b, c, d,
       |  round($or, 6) AS odds_ratio,
       |  round(ln($or), 6) + 0.0 AS log_or,
       |  round($se, 6) AS woolf_se,
       |  round(exp(ln($or) - 1.96 * $se), 6) AS ci95_lo,
       |  round(exp(ln($or) + 1.96 * $se), 6) AS ci95_hi,
       |  round((CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
       |    / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)), 6) AS risk_ratio
       |FROM cells WHERE a > 0 AND b > 0 AND c > 0 AND d > 0""".stripMargin
  }

  /** Tukey–Kramer HSD post-hoc (Tukey 1949; Kramer 1956 unequal-n
    * form) over the five market segments — the pairwise follow-up
    * [[anovaF]]'s omnibus F licenses: for every segment pair, the
    * studentized-range statistic q = |x̄_a − x̄_b| /
    * √(MSW/2 · (1/n_a + 1/n_b)). Reuses [[anovaF]]'s exact-moment
    * grid verbatim (cent moments DECIMAL(38,0), SSW via the
    * Σx²−(Σx)²/n identity with per-group double terms Σ-dec12); every
    * output is one fixed double expression over those exact moments.
    *
    * Scale shape: one map-combined fact aggregate to the 5-row
    * segment grid; the pair join is the grid against itself (≤ k²
    * rows for a CATEGORICAL k — never data-sized) and the 1-row MSW
    * total broadcasts onto it. The [[anovaF]] second fact pass is the
    * price of the self-contained oracle; a production run derives
    * both from one cached grid.
    */
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val g = segMoments(s, dir)
    val between = col("s").cast(DoubleType) * col("s").cast(DoubleType) /
      col("n").cast(DoubleType)
    val within = col("q").cast(DoubleType) - between
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(within.cast(d12)).cast(DoubleType).as("ssw"))
      .filter(col("ssw") > 0)
      .select((col("ssw") / (col("n_tot") - col("k")).cast(DoubleType))
        .as("msw0"), (col("n_tot") - col("k")).as("df_w"))
    val gi = g.select(col("seg").as("seg_a"), col("n").as("n_a"),
      col("s").as("s_a"))
    val gj = g.select(col("seg").as("seg_b"), col("n").as("n_b"),
      col("s").as("s_b"))
    val meanA = col("s_a").cast(DoubleType) /
      (col("n_a").cast(DoubleType) * lit(100.0))
    val meanB = col("s_b").cast(DoubleType) /
      (col("n_b").cast(DoubleType) * lit(100.0))
    // MSW is in cents²: the SE crosses back to dollars via /100, the
    // same unit discipline as the means
    val se = sqrt(col("msw0") / lit(2.0) *
      (lit(1.0) / col("n_a").cast(DoubleType) +
        lit(1.0) / col("n_b").cast(DoubleType))) / lit(100.0)
    gi.join(broadcast(gj), col("seg_a") < col("seg_b"))
      .crossJoin(broadcast(tot))
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        round(meanA, 6).as("mean_a"), round(meanB, 6).as("mean_b"),
        round(meanA - meanB, 6).as("mean_diff"),
        round(se, 6).as("se_kramer"),
        round(abs(meanA - meanB) / se, 6).as("q_stat"),
        col("df_w"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  val tukeyHsdOracle: String = {
    val meanA = "CAST(a.s AS DOUBLE) / (CAST(a.n AS DOUBLE) * 100.0)"
    val meanB = "CAST(b.s AS DOUBLE) / (CAST(b.n AS DOUBLE) * 100.0)"
    val se = "sqrt(m.msw0 / 2.0 * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))) / 100.0"
    s"""WITH ord AS (
       |  SELECT c.c_mktsegment AS seg,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |g AS (
       |  SELECT seg, COUNT(*) AS n,
       |    SUM(CAST(cents AS DECIMAL(38,0))) AS s,
       |    SUM(CAST(cents * cents AS DECIMAL(38,0))) AS q
       |  FROM ord GROUP BY 1),
       |tot AS (
       |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
       |    CAST(SUM(CAST(CAST(q AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS ssw
       |  FROM g),
       |m AS (
       |  SELECT ssw / CAST(n_tot - k AS DOUBLE) AS msw0,
       |    n_tot - k AS df_w
       |  FROM tot WHERE ssw > 0)
       |SELECT a.seg AS seg_a, b.seg AS seg_b,
       |  a.n AS n_a, b.n AS n_b,
       |  round($meanA, 6) AS mean_a,
       |  round($meanB, 6) AS mean_b,
       |  round($meanA - $meanB, 6) + 0.0 AS mean_diff,
       |  round($se, 6) AS se_kramer,
       |  round(abs($meanA - $meanB) / ($se), 6) AS q_stat,
       |  CAST(m.df_w AS BIGINT) AS df_w
       |FROM g a JOIN g b ON a.seg < b.seg CROSS JOIN m
       |ORDER BY seg_a, seg_b""".stripMargin
  }

  /** Dunn's test (Dunn 1964) with the tie correction — the pairwise
    * rank post-hoc that `ops_kruskal_wallis`'s omnibus H licenses,
    * the nonparametric sibling of [[tukeyHsd]]: for every event-type
    * pair, z = (r̄_a − r̄_b) / √((N(N+1)/12 − Σ(t³−t)/(12(N−1))) ·
    * (1/n_a + 1/n_b)) on the GLOBAL midranks (not per-pair reranks —
    * that is what distinguishes Dunn from pairwise Mann–Whitney).
    * Midranks carry the KW doubled-integer device (2r̄ stays exact);
    * the Bonferroni m = k(k−1)/2 and the logistic p approximation
    * (the `ops_fdr_bh` device, 2/(1+e^{1.702|z|})) decide `rejected`
    * relationally on both engines.
    *
    * Scale shape: the [[StatOps.pooledRankSums]] block shared with
    * `ops_kruskal_wallis`, then the k-row type grid joined against
    * itself (k² rows, categorical k) with the 1-row N/tie totals
    * broadcast on. Bit-identical (DistRankSpec).
    */
  def dunnTest(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val (g0, ties) = StatOps.pooledRankSums(s, dir)
    // g feeds FOUR consumers (tot, the probe side, the broadcast build,
    // and through them the final select) — each reference would
    // re-execute the rank-sum lineage as its own query stage; pinned
    // per the structurally-different-repeats rule (Checkpoint.pin
    // scaladoc). It is |groups|-sized.
    val g = graft.plans.Checkpoint.pin(g0)
    val tot = g.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"))
    val gi = g.select(col("grp").as("grp_a"), col("n").as("n_a"),
      col("s2").as("s2_a"))
    val gj = g.select(col("grp").as("grp_b"), col("n").as("n_b"),
      col("s2").as("s2_b"))
    val mrA = col("s2_a").cast(DoubleType) /
      (lit(2.0) * col("n_a").cast(DoubleType))
    val mrB = col("s2_b").cast(DoubleType) /
      (lit(2.0) * col("n_b").cast(DoubleType))
    val varBase = (col("nn").cast(d0) * (col("nn") + 1)).cast(DoubleType) /
      lit(12.0) -
      col("tie3").cast(DoubleType) / (lit(12.0) * (col("nn") - 1).cast(DoubleType))
    val z = (mrA - mrB) / sqrt(varBase *
      (lit(1.0) / col("n_a").cast(DoubleType) +
        lit(1.0) / col("n_b").cast(DoubleType)))
    val m = ((col("k") * (col("k") - 1)).cast(DoubleType) / lit(2.0))
      .cast(LongType)
    val p = lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(z)))
    gi.join(broadcast(gj), col("grp_a") < col("grp_b"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(ties))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        round(mrA, 6).as("mean_rank_a"),
        round(mrB, 6).as("mean_rank_b"),
        round(z, 6).as("z_stat"),
        round(p, 6).as("p_approx"),
        m.as("m_pairs"),
        when(p * m.cast(DoubleType) < 0.05, 1).otherwise(0).as("rejected"))
      .orderBy(col("grp_a"), col("grp_b"))
  }

  val dunnTestOracle: String = {
    val mrA = "CAST(a.s2 AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE))"
    val mrB = "CAST(b.s2 AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE))"
    val varBase = "CAST(t.nn * (t.nn + 1) AS DOUBLE) / 12.0 - CAST(t3.tie3 AS DOUBLE) / (12.0 * CAST(t.nn - 1 AS DOUBLE))"
    val z = s"(($mrA) - ($mrB)) / sqrt(($varBase) * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))"
    val p = s"2.0 / (1.0 + exp(1.702 * abs($z)))"
    val m = "CAST(t.k * (t.k - 1) // 2 AS BIGINT)"
    s"""WITH ev AS (
       |  SELECT event_type AS grp,
       |    CAST(round("value" * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |rk AS (
       |  SELECT grp, vm, rank() OVER (ORDER BY vm) AS rmin,
       |    COUNT(*) OVER (PARTITION BY vm) AS tcnt
       |  FROM ev),
       |r2 AS (SELECT grp, 2 * rmin + tcnt - 1 AS r2 FROM rk),
       |g AS (
       |  SELECT grp, COUNT(*) AS n, SUM(CAST(r2 AS DECIMAL(38,0))) AS s2
       |  FROM r2 GROUP BY grp),
       |t3 AS (
       |  SELECT COALESCE(SUM(CAST(t * t * t - t AS DECIMAL(38,0))),
       |    CAST(0 AS DECIMAL(38,0))) AS tie3
       |  FROM (SELECT vm, COUNT(*) AS t FROM ev GROUP BY vm) q),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, COUNT(*) AS k FROM g)
       |SELECT a.grp AS grp_a, b.grp AS grp_b,
       |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
       |  round($mrA, 6) AS mean_rank_a,
       |  round($mrB, 6) AS mean_rank_b,
       |  round($z, 6) + 0.0 AS z_stat,
       |  round($p, 6) AS p_approx,
       |  $m AS m_pairs,
       |  CAST(CASE WHEN ($p) * CAST(t.k * (t.k - 1) // 2 AS DOUBLE) < 0.05
       |    THEN 1 ELSE 0 END AS INT) AS rejected
       |FROM g a JOIN g b ON a.grp < b.grp
       |CROSS JOIN tot t CROSS JOIN t3
       |ORDER BY grp_a, grp_b""".stripMargin
  }

  /** Exact HALF_UP round-6 of the POSITIVE integer rational num/den
    * in pure Long arithmetic, overflow-safe past the [[graft.queries
    * .TextScores]] `r6rat` device's num·10⁶ bound: two-level long
    * division (integer part, then the 6-digit fraction from the
    * remainder, so only rem·2·10⁶ ≤ 2·10⁶·den ever multiplies).
    * Both halves divide via (a − a mod d)/d, exact in double because
    * each quotient is an integer well under 2⁵³.
    */
  private def r6posRat(num: Column, den: Column): Column = {
    val qint = DistRank.idiv(num, den)
    val rem = pmod(num, den)
    val qf = DistRank.idiv(rem * lit(2000000L) + den, den * lit(2L))
    (qint * lit(1000000L) + qf).cast(DoubleType) / lit(1000000.0)
  }

  /** The same two-level exact rounding as SQL text (DuckDB `//`/`%`
    * are the floor pair on the positives this device is scoped to).
    */
  private def r6posRatSql(num: String, den: String): String =
    (s"(CAST((($num) // ($den)) * 1000000 " +
      s"+ ((($num) % ($den)) * 2000000 + ($den)) // (($den) * 2) " +
      "AS DOUBLE) / 1000000.0)")

  /** McNemar's test (1947) of PAIRED conversion change — did the
    * same user's qualifying-purchase behavior (the `ops_odds_ratio`
    * conversion definition) differ between the first and second half
    * of the observation window? The window midpoint is the
    * [[StatOps]] experiment-clock device (1-row min/max epoch-µs
    * aggregate, `(mn+mx) DIV 2` on both engines); only the
    * DISCORDANT cells b (pre-only) and c (post-only) carry
    * information. χ² = (b−c)²/(b+c) and the Edwards
    * continuity-corrected (max(|b−c|−1,0))²/(b+c) are exact integer
    * rationals rounded by the pure-integer HALF_UP device — a
    * power-of-two b+c (the [[graft.queries.TextScores]] `ta_cli_ari`
    * lesson: 1/128 = 0.0078125 sits EXACTLY on a 6-dp half boundary)
    * cannot split the engines.
    *
    * Scale shape: one fact pass to the user grid (map-combined
    * max-flags), one 1-row four-cell aggregate; nothing after the
    * user grain.
    */
  def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("kv"))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .selectExpr("(mn + mx) DIV 2 AS mid")
    val conv = col("event_type") === "purchase" && col("kv") >= 95
    val users = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(max(when(conv && col("us") < col("mid"), 1L).otherwise(0L))
        .as("pre"),
        max(when(conv && col("us") >= col("mid"), 1L).otherwise(0L))
          .as("post"))
    val cells = users.agg(
      sum(when(col("pre") === 1 && col("post") === 1, 1L).otherwise(0L))
        .as("both_conv"),
      sum(when(col("pre") === 1 && col("post") === 0, 1L).otherwise(0L))
        .as("b"),
      sum(when(col("pre") === 0 && col("post") === 1, 1L).otherwise(0L))
        .as("c"),
      sum(when(col("pre") === 0 && col("post") === 0, 1L).otherwise(0L))
        .as("neither_conv"))
      .filter(col("b") + col("c") > 0)
    val dbc = col("b") - col("c")
    val adj = greatest(abs(dbc) - 1, lit(0L))
    cells.select(col("both_conv"), col("b"), col("c"), col("neither_conv"),
      r6posRat(dbc * dbc, col("b") + col("c")).as("chi2"),
      r6posRat(adj * adj, col("b") + col("c")).as("chi2_cc"),
      lit(1L).as("df"))
  }

  val mcnemarOracle: String = {
    val chi2 = r6posRatSql("(b - c) * (b - c)", "b + c")
    val chi2cc = r6posRatSql(
      "greatest(abs(b - c) - 1, 0) * greatest(abs(b - c) - 1, 0)", "b + c")
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us,
       |    TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) AS kv
       |  FROM events),
       |mid AS (
       |  SELECT CAST((MIN(us) + MAX(us)) // 2 AS BIGINT) AS mid FROM ev),
       |users AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase' AND kv >= 95
       |      AND us < m.mid THEN 1 ELSE 0 END) AS pre,
       |    MAX(CASE WHEN event_type = 'purchase' AND kv >= 95
       |      AND us >= m.mid THEN 1 ELSE 0 END) AS post
       |  FROM ev CROSS JOIN mid m GROUP BY user_id),
       |cells AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS both_conv,
       |    CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c,
       |    CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS neither_conv
       |  FROM users)
       |SELECT both_conv, b, c, neither_conv,
       |  $chi2 AS chi2,
       |  $chi2cc AS chi2_cc,
       |  CAST(1 AS BIGINT) AS df
       |FROM cells WHERE b + c > 0""".stripMargin
  }

  /** Cochran's Q (1950) — the k-treatment generalization of
    * [[mcnemar]] on paired BINARY outcomes: did HIGH-VALUE engagement
    * (any event with value ≥ 75 — raw presence is saturated: every
    * user in this corpus has all three types, which degenerates Q's
    * denominator to 0 at every scale) differ across the three funnel
    * stages click / view / purchase per user?
    * Q = (k−1)·Σ_j(k·G_j − T)² /
    * (k·(k·T − ΣL_i²)) with G_j the per-treatment totals, L_i the
    * per-user row sums, T = ΣL — EVERY term an exact integer (the
    * k-scaled numerator Σ(kG−T)² = k(kΣG²−T²) avoids the fractional
    * T/k), and the single division goes through the same pure-integer
    * HALF_UP device as [[mcnemar]]. Q is invariant to all-0/all-1
    * users, so the user grid needs no exclusion rule for the engines
    * to disagree over.
    *
    * Scale shape: one fact pass to the user flag grid (map-combined
    * max-flags), one 1-row aggregate of (G₁,G₂,G₃,T,ΣL²); k is a
    * LITERAL 3 so the whole statistic is a fixed expression on that
    * row.
    */
  def cochranQ(s: SparkSession, dir: String): DataFrame = {
    val hi = col("value") >= 75
    val flags = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click" && hi, 1L).otherwise(0L))
        .as("fc"),
        max(when(col("event_type") === "view" && hi, 1L).otherwise(0L))
          .as("fv"),
        max(when(col("event_type") === "purchase" && hi, 1L).otherwise(0L))
          .as("fp"))
      .withColumn("l", col("fc") + col("fv") + col("fp"))
    val tot = flags.agg(
      count(lit(1)).as("n_users"),
      sum(col("fc")).as("g_click"), sum(col("fv")).as("g_view"),
      sum(col("fp")).as("g_purchase"),
      sum(col("l")).as("t"), sum(col("l") * col("l")).as("sum_l2"))
      .filter(lit(3L) * col("t") - col("sum_l2") > 0)
    def sq(g: Column) = {
      val d = lit(3L) * g - col("t")
      d * d
    }
    val num = lit(2L) *
      (sq(col("g_click")) + sq(col("g_view")) + sq(col("g_purchase")))
    val den = lit(3L) * (lit(3L) * col("t") - col("sum_l2"))
    tot.select(col("n_users"), col("g_click"), col("g_view"),
      col("g_purchase"), col("t"), col("sum_l2"),
      r6posRat(num, den).as("q_stat"), lit(2L).as("df"))
  }

  val cochranQOracle: String = {
    val num = "2 * ((3 * g_click - t) * (3 * g_click - t) + (3 * g_view - t) * (3 * g_view - t) + (3 * g_purchase - t) * (3 * g_purchase - t))"
    val den = "3 * (3 * t - sum_l2)"
    s"""WITH flags AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'click' AND "value" >= 75
       |      THEN 1 ELSE 0 END) AS fc,
       |    MAX(CASE WHEN event_type = 'view' AND "value" >= 75
       |      THEN 1 ELSE 0 END) AS fv,
       |    MAX(CASE WHEN event_type = 'purchase' AND "value" >= 75
       |      THEN 1 ELSE 0 END) AS fp
       |  FROM events GROUP BY user_id),
       |tot AS (
       |  SELECT COUNT(*) AS n_users,
       |    CAST(SUM(fc) AS BIGINT) AS g_click,
       |    CAST(SUM(fv) AS BIGINT) AS g_view,
       |    CAST(SUM(fp) AS BIGINT) AS g_purchase,
       |    CAST(SUM(fc + fv + fp) AS BIGINT) AS t,
       |    CAST(SUM((fc + fv + fp) * (fc + fv + fp)) AS BIGINT) AS sum_l2
       |  FROM flags)
       |SELECT CAST(n_users AS BIGINT) AS n_users,
       |  g_click, g_view, g_purchase, t, sum_l2,
       |  ${r6posRatSql(num, den)} AS q_stat,
       |  CAST(2 AS BIGINT) AS df
       |FROM tot WHERE 3 * t - sum_l2 > 0""".stripMargin
  }

  /** Mood's median test (Mood 1950; Brown & Mood 1951) — the k-group
    * location test that assumes NOTHING about spread or shape (the
    * coarsest, most robust rung under [[anovaF]] and
    * `ops_kruskal_wallis`): classify every order as above / not-above
    * the GRAND median of order value and test the resulting 2×k
    * contingency table. The grand median rides [[Pctl]] on integer
    * cents (an exact half-integer, so the doubled comparison
    * 2·cents > 2·med is pure integer); each χ² cell term uses the
    * cross-multiplied exact form (N·O − R·C)²/(N·R·C) with the
    * numerator squared in DECIMAL(38,0) (the `ops_emd_drift`
    * cross-multiply device — N·O can pass 2⁶³), one double crossing
    * per cell, Σ over the k-row grid through DECIMAL(38,12).
    *
    * Scale shape: one [[Pctl.dist]] histogram grand median (a
    * single-group exact percentile would buffer the WHOLE fact in one
    * aggregation buffer — the worst case of VERDICT r15 #2), one
    * map-combined fact aggregate to the k-row segment grid with the
    * 1-row median broadcast on; all χ² algebra is grid-sized.
    */
  def moodMedian(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val d12 = DecimalType(38, 12)
    // pinned: ord feeds the grand-median histogram AND the
    // segment aggregate — one orders-customer join, not two
    val ord = graft.plans.Checkpoint.pin(segCents(s, dir))
    val med = Pctl.dist(ord, Nil, "cents", Seq("med" -> 0.5))
      .select((col("med") * 2).cast(LongType).as("m2"))
    // pinned: g feeds the per-segment output AND the tot
    // rollup — without the pin, the ord scan + grand-median device would
    // re-execute per reference
    val g = graft.plans.Checkpoint.pin(ord.crossJoin(broadcast(med))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cents") * 2 > col("m2"), 1L).otherwise(0L)).as("hi"))
      .withColumn("lo", col("n") - col("hi")))
    val tot = g.agg(sum(col("n")).as("nn"), sum(col("hi")).as("hi_tot"),
      count(lit(1)).as("k"))
      .filter(col("hi_tot") > 0 && col("hi_tot") < col("nn"))
      .withColumn("lo_tot", col("nn") - col("hi_tot"))
    def term(o: Column, colTot: Column) = {
      val num = col("nn").cast(d0) * o - col("n").cast(d0) * colTot
      (num * num).cast(DoubleType) /
        (col("nn").cast(d0) * col("n") * colTot).cast(DoubleType)
    }
    val j = g.crossJoin(broadcast(tot))
      .withColumn("part",
        term(col("hi"), col("hi_tot")) + term(col("lo"), col("lo_tot")))
      .withColumn("chi2",
        sum(col("part").cast(d12)).over(Window.partitionBy())
          .cast(DoubleType))
    j.select(col("seg").as("segment"), col("n"),
      col("hi").as("n_above"), col("lo").as("n_not_above"),
      round(col("part"), 6).as("chi2_part"),
      round(col("chi2"), 6).as("chi2"),
      (col("k") - 1).as("df"))
      .orderBy(col("segment"))
  }

  val moodMedianOracle: String = {
    def term(o: String, t: String) =
      s"""(CAST((CAST(nn AS DECIMAL(38,0)) * $o
         |  - CAST(n AS DECIMAL(38,0)) * $t)
         |  * (CAST(nn AS DECIMAL(38,0)) * $o
         |  - CAST(n AS DECIMAL(38,0)) * $t) AS DOUBLE)
         |  / CAST(CAST(nn AS DECIMAL(38,0)) * n * $t AS DOUBLE))"""
        .stripMargin.replace("\n", " ")
    s"""WITH ord AS (
       |  SELECT c.c_mktsegment AS seg,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |med AS (
       |  SELECT CAST(${Pctl.sql("cents", 0.5)} * 2 AS BIGINT) AS m2
       |  FROM ord),
       |g AS (
       |  SELECT seg, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN cents * 2 > m.m2 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hi
       |  FROM ord CROSS JOIN med m GROUP BY seg),
       |tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
       |    CAST(SUM(hi) AS BIGINT) AS hi_tot, COUNT(*) AS k
       |  FROM g),
       |j AS (
       |  SELECT g.seg, g.n, g.hi, g.n - g.hi AS lo,
       |    t.nn, t.hi_tot, t.nn - t.hi_tot AS lo_tot, t.k
       |  FROM g CROSS JOIN tot t
       |  WHERE t.hi_tot > 0 AND t.hi_tot < t.nn),
       |p AS (
       |  SELECT *, ${term("hi", "hi_tot")} + ${term("lo", "lo_tot")} AS part
       |  FROM j),
       |p2 AS (
       |  SELECT *,
       |    CAST(SUM(CAST(part AS DECIMAL(38,12))) OVER () AS DOUBLE) AS chi2
       |  FROM p)
       |SELECT seg AS segment, n, hi AS n_above, lo AS n_not_above,
       |  round(part, 6) AS chi2_part,
       |  round(chi2, 6) AS chi2,
       |  CAST(k - 1 AS BIGINT) AS df
       |FROM p2 ORDER BY segment""".stripMargin
  }

  /** Bartlett's test (1937) of variance homogeneity across the five
    * market segments — the PARAMETRIC rung beside [[brownForsythe]]
    * (which is the robust Levene-median variant; classical practice
    * runs Bartlett when normality is credible because it is the more
    * powerful of the two): T = [(N−k)·ln(S²ₚ) − Σ(nᵢ−1)·ln(S²ᵢ)]/C
    * with C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)). Group moments are
    * the [[anovaF]] exact cent grid; each variance crosses to double
    * once via the Σx²−(Σx)²/n identity; the two group-indexed sums
    * (Σ(nᵢ−1)lnS²ᵢ, Σ1/(nᵢ−1)) ride DECIMAL(38,12) so no row order
    * enters a float sum. Spread is reported as the SD in dollars
    * (√S²ᵢ/100) — NOT the raw cents² variance, whose ~2·10¹⁴
    * magnitude has double-ulp ≈ 0.03, far coarser than 6 decimals:
    * the engines' DECIMAL(38,0)→DOUBLE casts can land one ulp apart
    * above 2⁵³ and a 17-significant-digit round is flaky by
    * construction (caught live by the sf0.01 gate). The cents²
    * scale cancels inside T because Σ(nᵢ−1) = N−k exactly weights
    * the ln shift.
    *
    * Scale shape: one map-combined fact aggregate to the 5-row
    * segment grid; ln and the T/C algebra are grid-sized.
    */
  def bartlett(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val g = segMoments(s, dir)
      .filter(col("n") > 1)
    // per-group variance in cents² — one double crossing each
    val vi = (col("q").cast(DoubleType) -
      col("s").cast(DoubleType) * col("s").cast(DoubleType) /
        col("n").cast(DoubleType)) / (col("n") - 1).cast(DoubleType)
    val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("n_tot"),
      sum(((col("q").cast(DoubleType) -
        col("s").cast(DoubleType) * col("s").cast(DoubleType) /
          col("n").cast(DoubleType))).cast(d12)).cast(DoubleType).as("ssw"),
      sum(((col("n") - 1).cast(DoubleType) * log(vi)).cast(d12))
        .cast(DoubleType).as("sum_nlnv"),
      sum((lit(1.0) / (col("n") - 1).cast(DoubleType)).cast(d12))
        .cast(DoubleType).as("sum_inv"))
    val dfw = (col("n_tot") - col("k")).cast(DoubleType)
    val tStat = (dfw * log(col("ssw") / dfw) - col("sum_nlnv")) /
      (lit(1.0) + (col("sum_inv") - lit(1.0) / dfw) /
        (lit(3.0) * (col("k") - 1).cast(DoubleType)))
    val cFac = lit(1.0) + (col("sum_inv") - lit(1.0) / dfw) /
      (lit(3.0) * (col("k") - 1).cast(DoubleType))
    g.crossJoin(broadcast(tot.filter(col("n_tot") > col("k"))))
      .select(col("seg").as("segment"), col("n"),
        round(sqrt(vi) / lit(100.0), 6).as("sd_dollars"),
        round(tStat, 6).as("t_stat"),
        round(cFac, 6).as("c_factor"),
        (col("k") - 1).as("df"))
      .orderBy(col("segment"))
  }

  val bartlettOracle: String = {
    val vi = "(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)"
    val dfw = "CAST(t.n_tot - t.k AS DOUBLE)"
    val cFac = s"1.0 + (t.sum_inv - 1.0 / $dfw) / (3.0 * CAST(t.k - 1 AS DOUBLE))"
    val tStat = s"($dfw * ln(t.ssw / $dfw) - t.sum_nlnv) / ($cFac)"
    s"""WITH ord AS (
       |  SELECT c.c_mktsegment AS seg,
       |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       |g AS (
       |  SELECT seg, COUNT(*) AS n,
       |    SUM(CAST(cents AS DECIMAL(38,0))) AS s,
       |    SUM(CAST(cents * cents AS DECIMAL(38,0))) AS q
       |  FROM ord GROUP BY 1 HAVING COUNT(*) > 1),
       |tot AS (
       |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
       |    CAST(SUM(CAST(CAST(q AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS ssw,
       |    CAST(SUM(CAST(CAST(n - 1 AS DOUBLE) * ln($vi)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sum_nlnv,
       |    CAST(SUM(CAST(1.0 / CAST(n - 1 AS DOUBLE)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sum_inv
       |  FROM g)
       |SELECT g.seg AS segment, g.n,
       |  round(sqrt($vi) / 100.0, 6) AS sd_dollars,
       |  round($tStat, 6) + 0.0 AS t_stat,
       |  round($cFac, 6) AS c_factor,
       |  CAST(t.k - 1 AS BIGINT) AS df
       |FROM g CROSS JOIN tot t
       |WHERE t.n_tot > t.k
       |ORDER BY segment""".stripMargin
  }

  private val JtGroups = 1 to 5

  /** Jonckheere–Terpstra trend test (Jonckheere 1954; Terpstra 1952)
    * — does order value trend MONOTONICALLY across the five ORDERED
    * priority classes (1-URGENT < … < 5-LOW)? The ordered-alternative
    * k-group test that completes the trend family: `st_trend_mk`
    * (one sequence), [[pageTrend]] (blocked ranks), [[seasonalMk]]
    * (seasonal) — this is the unblocked k-sample rung. JT =
    * Σ_{i<j} U_ij with ties counted half; the whole statistic is
    * assembled from CUMULATIVE group counts on the distinct-value
    * grid, so no pair join ever forms: 2·JT = Σ_v Σ_{i<j}
    * c_j(v)·(2·cumlt_i(v) + c_i(v)) — exact integers throughout
    * (DECIMAL(38,0) carries the Σ). Null mean uses 2E = (N²−Σnᵢ²)/2
    * (even by construction, exact); the tie-corrected null variance
    * is the three-term Kendall/Lehmann formula whose components
    * (Σn(n−1)(2n+5) over groups, Σt(t−1)(2t+5) over tie classes,
    * and the two product corrections) are all exact DECIMAL(38,0)
    * integers crossing to double once each. z = (2JT − 2E)/(2·√Var).
    *
    * Scale shape: one hash aggregate to the distinct-value grid, then
    * the cumulative group counts via [[graft.queries.DistRank
    * .prefixLt]] (bucketed two-level prefix sums — VERDICT r14 #2; no
    * global ordered window), one map-combined aggregate to a single
    * row; N²/Σn² ride longs (exact to 2⁵³ — past ~10⁹ rows route them
    * through the same DECIMAL(38,0) the variance terms already use).
    */
  def jonckheere(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val ks = JtGroups
    val ord = Tables.t(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast(IntegerType)
        .as("g"),
        round(col("o_totalprice") * 100).cast(LongType).as("v"))
    val ccols = ks.map(i =>
      sum(when(col("g") === i, 1L).otherwise(0L)).as(s"c$i"))
    val grid = ord.groupBy(col("v")).agg(ccols.head, ccols.tail: _*)
    // VERDICT r14 #2: the cumulative group counts over the distinct-
    // value grid ride the bucketed two-level prefix device instead of
    // one global ordered window (the grid is order-book-sized)
    val withCum = ks.foldLeft(
      DistRank.prefixLt(grid, Nil, "v", ks.map(i => s"c$i")))(
      (df, i) => df.withColumn(s"u$i", col(s"c${i}_lt")))
    val contrib = (for { i <- ks; j <- ks if i < j } yield
      col(s"c$j") * (lit(2L) * col(s"u$i") + col(s"c$i"))).reduce(_ + _)
    val tv = ks.map(i => col(s"c$i")).reduce(_ + _)
    val aggCols = Seq(
      sum(contrib.cast(d0)).as("jt2"),
      sum((tv.cast(d0) * (tv - 1) * (lit(2L) * tv + 5)).cast(d0))
        .as("a_ties"),
      sum((tv.cast(d0) * (tv - 1) * (tv - 2)).cast(d0)).as("b_ties"),
      sum((tv.cast(d0) * (tv - 1)).cast(d0)).as("c_ties")) ++
      ks.map(i => sum(col(s"c$i")).as(s"n$i"))
    val one = withCum.agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n_tot", ks.map(i => col(s"n$i")).reduce(_ + _))
    def grpSum(f: Column => Column): Column =
      ks.map(i => f(col(s"n$i"))).reduce(_ + _)
    val aGrp = grpSum(n => n.cast(d0) * (n - 1) * (lit(2L) * n + 5))
    val bGrp = grpSum(n => n.cast(d0) * (n - 1) * (n - 2))
    val cGrp = grpSum(n => n.cast(d0) * (n - 1))
    val sumN2 = grpSum(n => n * n)
    val e2 = ((col("n_tot") * col("n_tot") - sumN2).cast(DoubleType) /
      lit(2.0)).cast(LongType)
    val aTot = col("n_tot").cast(d0) * (col("n_tot") - 1) *
      (lit(2L) * col("n_tot") + 5)
    val varJt = (aTot - aGrp - col("a_ties")).cast(DoubleType) / lit(72.0) +
      bGrp.cast(DoubleType) * col("b_ties").cast(DoubleType) /
        (lit(36.0) * (col("n_tot").cast(d0) * (col("n_tot") - 1) *
          (col("n_tot") - 2)).cast(DoubleType)) +
      cGrp.cast(DoubleType) * col("c_ties").cast(DoubleType) /
        (lit(8.0) * (col("n_tot").cast(d0) * (col("n_tot") - 1))
          .cast(DoubleType))
    one
      .withColumn("e2", e2)
      .withColumn("var_jt", varJt)
      .filter(col("var_jt") > 0)
      .select(lit(ks.size.toLong).as("k"), col("n_tot"),
        col("jt2").cast(LongType).as("jt_x2"),
        col("e2").as("e_x2"),
        round(sqrt(col("var_jt")), 6).as("sd_jt"),
        round((col("jt2") - col("e2").cast(d0)).cast(DoubleType) /
          (lit(2.0) * sqrt(col("var_jt"))), 6).as("z_stat"))
  }

  val jonckheereOracle: String = {
    val ks = JtGroups
    val cs = ks.map(i =>
      s"CAST(SUM(CASE WHEN g = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(", ")
    val us = ks.map(i =>
      s"COALESCE(SUM(c$i) OVER w, 0) AS u$i").mkString(", ")
    val contrib = (for { i <- ks; j <- ks if i < j } yield
      s"c$j * (2 * u$i + c$i)").mkString(" + ")
    val tvS = ks.map(i => s"c$i").mkString(" + ")
    val nsAgg = ks.map(i => s"CAST(SUM(c$i) AS BIGINT) AS n$i")
      .mkString(", ")
    val nTot = ks.map(i => s"n$i").mkString(" + ")
    def gSum(f: String => String) =
      ks.map(i => f(s"n$i")).mkString(" + ")
    val aGrp = gSum(n => s"CAST($n AS DECIMAL(38,0)) * ($n - 1) * (2 * $n + 5)")
    val bGrp = gSum(n => s"CAST($n AS DECIMAL(38,0)) * ($n - 1) * ($n - 2)")
    val cGrp = gSum(n => s"CAST($n AS DECIMAL(38,0)) * ($n - 1)")
    val sumN2 = gSum(n => s"$n * $n")
    val varJt =
      s"""(CAST(CAST(n_tot AS DECIMAL(38,0)) * (n_tot - 1) * (2 * n_tot + 5)
         |    - ($aGrp) - a_ties AS DOUBLE) / 72.0
         |  + CAST($bGrp AS DOUBLE) * CAST(b_ties AS DOUBLE)
         |    / (36.0 * CAST(CAST(n_tot AS DECIMAL(38,0)) * (n_tot - 1)
         |      * (n_tot - 2) AS DOUBLE))
         |  + CAST($cGrp AS DOUBLE) * CAST(c_ties AS DOUBLE)
         |    / (8.0 * CAST(CAST(n_tot AS DECIMAL(38,0)) * (n_tot - 1)
         |      AS DOUBLE)))""".stripMargin.replace("\n", " ")
    s"""WITH ord AS (
       |  SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS g,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
       |  FROM orders),
       |grid AS (SELECT v, $cs FROM ord GROUP BY v),
       |cum AS (SELECT *, $us FROM grid
       |  WINDOW w AS (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |agg AS (
       |  SELECT
       |    SUM(CAST($contrib AS DECIMAL(38,0))) AS jt2,
       |    SUM(CAST(CAST($tvS AS DECIMAL(38,0)) * (($tvS) - 1)
       |      * (2 * ($tvS) + 5) AS DECIMAL(38,0))) AS a_ties,
       |    SUM(CAST(CAST($tvS AS DECIMAL(38,0)) * (($tvS) - 1)
       |      * (($tvS) - 2) AS DECIMAL(38,0))) AS b_ties,
       |    SUM(CAST(CAST($tvS AS DECIMAL(38,0)) * (($tvS) - 1)
       |      AS DECIMAL(38,0))) AS c_ties,
       |    $nsAgg
       |  FROM cum),
       |f AS (
       |  SELECT *, CAST($nTot AS BIGINT) AS n_tot,
       |    CAST((($nTot) * ($nTot) - ($sumN2)) // 2 AS BIGINT) AS e2
       |  FROM agg),
       |f2 AS (SELECT *, $varJt AS var_jt FROM f)
       |SELECT CAST(${ks.size} AS BIGINT) AS k, n_tot,
       |  CAST(jt2 AS BIGINT) AS jt_x2,
       |  e2 AS e_x2,
       |  round(sqrt(var_jt), 6) AS sd_jt,
       |  round(CAST(jt2 - CAST(e2 AS DECIMAL(38,0)) AS DOUBLE)
       |    / (2.0 * sqrt(var_jt)), 6) + 0.0 AS z_stat
       |FROM f2 WHERE var_jt > 0""".stripMargin
  }

  /** Benjamini–Yekutieli FDR control (2001) — the DEPENDENCE-ROBUST
    * step-up procedure beside `ops_fdr_bh`: identical staircase, but
    * every critical value divides by the harmonic number
    * H_m = Σ1/i, the price of guaranteeing FDR ≤ α under ARBITRARY
    * p-value dependence (BH needs independence/PRDS). Same inputs as
    * the BH gate (Welch t per event type, the logistic p device) so
    * the two procedures are directly comparable row-for-row; H_m
    * rides a DECIMAL(38,12) window sum of 1/rank so no float-order
    * enters it.
    *
    * Scale shape: identical to ops_fdr_bh — the k-row type grid with
    * whole-grid windows; m is the categorical type count.
    */
  def fdrBy(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val wall = Window.partitionBy()
    StatOps.welchTTest(s, dir)
      .select(col("event_type"), col("t_stat"))
      .withColumn("p_value",
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("t_stat")))), 6))
      .withColumn("m", count(lit(1)).over(wall))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_value"), col("event_type"))))
      .withColumn("hm",
        sum((lit(1.0) / col("rk").cast(DoubleType)).cast(d12)).over(wall)
          .cast(DoubleType))
      .withColumn("crit",
        round(col("rk").cast(DoubleType) * lit(0.1) /
          (col("m").cast(DoubleType) * col("hm")), 6))
      .withColumn("k_max",
        max(when(col("p_value") <= col("crit"), col("rk")).otherwise(lit(0)))
          .over(wall))
      .select(col("event_type"), col("t_stat"), col("p_value"),
        col("rk").cast(LongType).as("rk"),
        round(col("hm"), 6).as("harmonic_m"), col("crit"),
        when(col("rk") <= col("k_max"), 1).otherwise(0).as("rejected"))
      .orderBy(col("rk"))
  }

  val fdrByOracle: String =
    s"""WITH w AS (${StatOps.welchOracle}),
       |p AS (
       |  SELECT event_type, t_stat,
       |    round(2.0 / (1.0 + exp(1.702 * abs(t_stat))), 6) AS p_value
       |  FROM w),
       |r AS (
       |  SELECT *, COUNT(*) OVER () AS m,
       |    row_number() OVER (ORDER BY p_value, event_type) AS rk
       |  FROM p),
       |h AS (
       |  SELECT *, CAST(SUM(CAST(1.0 / CAST(rk AS DOUBLE)
       |    AS DECIMAL(38,12))) OVER () AS DOUBLE) AS hm
       |  FROM r),
       |c AS (
       |  SELECT *, round(CAST(rk AS DOUBLE) * 0.1
       |    / (CAST(m AS DOUBLE) * hm), 6) AS crit
       |  FROM h),
       |k AS (
       |  SELECT *, MAX(CASE WHEN p_value <= crit THEN rk ELSE 0 END)
       |    OVER () AS k_max
       |  FROM c)
       |SELECT event_type, t_stat, p_value, CAST(rk AS BIGINT) AS rk,
       |  round(hm, 6) AS harmonic_m, crit,
       |  CAST(CASE WHEN rk <= k_max THEN 1 ELSE 0 END AS INT) AS rejected
       |FROM k ORDER BY rk""".stripMargin

  private val EulerGamma = "0.5772156649015329"

  /** Gumbel extreme-value fit by the method of moments (Gumbel 1958)
    * over MONTHLY BLOCK MAXIMA of order value — the capacity-planning
    * question ("what's the 100-block order?") that completes the tail
    * family beside [[hillTail]]'s index: β̂ = s·√6/π, μ̂ = x̄ − γβ̂
    * (γ = Euler–Mascheroni, a shared literal), return level
    * x_p = μ̂ − β̂·ln(−ln p) at p = 0.9 / 0.99. Block maxima are exact
    * integer cents (MAX of integers); their moments aggregate in
    * DECIMAL(38,0); mean/SD/β/μ/levels are each one fixed double
    * expression over those exact sums, reported in dollars.
    *
    * Scale shape: one map-combined fact aggregate to the ~80-row
    * month grid, one 1-row moment aggregate — the monthly-max shape
    * is embarrassingly map-side at any fact scale.
    */
  def gumbelMoments(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val blocks = Tables.t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(max(round(col("o_totalprice") * 100).cast(LongType)).as("mx"))
    val tot = blocks.agg(count(lit(1)).as("n"),
      sum(col("mx").cast(d0)).as("sx"),
      sum((col("mx") * col("mx")).cast(d0)).as("sxx"))
      .filter(col("n") > 1)
    val mean = col("sx").cast(DoubleType) / col("n").cast(DoubleType)
    val sd = sqrt((col("sxx").cast(DoubleType) - mean * mean *
      col("n").cast(DoubleType)) / (col("n") - 1).cast(DoubleType))
    val beta = sd * sqrt(lit(6.0)) / lit(math.Pi)
    val mu = mean - lit(EulerGamma.toDouble) * beta
    def rl(p: Double) = (mu - beta * log(-log(lit(p)))) / lit(100.0)
    tot.select(col("n").as("n_blocks"),
      round(mean / lit(100.0), 6).as("mean_max"),
      round(sd / lit(100.0), 6).as("sd_max"),
      round(beta / lit(100.0), 6).as("gumbel_beta"),
      round(mu / lit(100.0), 6).as("gumbel_mu"),
      round(rl(0.9), 6).as("rl_p90"),
      round(rl(0.99), 6).as("rl_p99"))
  }

  val gumbelMomentsOracle: String = {
    val mean = "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"
    val sd = s"sqrt((CAST(sxx AS DOUBLE) - ($mean) * ($mean) * CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))"
    val beta = s"($sd) * sqrt(6.0) / pi()"
    val mu = s"($mean) - $EulerGamma * ($beta)"
    def rl(p: String) = s"(($mu) - ($beta) * ln(-ln($p))) / 100.0"
    s"""WITH blocks AS (
       |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mo,
       |    MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS mx
       |  FROM orders GROUP BY 1),
       |tot AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CAST(mx AS DECIMAL(38,0))) AS sx,
       |    SUM(CAST(mx * mx AS DECIMAL(38,0))) AS sxx
       |  FROM blocks HAVING COUNT(*) > 1)
       |SELECT CAST(n AS BIGINT) AS n_blocks,
       |  round(($mean) / 100.0, 6) AS mean_max,
       |  round(($sd) / 100.0, 6) AS sd_max,
       |  round(($beta) / 100.0, 6) AS gumbel_beta,
       |  round(($mu) / 100.0, 6) AS gumbel_mu,
       |  round(${rl("0.9")}, 6) AS rl_p90,
       |  round(${rl("0.99")}, 6) AS rl_p99
       |FROM tot""".stripMargin
  }

  private val SplitBinCents = 1000000L // $10k candidate thresholds

  /** Best decision-stump split (the CART root node, Breiman et al.
    * 1984): which order-value threshold best separates urgent orders
    * (priority 1-2) from the rest by weighted Gini impurity? For a
    * binary class the weighted child impurity at threshold t reduces
    * to (n_L²−pos_L²−neg_L²)/(N·n_L) + (n_R²−pos_R²−neg_R²)/(N·n_R)
    * — every count exact from ONE pass of cumulative windows over
    * the $10k bin grid (the `ops_emd_drift` CDF shape); the
    * candidate impurities are identical fixed double expressions on
    * both engines, so the argmin (impurity asc, bin asc) picks the
    * same row. Splitting can only reduce weighted Gini, but the
    * float gain can land at −ε on a useless split, so `gini_gain`
    * sign-normalizes (the gr_modularity −0.0 lesson).
    *
    * Scale shape: one fact pass to the bin grid, bin-grid windows,
    * one argmin — the 100 TB stump costs one shuffle.
    */
  def bestSplit(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.t(s, dir, "orders")
      .select(expr(s"CAST(round(o_totalprice * 100) AS BIGINT) DIV $SplitBinCents")
        .as("bin"),
        when(substring(col("o_orderpriority"), 1, 1).cast(IntegerType) <= 2, 1L)
          .otherwise(0L).as("pos"))
    val bins = ord.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    val cum = bins
      .withColumn("nl", sum(col("n")).over(wCum))
      .withColumn("pl", sum(col("p")).over(wCum))
      .withColumn("nn", sum(col("n")).over(wAll))
      .withColumn("pp", sum(col("p")).over(wAll))
      .filter(col("nl") < col("nn")) // a split must leave a right side
    def gini(nSide: Column, posSide: Column) = {
      val neg = nSide - posSide
      (nSide * nSide - posSide * posSide - neg * neg).cast(DoubleType) /
        (col("nn") * nSide).cast(DoubleType)
    }
    val gSplit = gini(col("nl"), col("pl")) +
      gini(col("nn") - col("nl"), col("pp") - col("pl"))
    val negAll = col("nn") - col("pp")
    val gRoot = (col("nn") * col("nn") - col("pp") * col("pp") -
      negAll * negAll).cast(DoubleType) / (col("nn") * col("nn")).cast(DoubleType)
    val wPick = Window.orderBy(col("g_split").asc, col("bin").asc)
    cum.withColumn("g_split", gSplit)
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("bin").as("split_bin"),
        ((col("bin") + 1) * lit(SplitBinCents / 100L)).as("threshold_dollars"),
        col("nl").as("n_left"), (col("nn") - col("nl")).as("n_right"),
        col("pl").as("pos_left"), (col("pp") - col("pl")).as("pos_right"),
        round(gRoot, 6).as("gini_root"),
        round(col("g_split"), 6).as("gini_split"),
        round(gRoot - col("g_split"), 6).as("gini_gain"))
  }

  val bestSplitOracle: String = {
    def gini(n: String, p: String) =
      s"CAST(($n) * ($n) - ($p) * ($p) - (($n) - ($p)) * (($n) - ($p)) AS DOUBLE) / CAST(nn * ($n) AS DOUBLE)"
    val gSplit = s"${gini("nl", "pl")} + ${gini("nn - nl", "pp - pl")}"
    val gRoot = "CAST(nn * nn - pp * pp - (nn - pp) * (nn - pp) AS DOUBLE) / CAST(nn * nn AS DOUBLE)"
    s"""WITH ord AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // $SplitBinCents
       |      AS bin,
       |    CASE WHEN CAST(substr(o_orderpriority, 1, 1) AS INTEGER) <= 2
       |      THEN 1 ELSE 0 END AS pos
       |  FROM orders),
       |bins AS (SELECT bin, COUNT(*) AS n, CAST(SUM(pos) AS BIGINT) AS p
       |  FROM ord GROUP BY 1),
       |cum AS (
       |  SELECT bin,
       |    CAST(SUM(n) OVER w AS BIGINT) AS nl,
       |    CAST(SUM(p) OVER w AS BIGINT) AS pl,
       |    CAST(SUM(n) OVER () AS BIGINT) AS nn,
       |    CAST(SUM(p) OVER () AS BIGINT) AS pp
       |  FROM bins
       |  WINDOW w AS (ORDER BY bin
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |c2 AS (SELECT * FROM cum WHERE nl < nn),
       |g AS (SELECT *, $gSplit AS g_split FROM c2),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY g_split ASC, bin ASC)
       |    AS rn
       |  FROM g)
       |SELECT bin AS split_bin,
       |  (bin + 1) * ${SplitBinCents / 100L} AS threshold_dollars,
       |  nl AS n_left, nn - nl AS n_right,
       |  pl AS pos_left, pp - pl AS pos_right,
       |  round($gRoot, 6) AS gini_root,
       |  round(g_split, 6) AS gini_split,
       |  round(($gRoot) - g_split, 6) + 0.0 AS gini_gain
       |FROM r WHERE rn = 1""".stripMargin
  }

  /** Mutual information of (market segment, order priority) — the
    * information-theoretic association measure beside
    * `ops_chi2_assoc`'s Cramér's V (and the table-level cousin of
    * `ta_npmi_colloc`): MI = ΣΣ (n_ij/N)·ln(n_ij·N/(R_i·C_j)), plus
    * both marginal entropies and the symmetric normalization
    * NMI = MI/√(H_r·H_c). Cells, margins, and N are exact integers;
    * each cell term is one fixed double expression (zero cells
    * contribute exactly 0 and are skipped relationally on both
    * engines); the three Σs ride DECIMAL(38,12).
    *
    * Scale shape: one fact aggregate to the ≤25-cell categorical
    * grid; margins are grid windows; everything after is grid-sized.
    */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val grid = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    val wSeg = Window.partitionBy(col("seg"))
    val wPri = Window.partitionBy(col("pri"))
    val t1 = grid
      .withColumn("nn", sum(col("n")).over(wAll))
      .withColumn("r", sum(col("n")).over(wSeg))
      .withColumn("c", sum(col("n")).over(wPri))
    val p = col("n").cast(DoubleType) / col("nn").cast(DoubleType)
    val miTerm = p * log(col("n").cast(DoubleType) *
      col("nn").cast(DoubleType) /
      (col("r").cast(DoubleType) * col("c").cast(DoubleType)))
    // marginal entropy terms, each counted once via the first cell of
    // its margin (deterministic: the minimum partner key)
    val firstInSeg = col("pri") === min(col("pri")).over(wSeg)
    val firstInPri = col("seg") === min(col("seg")).over(wPri)
    val hr = col("r").cast(DoubleType) / col("nn").cast(DoubleType)
    val hc = col("c").cast(DoubleType) / col("nn").cast(DoubleType)
    val t2 = t1
      .withColumn("mi",
        sum(miTerm.cast(d12)).over(wAll).cast(DoubleType))
      .withColumn("h_row",
        -sum(when(firstInSeg, (hr * log(hr)).cast(d12))
          .otherwise(lit(0).cast(d12))).over(wAll).cast(DoubleType))
      .withColumn("h_col",
        -sum(when(firstInPri, (hc * log(hc)).cast(d12))
          .otherwise(lit(0).cast(d12))).over(wAll).cast(DoubleType))
    t2.groupBy(col("nn").as("n_total"), col("mi"), col("h_row"),
      col("h_col"))
      .agg(count(lit(1)).as("n_cells"))
      .select(col("n_total"), col("n_cells"),
        round(col("mi"), 6).as("mi_nats"),
        round(col("h_row"), 6).as("h_segment"),
        round(col("h_col"), 6).as("h_priority"),
        round(col("mi") / sqrt(col("h_row") * col("h_col")), 6).as("nmi"))
  }

  val mutualInfoOracle: String = {
    val p = "CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)"
    val miTerm = s"($p) * ln(CAST(n AS DOUBLE) * CAST(nn AS DOUBLE) / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))"
    val hr = "CAST(r AS DOUBLE) / CAST(nn AS DOUBLE)"
    val hc = "CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)"
    s"""WITH grid AS (
       |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
       |    COUNT(*) AS n
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |t1 AS (
       |  SELECT seg, pri, n,
       |    SUM(n) OVER () AS nn,
       |    SUM(n) OVER (PARTITION BY seg) AS r,
       |    SUM(n) OVER (PARTITION BY pri) AS c,
       |    MIN(pri) OVER (PARTITION BY seg) AS first_pri,
       |    MIN(seg) OVER (PARTITION BY pri) AS first_seg
       |  FROM grid),
       |t2 AS (
       |  SELECT *,
       |    CAST(SUM(CAST($miTerm AS DECIMAL(38,12))) OVER () AS DOUBLE)
       |      AS mi,
       |    -CAST(SUM(CASE WHEN pri = first_pri
       |      THEN CAST(($hr) * ln($hr) AS DECIMAL(38,12))
       |      ELSE CAST(0 AS DECIMAL(38,12)) END) OVER () AS DOUBLE)
       |      AS h_row,
       |    -CAST(SUM(CASE WHEN seg = first_seg
       |      THEN CAST(($hc) * ln($hc) AS DECIMAL(38,12))
       |      ELSE CAST(0 AS DECIMAL(38,12)) END) OVER () AS DOUBLE)
       |      AS h_col
       |  FROM t1)
       |SELECT CAST(nn AS BIGINT) AS n_total, COUNT(*) AS n_cells,
       |  round(mi, 6) + 0.0 AS mi_nats,
       |  round(h_row, 6) AS h_segment,
       |  round(h_col, 6) AS h_priority,
       |  round(mi / sqrt(h_row * h_col), 6) + 0.0 AS nmi
       |FROM t2 GROUP BY nn, mi, h_row, h_col""".stripMargin
  }

  /** Wilcoxon signed-rank test (Wilcoxon 1945) of per-user value
    * change across the experiment-clock midpoint — the PAIRED
    * nonparametric test that completes the rank family:
    * [[StatOps.mannWhitney]] compares two independent arms,
    * [[cliffsDelta]] sizes that effect, `ops_friedman` handles blocked
    * k-sample ranks; this is the two-period paired rung (the "did the
    * same users' spend shift after the midpoint" readout). Per user:
    * d = post − pre in exact micro-units; zero diffs are discarded
    * (the standard treatment); |d| gets GLOBAL midranks via the
    * doubled-integer carry (2·rank_min + ties − 1, the
    * [[StatOps.spearman]] device, computed by [[graft.queries
    * .DistRank.midrank2]] with no fact-sized sort); 2·W⁺ = Σ r2 over
    * positive diffs stays an exact integer, and the tie-corrected
    * normal approximation z = (2W⁺ − n(n+1)/2) / (2·σ) with
    * σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48 (Lehmann 1975) crosses to
    * double once, written identically in both engines.
    *
    * Scale shape: one fact hash aggregate to users (the experiment-
    * clock midpoint rides the broadcast 1-row bounds aggregate), one
    * hash aggregate to the |d| histogram with bucketed prefix sums,
    * one 1-row aggregate. Nothing after the user grid is user-sized.
    */
  def wilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val ev = Tables.t(s, dir, "events")
    val bounds = ev.agg(expr(
      "(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").as("mid"))
    val u = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(unix_micros(col("ts")) < col("mid"),
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("pre_vm"),
        coalesce(sum(when(unix_micros(col("ts")) >= col("mid"),
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("post_vm"))
    val diffs = u.select((col("post_vm") - col("pre_vm")).as("d"))
      .filter(col("d") =!= 0)
      .withColumn("ad", abs(col("d")))
    val hist = DistRank.midrank2(diffs, Nil, "ad",
      Seq("pos" -> sum(when(col("d") > 0, 1L).otherwise(0L))))
    val agg = hist.agg(
      sum(col("eq")).as("n"),
      sum(col("pos")).as("n_pos"),
      // when-guard: no positive diffs at all keeps w2p NULL (z NULL),
      // never a fake 0 statistic
      sum(when(col("pos") > 0, col("r2").cast(d0) * col("pos"))).as("w2p"),
      sum(col("eq").cast(d0) * col("eq") * col("eq") - col("eq")).as("tie3"))
    val varW = col("n").cast(DoubleType) * (col("n") + 1).cast(DoubleType) *
      (col("n") * 2 + 1).cast(DoubleType) / 24.0 -
      col("tie3").cast(DoubleType) / 48.0
    agg.select(
      col("n").as("n_pairs"), col("n_pos"),
      (col("n") - col("n_pos")).as("n_neg"),
      (col("w2p").cast(DoubleType) / 2.0).as("w_plus"),
      round((col("w2p") - expr("n * (n + 1) div 2").cast(d0)).cast(DoubleType)
        / (lit(2.0) * sqrt(varW)), 6).as("z_score"))
  }

  val wilcoxonSignedOracle: String =
    """WITH mid AS (
      |  SELECT CAST((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS BIGINT)
      |    AS mid
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid.mid
      |      THEN CAST(round("value" * 1000000) AS BIGINT) END), 0) AS BIGINT)
      |      AS pre_vm,
      |    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= mid.mid
      |      THEN CAST(round("value" * 1000000) AS BIGINT) END), 0) AS BIGINT)
      |      AS post_vm
      |  FROM events CROSS JOIN mid GROUP BY 1),
      |d AS (
      |  SELECT post_vm - pre_vm AS d, abs(post_vm - pre_vm) AS ad
      |  FROM u WHERE post_vm <> pre_vm),
      |r AS (
      |  SELECT d,
      |    CAST(2 * rank() OVER (ORDER BY ad)
      |      + COUNT(*) OVER (PARTITION BY ad) - 1 AS BIGINT) AS r2
      |  FROM d),
      |t3 AS (
      |  SELECT COALESCE(SUM(CAST(t * t * t - t AS DECIMAL(38,0))),
      |    CAST(0 AS DECIMAL(38,0))) AS tie3
      |  FROM (SELECT ad, COUNT(*) AS t FROM d GROUP BY 1) q),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |    SUM(CASE WHEN d > 0 THEN CAST(r2 AS DECIMAL(38,0)) END) AS w2p
      |  FROM r)
      |SELECT n AS n_pairs, n_pos, n - n_pos AS n_neg,
      |  CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
      |  round(CAST(w2p - CAST(n * (n + 1) // 2 AS DECIMAL(38,0)) AS DOUBLE)
      |    / (2.0 * sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
      |      * CAST(n * 2 + 1 AS DOUBLE) / 24.0
      |      - CAST(t3.tie3 AS DOUBLE) / 48.0)), 6) + 0.0 AS z_score
      |FROM agg CROSS JOIN t3""".stripMargin

  /** PROPENSITY-SCORE MATCHING ATT (Rosenbaum & Rubin 1983;
    * 1-NN-with-replacement at the propensity-cell level) — the
    * matching estimator beside [[StatOps.ipwAte]]'s weighting
    * estimator, same treatment/outcome construction (error-prone
    * users as treated, purchase value as outcome, click activity as
    * the confounder): users land in 10 fine activity cells, each
    * cell's propensity is the exact rational n_treated/n, every
    * treated cell matches the control-bearing cell with the nearest
    * propensity (|Δp| ≤ 0.1 caliper, cell-id tiebreak — a cell with
    * its own controls matches itself, which is exact matching), and
    * ATT = Σ n_t·(ȳ_t − ȳ_matched-control) / Σ n_t.
    *
    * Float policy (r16, VERDICT r15 #1): the GATED SURFACE is
    * all-BIGINT — no rounded double ever leaves the plan, so no
    * driver-side duckdb/pandas float-repr drift can flip the hash.
    * Propensities serve as exact half-up ppm
    * ((2·n_t·10⁶ + n) div (2·n) — positive operands, so Spark `div`
    * and DuckDB `//` truncation agree), means as exact half-up
    * micro-units, the per-cell effect as their exact difference, and
    * the ATT as the exact integer pair (att_num_micro, n_t) — the
    * reader divides. Doubles survive only INSIDE the match (|Δp| ≤
    * 0.1 caliper + nearest-|Δp| order): one IEEE division of exact
    * integers per cell, bit-identical in both engines. Micro-unit
    * cell sums ride DECIMAL(38,0) through the aggregate and cast to
    * BIGINT only for the final rounding step (envelope: ≤ 9.2e12
    * value-units per cell — 2^63 micro).
    *
    * Scale shape: one user hash-aggregate, one ≤10-row cell grid;
    * the matching all-pairs is grid² ≤ 100 rows (domain-bounded,
    * never fact-sized) — at 100 TB only the first aggregate grows.
    */
  def psmAtt(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("y"))
      .select(least(lit(9L), floor(col("n_click") / 2).cast(LongType)).as("cell"),
        (col("n_err") >= 14).cast(LongType).as("treated"), col("y"))
    val cells = users.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("treated")).as("n_t"),
        sum(lit(1L) - col("treated")).as("n_c"),
        sum(when(col("treated") === 1, col("y")).otherwise(0L).cast(dec)).as("sy_t"),
        sum(when(col("treated") === 0, col("y")).otherwise(0L).cast(dec)).as("sy_c"))
      .withColumn("p", col("n_t").cast(DoubleType) / col("n").cast(DoubleType))
    val tc = cells.filter(col("n_t") > 0)
      .select(col("cell"), col("n").as("n_cell"), col("n_t"), col("p"),
        col("sy_t"))
    val cc = cells.filter(col("n_c") > 0)
      .select(col("cell").as("m_cell"), col("n").as("m_n"),
        col("n_t").as("m_nt"), col("n_c"), col("p").as("m_p"), col("sy_c"))
    // exact half-up rational rounding — NONNEGATIVE operands only
    // (truncate ≡ floor only for nonnegative numerators), so Spark
    // `div` ≡ DuckDB `//`. The data guarantees it (events.value > 0),
    // but a negative outcome sum would silently drift the engines
    // apart — so the envelope is enforced LOUDLY on the ≤10-row cell
    // grid, mirroring the cvm permutation n_all assert (ADVICE r16)
    val matched = tc.crossJoin(broadcast(cc))
      .filter(abs(col("p") - col("m_p")) <= 0.1)
      .withColumn("rn", row_number().over(Window.partitionBy(col("cell"))
        .orderBy(abs(col("p") - col("m_p")), col("m_cell"))))
      .filter(col("rn") === 1)
      .filter(coalesce(assert_true(col("sy_t") >= 0 && col("sy_c") >= 0,
        lit("psm att: negative outcome sums break the half-up div equivalence")),
        lit(true)))
      .withColumn("mean_t_micro",
        expr("(CAST(sy_t AS BIGINT) * 2 + n_t) div (n_t * 2)"))
      .withColumn("mean_c_micro",
        expr("(CAST(sy_c AS BIGINT) * 2 + n_c) div (n_c * 2)"))
      .withColumn("effect_micro", col("mean_t_micro") - col("mean_c_micro"))
    val perCell = matched.select(col("cell"), col("n_cell"), col("n_t"),
      expr("(n_t * 2000000 + n_cell) div (n_cell * 2)").as("prop_ppm"),
      col("m_cell").as("matched_cell"),
      expr("(m_nt * 2000000 + m_n) div (m_n * 2)").as("matched_p_ppm"),
      col("mean_t_micro"), col("mean_c_micro"), col("effect_micro"),
      lit(null).cast(LongType).as("att_num_micro"))
    // ATT as the exact integer pair: att_num_micro = Σ n_t·effect_micro
    // over the per-cell half-up-rounded effects; denominator = n_t
    val att = matched
      .agg(sum(col("n_t")).as("n_t"),
        sum(col("n_t") * col("effect_micro")).as("att_num"))
      .select(lit(-1L).as("cell"), lit(null).cast(LongType).as("n_cell"),
        col("n_t"), lit(null).cast(LongType).as("prop_ppm"),
        lit(null).cast(LongType).as("matched_cell"),
        lit(null).cast(LongType).as("matched_p_ppm"),
        lit(null).cast(LongType).as("mean_t_micro"),
        lit(null).cast(LongType).as("mean_c_micro"),
        lit(null).cast(LongType).as("effect_micro"),
        col("att_num").as("att_num_micro"))
    perCell.unionByName(att).orderBy(col("cell"))
  }

  val psmAttOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 1000000) AS BIGINT) END), 0) AS y
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT LEAST(9, n_click // 2) AS cell,
      |    CAST(n_err >= 14 AS BIGINT) AS treated, y FROM u),
      |cells AS (
      |  SELECT cell, COUNT(*) AS n, SUM(treated) AS n_t,
      |    SUM(1 - treated) AS n_c,
      |    SUM(CAST(CASE WHEN treated = 1 THEN y ELSE 0 END
      |      AS DECIMAL(38,0))) AS sy_t,
      |    SUM(CAST(CASE WHEN treated = 0 THEN y ELSE 0 END
      |      AS DECIMAL(38,0))) AS sy_c,
      |    CAST(SUM(treated) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
      |  FROM t GROUP BY 1),
      |matched AS (
      |  SELECT * FROM (
      |    SELECT tc.cell, tc.n AS n_cell, tc.n_t, tc.p, tc.sy_t,
      |      cc.cell AS m_cell, cc.n AS m_n, cc.n_t AS m_nt, cc.n_c,
      |      cc.p AS m_p, cc.sy_c,
      |      row_number() OVER (PARTITION BY tc.cell
      |        ORDER BY abs(tc.p - cc.p), cc.cell) AS rn
      |    FROM (SELECT * FROM cells WHERE n_t > 0) tc
      |    JOIN (SELECT * FROM cells WHERE n_c > 0) cc
      |      ON abs(tc.p - cc.p) <= 0.1)
      |  WHERE rn = 1),
      |m2 AS (
      |  SELECT cell, n_cell, n_t, m_cell, m_n, m_nt,
      |    CASE WHEN sy_t < 0 OR sy_c < 0
      |      THEN CAST(error('psm att: negative outcome sums break the half-up div equivalence') AS BIGINT)
      |      ELSE (CAST(sy_t AS BIGINT) * 2 + n_t) // (n_t * 2) END AS mean_t_micro,
      |    (CAST(sy_c AS BIGINT) * 2 + n_c) // (n_c * 2) AS mean_c_micro
      |  FROM matched),
      |percell AS (
      |  SELECT CAST(cell AS BIGINT) AS cell, CAST(n_cell AS BIGINT) AS n_cell,
      |    CAST(n_t AS BIGINT) AS n_t,
      |    CAST((n_t * 2000000 + n_cell) // (n_cell * 2) AS BIGINT) AS prop_ppm,
      |    CAST(m_cell AS BIGINT) AS matched_cell,
      |    CAST((m_nt * 2000000 + m_n) // (m_n * 2) AS BIGINT) AS matched_p_ppm,
      |    CAST(mean_t_micro AS BIGINT) AS mean_t_micro,
      |    CAST(mean_c_micro AS BIGINT) AS mean_c_micro,
      |    CAST(mean_t_micro - mean_c_micro AS BIGINT) AS effect_micro,
      |    CAST(NULL AS BIGINT) AS att_num_micro
      |  FROM m2),
      |summary AS (
      |  SELECT CAST(-1 AS BIGINT) AS cell, CAST(NULL AS BIGINT) AS n_cell,
      |    CAST(SUM(n_t) AS BIGINT) AS n_t,
      |    CAST(NULL AS BIGINT) AS prop_ppm,
      |    CAST(NULL AS BIGINT) AS matched_cell,
      |    CAST(NULL AS BIGINT) AS matched_p_ppm,
      |    CAST(NULL AS BIGINT) AS mean_t_micro,
      |    CAST(NULL AS BIGINT) AS mean_c_micro,
      |    CAST(NULL AS BIGINT) AS effect_micro,
      |    CAST(SUM(n_t * (mean_t_micro - mean_c_micro)) AS BIGINT)
      |      AS att_num_micro
      |  FROM m2)
      |SELECT * FROM percell UNION ALL SELECT * FROM summary
      |ORDER BY cell""".stripMargin

  /** SHARP REGRESSION DISCONTINUITY (Thistlethwaite & Campbell 1960;
    * Imbens & Lemieux 2008 local-linear recipe) — the third leg of
    * the causal stool beside [[StatOps.ipwAte]] (weighting) and
    * [[psmAtt]] (matching): when treatment flips deterministically at
    * a threshold of a running variable, the effect is the jump in the
    * conditional mean at the cutoff. Running variable = per-user
    * click count (sf-invariant 3..22, median 13), cutoff c = 13,
    * bandwidth h = 6; within the window each side gets a closed-form
    * local-linear fit of outcome on (x − c), and the effect is the
    * difference of the two intercepts at the cutoff.
    *
    * Float policy: the OLS normal equations stay EXACT —
    * α = (Sxx·Sy − Sx·Sxy) / (n·Sxx − Sx²) and
    * β = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²) with micro-unit outcome sums
    * in DECIMAL(38,0) (x-moments are tiny integers) — ONE double
    * division per coefficient, written identically in the oracle; the
    * effect is a single double subtraction of those quotients.
    *
    * Scale shape: one user hash-aggregate then a 1-row two-sided
    * conditional aggregate; nothing after the first aggregate is even
    * user-sized.
    */
  def rddSharp(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = 13L
    val h = 6L
    val u = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("y"))
      .filter(abs(col("x") - c) <= h)
      .select((col("x") >= c).cast(LongType).as("r"),
        (col("x") - c).as("d"), col("y"))
    def side(v: Long, e: Column): Column = sum(when(col("r") === v, e).otherwise(lit(0L).cast(dec)))
    val agg = u.groupBy().agg(
      sum(when(col("r") === 0, 1L).otherwise(0L)).as("n_l"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("n_r"),
      sum(when(col("r") === 0, col("d")).otherwise(0L)).as("sx_l"),
      sum(when(col("r") === 1, col("d")).otherwise(0L)).as("sx_r"),
      sum(when(col("r") === 0, col("d") * col("d")).otherwise(0L)).as("sxx_l"),
      sum(when(col("r") === 1, col("d") * col("d")).otherwise(0L)).as("sxx_r"),
      side(0L, col("y").cast(dec)).as("sy_l"),
      side(1L, col("y").cast(dec)).as("sy_r"),
      side(0L, (col("d") * col("y")).cast(dec)).as("sxy_l"),
      side(1L, (col("d") * col("y")).cast(dec)).as("sxy_r"))
    def alpha(sfx: String): Column =
      (col(s"sxx_$sfx").cast(dec) * col(s"sy_$sfx") -
        col(s"sx_$sfx").cast(dec) * col(s"sxy_$sfx")).cast(DoubleType) /
        (col(s"n_$sfx") * col(s"sxx_$sfx") -
          col(s"sx_$sfx") * col(s"sx_$sfx")).cast(DoubleType) / 1000000.0
    def beta(sfx: String): Column =
      (col(s"n_$sfx").cast(dec) * col(s"sxy_$sfx") -
        col(s"sx_$sfx").cast(dec) * col(s"sy_$sfx")).cast(DoubleType) /
        (col(s"n_$sfx") * col(s"sxx_$sfx") -
          col(s"sx_$sfx") * col(s"sx_$sfx")).cast(DoubleType) / 1000000.0
    // every column is negative-capable → the two-sided −0.0
    // normalization (the gr_modularity device), matched in the oracle
    agg.select(col("n_l"), col("n_r"),
      (round(alpha("l"), 6) + lit(0.0)).as("alpha_left"),
      (round(alpha("r"), 6) + lit(0.0)).as("alpha_right"),
      (round(beta("l"), 6) + lit(0.0)).as("slope_left"),
      (round(beta("r"), 6) + lit(0.0)).as("slope_right"),
      (round(alpha("r") - alpha("l"), 6) + lit(0.0)).as("effect"))
  }

  val rddSharpOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 1000000) AS BIGINT) END), 0) AS y
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT CAST(x >= 13 AS BIGINT) AS r, x - 13 AS d, y
      |  FROM u WHERE abs(x - 13) <= 6),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS n_l,
      |    SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS n_r,
      |    SUM(CASE WHEN r = 0 THEN d ELSE 0 END) AS sx_l,
      |    SUM(CASE WHEN r = 1 THEN d ELSE 0 END) AS sx_r,
      |    SUM(CASE WHEN r = 0 THEN d * d ELSE 0 END) AS sxx_l,
      |    SUM(CASE WHEN r = 1 THEN d * d ELSE 0 END) AS sxx_r,
      |    SUM(CAST(CASE WHEN r = 0 THEN y ELSE 0 END AS DECIMAL(38,0))) AS sy_l,
      |    SUM(CAST(CASE WHEN r = 1 THEN y ELSE 0 END AS DECIMAL(38,0))) AS sy_r,
      |    SUM(CAST(CASE WHEN r = 0 THEN d * y ELSE 0 END AS DECIMAL(38,0))) AS sxy_l,
      |    SUM(CAST(CASE WHEN r = 1 THEN d * y ELSE 0 END AS DECIMAL(38,0))) AS sxy_r
      |  FROM w)
      |SELECT CAST(n_l AS BIGINT) AS n_l, CAST(n_r AS BIGINT) AS n_r,
      |  round(CAST(CAST(sxx_l AS DECIMAL(38,0)) * sy_l
      |      - CAST(sx_l AS DECIMAL(38,0)) * sxy_l AS DOUBLE)
      |    / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS alpha_left,
      |  round(CAST(CAST(sxx_r AS DECIMAL(38,0)) * sy_r
      |      - CAST(sx_r AS DECIMAL(38,0)) * sxy_r AS DOUBLE)
      |    / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS alpha_right,
      |  round(CAST(CAST(n_l AS DECIMAL(38,0)) * sxy_l
      |      - CAST(sx_l AS DECIMAL(38,0)) * sy_l AS DOUBLE)
      |    / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS slope_left,
      |  round(CAST(CAST(n_r AS DECIMAL(38,0)) * sxy_r
      |      - CAST(sx_r AS DECIMAL(38,0)) * sy_r AS DOUBLE)
      |    / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS slope_right,
      |  round(CAST(CAST(sxx_r AS DECIMAL(38,0)) * sy_r
      |      - CAST(sx_r AS DECIMAL(38,0)) * sxy_r AS DOUBLE)
      |    / CAST(n_r * sxx_r - sx_r * sx_r AS DOUBLE) / 1000000.0
      |    - CAST(CAST(sxx_l AS DECIMAL(38,0)) * sy_l
      |      - CAST(sx_l AS DECIMAL(38,0)) * sxy_l AS DOUBLE)
      |    / CAST(n_l * sxx_l - sx_l * sx_l AS DOUBLE) / 1000000.0, 6) + 0.0
      |    AS effect
      |FROM a""".stripMargin

  /** TOST EQUIVALENCE test (Schuirmann 1987 two one-sided tests —
    * the equivalence/non-inferiority companion to the superiority
    * test `ops_ttest_welch`, same A/B arms and Welch moments): can we
    * affirmatively claim the arms' mean event values differ by LESS
    * than the margin δ = 0.05 value units? Both one-sided statistics
    * t_lo = (Δ + δ)/SE and t_hi = (Δ − δ)/SE are reported, with the
    * large-n z-approximation decision (reject both one-sided nulls at
    * α = 0.05 ⇔ t_lo ≥ 1.645 ∧ t_hi ≤ −1.645 — arm sizes here are in
    * the thousands, where t ≈ z; the exact-dof variant would only
    * move the literal).
    *
    * Float policy: exact micro-unit DECIMAL(38,0) moments
    * (`welchTTest`'s device); variances/means/SE are single double
    * expressions written identically in the oracle; the decision
    * compares those identical doubles to literals.
    */
  def tostEquiv(s: SparkSession, dir: String): DataFrame = {
    val deltaMicro = 50000.0
    val row = StatOps.armMoments(s, dir)
    val se = sqrt(StatOps.armSe("a") + StatOps.armSe("b"))
    val diff = StatOps.armMean("a") - StatOps.armMean("b")
    val tLo = (diff + lit(deltaMicro)) / se
    val tHi = (diff - lit(deltaMicro)) / se
    row.select(col("t").as("event_type"),
      col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
      (round(diff / 1000000.0, 6) + lit(0.0)).as("mean_diff"),
      round(se / 1000000.0, 6).as("se"),
      (round(tLo, 6) + lit(0.0)).as("t_lower"),
      (round(tHi, 6) + lit(0.0)).as("t_upper"),
      (tLo >= 1.645 && tHi <= -1.645).cast(LongType).as("equivalent"))
      .orderBy(col("event_type"))
  }

  val tostEquivOracle: String = {
    val vA = StatOps.armSeSql("a")
    val vB = StatOps.armSeSql("b")
    val diff = "(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    val se = s"sqrt($vA + $vB)"
    s"""WITH ev AS (
       |  SELECT event_type AS t,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(round(value * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |g AS (
       |  SELECT t, arm, COUNT(*) AS n,
       |    SUM(CAST(vm AS DECIMAL(38,0))) AS sx,
       |    SUM(CAST(vm AS DECIMAL(38,0)) * vm) AS sxx
       |  FROM ev GROUP BY 1, 2),
       |r AS (
       |  SELECT t,
       |    SUM(CASE WHEN arm = 'A' THEN n END) AS n_a,
       |    SUM(CASE WHEN arm = 'A' THEN sx END) AS sx_a,
       |    SUM(CASE WHEN arm = 'A' THEN sxx END) AS sxx_a,
       |    SUM(CASE WHEN arm = 'B' THEN n END) AS n_b,
       |    SUM(CASE WHEN arm = 'B' THEN sx END) AS sx_b,
       |    SUM(CASE WHEN arm = 'B' THEN sxx END) AS sxx_b
       |  FROM g GROUP BY 1)
       |SELECT t AS event_type, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  round($diff / 1000000.0, 6) + 0.0 AS mean_diff,
       |  round($se / 1000000.0, 6) AS se,
       |  round(($diff + 50000.0) / $se, 6) + 0.0 AS t_lower,
       |  round(($diff - 50000.0) / $se, 6) + 0.0 AS t_upper,
       |  CAST(($diff + 50000.0) / $se >= 1.645
       |    AND ($diff - 50000.0) / $se <= -1.645 AS BIGINT) AS equivalent
       |FROM r ORDER BY event_type""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ops_tost_equiv", tostEquiv, Some(tostEquivOracle)),
    QueryDef("ops_rdd_sharp", rddSharp, Some(rddSharpOracle)),
    QueryDef("ops_psm_att", psmAtt, Some(psmAttOracle)),
    QueryDef("ops_cliffs_delta", cliffsDelta, Some(cliffsDeltaOracle)),
    QueryDef("ops_wilcoxon_signed", wilcoxonSigned, Some(wilcoxonSignedOracle)),
    QueryDef("ops_brown_forsythe", brownForsythe, Some(brownForsytheOracle)),
    QueryDef("ops_friedman", friedmanTest, Some(friedmanTestOracle)),
    QueryDef("ops_sen_slope", senSlope, Some(senSlopeOracle)),
    QueryDef("ops_emd_drift", emdDrift, Some(emdDriftOracle)),
    QueryDef("ops_hhi", hhiConcentration, Some(hhiConcentrationOracle)),
    QueryDef("ops_hill_tail", hillTail, Some(hillTailOracle)),
    QueryDef("ops_page_trend", pageTrend, Some(pageTrendOracle)),
    QueryDef("ops_cohens_d", cohensD, Some(cohensDOracle)),
    QueryDef("ops_seasonal_mk", seasonalMk, Some(seasonalMkOracle)),
    QueryDef("ops_anova_f", anovaF, Some(anovaFOracle)),
    QueryDef("ops_odds_ratio", oddsRatio, Some(oddsRatioOracle)),
    QueryDef("ops_tukey_hsd", tukeyHsd, Some(tukeyHsdOracle)),
    QueryDef("ops_dunn_test", dunnTest, Some(dunnTestOracle)),
    QueryDef("ops_mcnemar", mcnemar, Some(mcnemarOracle)),
    QueryDef("ops_cochran_q", cochranQ, Some(cochranQOracle)),
    QueryDef("ops_mood_median", moodMedian, Some(moodMedianOracle)),
    QueryDef("ops_bartlett", bartlett, Some(bartlettOracle)),
    QueryDef("ops_jonckheere", jonckheere, Some(jonckheereOracle)),
    QueryDef("ops_fdr_by", fdrBy, Some(fdrByOracle)),
    QueryDef("ops_gumbel_moments", gumbelMoments, Some(gumbelMomentsOracle)),
    QueryDef("ops_best_split", bestSplit, Some(bestSplitOracle)),
    QueryDef("ops_mutual_info", mutualInfo, Some(mutualInfoOracle)),
  )
}
