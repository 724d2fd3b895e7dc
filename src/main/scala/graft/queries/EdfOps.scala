package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-15 tranche: the EDF (empirical-distribution-function)
  * two-sample family completing the drift/GOF suite —
  * Cramér–von Mises and Anderson–Darling beside the exact
  * Kolmogorov–Smirnov ([[DataOps.ksDrift]]'s `ops_ks_drift`): KS takes
  * the MAX of the ECDF gap, CvM the count-weighted SUM of its square
  * (sensitive to body shifts KS misses), AD the same sum reweighted by
  * 1/(H(1−H)) (sensitive to tail divergence both miss) — the standard
  * escalation ladder in distribution-shift monitoring. Plus quantile
  * normalization (CDF matching) across document sources — the classic
  * cross-domain score-calibration step in curation pipelines (map each
  * source's quality-proxy distribution onto the pooled corpus, so a
  * threshold means the same thing in every domain).
  *
  * Float policy ([[LlmCuration.dsirWeights]]): counts, cumulative
  * counts and the cross-scaled ECDF gap D = N·M − n·B stay exact
  * integers (DECIMAL(38,0) ≙ DuckDB HUGEINT where the square leaves
  * Long range); each statistic's term does ONE double division of two
  * exactly-representable operands, written identically in the Spark
  * plan and the oracle; cross-row Σ rides DECIMAL(38,12); round-6
  * output.
  *
  * Scale shape: one fact hash-aggregate to (type × bucket) counts;
  * the grid is types × distinct 2-dp value buckets (bounded by the
  * value domain, not the fact); the per-type cumulative rides one
  * union-completed RANGE-frame window per type (partition size =
  * value domain, corpus-size-independent), the pooled cumulative is
  * the cross-type sum of the per-type ones, and the statistic is one
  * aggregate over the grid.
  */
object EdfOps {

  /** Exact floor-division of nonnegative Longs ([[DistRank]]'s idiv
    * device: the subtraction makes the division exact, and exact-integer
    * double division is correctly rounded; exact for a < 2^53).
    */
  private def idiv(a: Column, d: Column): Column =
    ((a - pmod(a, d)).cast(DoubleType) / d.cast(DoubleType)).cast(LongType)

  /** ceil(a/d) for positive Longs, via idiv(a + d − 1, d) — matches
    * DuckDB's `(a + d - 1) // d` on positive operands bit-for-bit.
    */
  private def iceil(a: Column, d: Column): Column = idiv(a + d - 1, d)

  /** The shared EDF grid: one row per (event_type × pooled 2-dp value
    * bucket) carrying `l` (pooled count at the bucket), `cum_s`
    * (inclusive per-type cumulative count), `cum_all` (inclusive pooled
    * cumulative), `n_s` (type total) and `n_all` (pooled total).
    */
  private def edfGrid(s: SparkSession, dir: String): DataFrame = {
    // r17 (the cvmPermutation cost devices, applied to the whole EDF
    // family): the per-type cumulative comes from ONE union-completed
    // RANGE-frame window — real count rows (c, kept = 0) union the
    // zero grid rows (c = 0, kept = 1), summed per type ordered by
    // bucket; the RANGE frame folds a tied bucket's real row into its
    // grid row regardless of union order, so keeping only grid rows
    // yields the completed cumulative with zero joins and no
    // two-level rank device. The POOLED cumulative then needs no pass
    // of its own: cum_all(b) = Σ_types cum_s(type, b) — one aggregate
    // over the grid (exact integers, same values as the former pooled
    // prefix leg by construction; every oracle is unchanged). The
    // per-partition sort is |2-dp value domain| rows, bounded by the
    // value range, not the corpus (the [[Pctl.dist]] bounded-regime argument).
    val counts = graft.plans.Checkpoint.pin(Tables.t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("b"))
      .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c")))
    val allB = counts.groupBy(col("b")).agg(sum(col("c")).as("l"))
    val types = counts.select(col("event_type")).distinct()
    val zeros = allB.select(col("b")).crossJoin(broadcast(types))
      .select(col("event_type"), col("b"), lit(0L).as("c"), lit(1).as("__g"))
    val real = counts.select(col("event_type"), col("b"), col("c"),
      lit(0).as("__g"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("b"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    // grid feeds the pooled-cumulative aggregate AND the statistic
    // readout — pinned so the window pass runs once
    val grid = graft.plans.Checkpoint.pin(real.unionByName(zeros)
      .withColumn("cum_s", sum(col("c")).over(wCum))
      .withColumn("n_s", sum(col("c")).over(wTot))
      .filter(col("__g") === 1)
      .select(col("event_type"), col("b"), col("cum_s"), col("n_s")))
    val cumAll = grid.groupBy(col("b")).agg(sum(col("cum_s")).as("cum_all"))
    // pooled total folded in as a broadcast 1-row aggregate
    // (VERDICT r13 #5) — one lazy plan, no extra driver job
    val nAll = counts.agg(sum(col("c")).as("n_all"))
    grid.join(allB, "b")
      .join(cumAll, "b")
      .crossJoin(broadcast(nAll))
  }

  /** The cross-scaled ECDF gap at a grid row: D = N·M − n·B where
    * M = cum_s, B = cum_all — so F_s(b) − F_rest(b) = D / (n·m) with
    * m = N − n. D² leaves Long range at replicated-bench scale
    * (n·m ~ 10¹¹ ⇒ D² ~ 10²²), so D is built in DECIMAL(38,0)
    * (≙ HUGEINT in the oracle) before squaring.
    */
  private def gapD: Column =
    col("cum_s").cast(DecimalType(38, 0)) * col("n_all") -
      col("cum_all").cast(DecimalType(38, 0)) * col("n_s")

  /** Per-type two-sample CRAMÉR–VON MISES statistic (type vs rest of
    * the corpus), tie-aware ECDF form (Anderson 1962; Conover 1999
    * §6.5): T = n·m/N² · Σ_z w(z)·(F(z) − G(z))² over pooled
    * observations = Σ_b l_b·D_b² / (n·m·N²) — every factor an exact
    * integer until the single closing division. Where KS reports only
    * the worst bucket, CvM integrates the whole gap profile, the
    * standard "body drift" companion.
    */
  def cvmTest(s: SparkSession, dir: String): DataFrame = {
    val num = sum((col("l").cast(DecimalType(38, 0)) * gapD * gapD).as("t"))
    edfGrid(s, dir)
      .groupBy(col("event_type"), col("n_s"), col("n_all"))
      .agg(num.as("num"))
      .select(col("event_type"), col("n_s"),
        // factor-wise double casts: every factor is an exact Long
        // < 2^53 so the product matches the integer-product form at
        // any tested scale, and unlike a Long product it cannot
        // overflow on a 10^12-row corpus
        round(col("num").cast(DoubleType) /
          (col("n_s").cast(DoubleType) *
            (col("n_all") - col("n_s")).cast(DoubleType) *
            col("n_all").cast(DoubleType) * col("n_all").cast(DoubleType)),
          6).as("cvm_stat"))
      .orderBy(col("event_type"))
  }

  /** Shared oracle CTE prefix ending at `terms` — the grid, both
    * cumulative legs, and the HUGEINT cross-scaled gap `d`.
    */
  private val edfOracleTerms: String =
    """WITH e AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS b FROM events),
      |counts AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, bk.b, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM counts) t
      |  CROSS JOIN (SELECT DISTINCT b FROM counts) bk
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.b = bk.b),
      |allb AS (SELECT b, SUM(c) AS c_all FROM counts GROUP BY 1),
      |allc AS (SELECT b, c_all,
      |    SUM(c_all) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_all
      |  FROM allb),
      |ns AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM e),
      |cums AS (
      |  SELECT g.event_type, g.b, a.c_all AS l, a.cum_all,
      |    SUM(g.c) OVER (PARTITION BY g.event_type ORDER BY g.b
      |      ROWS UNBOUNDED PRECEDING) AS cum_s
      |  FROM grid g JOIN allc a ON g.b = a.b),
      |terms AS (
      |  SELECT c.event_type, ns.n_s, n.n_all, c.l, c.cum_all,
      |    CAST(c.cum_s AS HUGEINT) * n.n_all
      |      - CAST(ns.n_s AS HUGEINT) * c.cum_all AS d
      |  FROM cums c JOIN ns ON c.event_type = ns.event_type CROSS JOIN n)""".stripMargin

  val cvmTestOracle: String = edfOracleTerms +
    """
      |SELECT event_type, n_s,
      |  round(CAST(SUM(CAST(l AS HUGEINT) * d * d) AS DOUBLE)
      |    / (CAST(n_s AS DOUBLE) * CAST(n_all - n_s AS DOUBLE)
      |      * CAST(n_all AS DOUBLE) * CAST(n_all AS DOUBLE)), 6) AS cvm_stat
      |FROM terms GROUP BY event_type, n_s, n_all ORDER BY event_type""".stripMargin

  /** Per-type two-sample ANDERSON–DARLING statistic, tie-aware
    * rank form (Pettitt 1976; Scholz & Stephens 1987 A²kN at k = 2,
    * which collapses to A² = Σ_{b: B<N} l_b·D_b² / (B_b·(N−B_b))
    * / (n·m) — the sample-2 term is algebraically −D, so both
    * samples' contributions fold into one sum). The 1/(H(1−H))
    * weight is what makes AD the tail-sensitive member of the
    * ladder. The B = N grid row is excluded: D there is identically
    * 0 and the weight is 0/0.
    */
  def andersonDarling(s: SparkSession, dir: String): DataFrame = {
    val numD = (col("l").cast(DecimalType(38, 0)) * gapD * gapD).cast(DoubleType)
    val denD = (col("cum_all").cast(DecimalType(38, 0)) *
      (col("n_all") - col("cum_all"))).cast(DoubleType)
    edfGrid(s, dir)
      .filter(col("cum_all") < col("n_all"))
      .withColumn("term", numD / denD)
      .groupBy(col("event_type"), col("n_s"), col("n_all"))
      .agg(sum(col("term").cast(DecimalType(38, 12))).as("tsum"))
      .select(col("event_type"), col("n_s"),
        // factor-wise double casts — overflow-free at any corpus size
        round(col("tsum").cast(DoubleType) /
          (col("n_s").cast(DoubleType) *
            (col("n_all") - col("n_s")).cast(DoubleType)), 6)
          .as("ad_stat"))
      .orderBy(col("event_type"))
  }

  val andersonDarlingOracle: String = edfOracleTerms +
    """
      |SELECT event_type, n_s,
      |  round(CAST(SUM(CAST(
      |      CAST(CAST(l AS HUGEINT) * d * d AS DOUBLE)
      |      / CAST(CAST(cum_all AS HUGEINT) * (n_all - cum_all) AS DOUBLE)
      |    AS DECIMAL(38,12))) AS DOUBLE)
      |    / (CAST(n_s AS DOUBLE) * CAST(n_all - n_s AS DOUBLE)), 6) AS ad_stat
      |FROM terms WHERE cum_all < n_all
      |GROUP BY event_type, n_s, n_all ORDER BY event_type""".stripMargin

  /** QUANTILE NORMALIZATION across document sources (CDF matching /
    * equipercentile equating, Bolstad 2003 generalized to unequal
    * group sizes): each (source, n_chars) value maps to the pooled
    * corpus value at its within-source mid-quantile — the pooled
    * order statistic of rank k = ⌈mid2·N / (2n)⌉, where
    * mid2 = 2·cnt_lt + cnt_eq + 1 is the doubled midrank
    * ([[DistRank.midrank2]]'s carry). After the map, every source's
    * score distribution is the pooled one, so a single curation
    * threshold means the same thing in every domain.
    *
    * Scale shape: within-source midranks and the pooled rank
    * intervals both ride [[DistRank.prefixLt]] over value histograms
    * (distinct-value-sized); the inverse-CDF lookup is an
    * interval-point BUCKET equi-join — pooled rank space [1, N] is
    * cut into 1024 fixed-width buckets, each pooled value's rank
    * interval [cnt_lt+1, cnt_lt+cnt] is exploded to the ≤(span/W + 1)
    * buckets it covers (Σ ≤ distinct + 1024 rows), and query rank k
    * equi-joins its bucket then filters containment — never a
    * histogram × histogram non-equi scan. Exact Long arithmetic
    * (mid2·N ≤ 2n·N ≪ 2^53 at any single-box scale; the same device
    * rides DECIMAL(38,0) on a 10¹²-row corpus).
    */
  def quantileNorm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("source"), col("n_chars").as("v"))
    val srcHist = docs.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val ranked = DistRank.prefixLt(srcHist, Seq("source"), "v", Seq("c"))
      .withColumn("mid2", lit(2L) * col("c_lt") + col("c") + lit(1L))
    val nSrc = srcHist.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val glob = docs.groupBy(col("v")).agg(count(lit(1)).as("g"))
    val gCum = DistRank.prefixLt(glob, Nil, "v", Seq("g"))
      .select(col("v").as("mapped"), (col("g_lt") + 1L).as("lo"),
        (col("g_lt") + col("g")).as("hi"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val q = ranked.join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nAll))
      .withColumn("k", iceil(col("mid2") * col("n_all"), lit(2L) * col("n")))
      .withColumn("quantile", round(col("mid2").cast(DoubleType) /
        (lit(2L) * col("n")).cast(DoubleType), 6))
      .withColumn("w", iceil(col("n_all"), lit(1024L)))
      .withColumn("kb", idiv(col("k") - 1L, col("w")))
      .select(col("source"), col("v"), col("quantile"), col("k"), col("kb"))
    val gInt = gCum.crossJoin(broadcast(nAll))
      .withColumn("w", iceil(col("n_all"), lit(1024L)))
      .withColumn("kb", explode(sequence(idiv(col("lo") - 1L, col("w")),
        idiv(col("hi") - 1L, col("w")))))
      .select(col("kb"), col("lo"), col("hi"), col("mapped"))
    q.join(gInt, "kb")
      .filter(col("k").between(col("lo"), col("hi")))
      .select(col("source"), col("v").as("n_chars"), col("quantile"),
        col("mapped"))
      .orderBy(col("source"), col("n_chars"))
  }

  val quantileNormOracle: String =
    """WITH d AS (SELECT source, n_chars AS v FROM documents),
      |sh AS (SELECT source, v, COUNT(*) AS c FROM d GROUP BY 1, 2),
      |r AS (SELECT source, v, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
      |  FROM sh),
      |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sh GROUP BY 1),
      |g AS (SELECT v, COUNT(*) AS gc FROM d GROUP BY 1),
      |gi AS (SELECT v,
      |    COALESCE(SUM(gc) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS lo,
      |    COALESCE(SUM(gc) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + gc AS hi
      |  FROM g),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM d),
      |q AS (SELECT r.source, r.v,
      |    (2 * r.c_lt + r.c + 1) AS mid2,
      |    ((2 * r.c_lt + r.c + 1) * n.n_all + 2 * ns.n - 1) // (2 * ns.n) AS k,
      |    round(CAST(2 * r.c_lt + r.c + 1 AS DOUBLE)
      |      / CAST(2 * ns.n AS DOUBLE), 6) AS quantile
      |  FROM r JOIN ns ON r.source = ns.source CROSS JOIN n)
      |SELECT q.source, CAST(q.v AS BIGINT) AS n_chars, q.quantile,
      |  CAST(gi.v AS BIGINT) AS mapped
      |FROM q JOIN gi ON q.k BETWEEN gi.lo AND gi.hi
      |ORDER BY q.source, q.v""".stripMargin

  /** k-SAMPLE Anderson–Darling statistic (Scholz & Stephens 1987,
    * A²kN — scipy's `anderson_ksamp` shape): do the k event-type value
    * distributions share one parent?
    * A²kN = (1/N)·Σ_i (1/n_i)·Σ_{j: B_j<N} l_j·(N·M_ij − n_i·B_j)² /
    * (B_j·(N−B_j)). The inner sum per type is exactly the two-sample
    * gate's DECIMAL(38,12) term sum; the outer Σ_i over the k per-type
    * sums rides DECIMAL(38,12) again so no partition order enters a
    * float sum. One row out: k, N, the statistic.
    */
  def adKSample(s: SparkSession, dir: String): DataFrame = {
    val numD = (col("l").cast(DecimalType(38, 0)) * gapD * gapD).cast(DoubleType)
    val denD = (col("cum_all").cast(DecimalType(38, 0)) *
      (col("n_all") - col("cum_all"))).cast(DoubleType)
    edfGrid(s, dir)
      .filter(col("cum_all") < col("n_all"))
      .withColumn("term", numD / denD)
      .groupBy(col("event_type"), col("n_s"), col("n_all"))
      .agg(sum(col("term").cast(DecimalType(38, 12))).as("tsum"))
      .groupBy(col("n_all"))
      .agg(count(lit(1)).as("k"),
        sum((col("tsum").cast(DoubleType) / col("n_s").cast(DoubleType))
          .cast(DecimalType(38, 12))).as("osum"))
      .select(col("k"), col("n_all"),
        round(col("osum").cast(DoubleType) / col("n_all").cast(DoubleType), 6)
          .as("a2kn"))
  }

  val adKSampleOracle: String = edfOracleTerms +
    """,
      |per_type AS (
      |  SELECT event_type, n_s, n_all,
      |    SUM(CAST(
      |      CAST(CAST(l AS HUGEINT) * d * d AS DOUBLE)
      |      / CAST(CAST(cum_all AS HUGEINT) * (n_all - cum_all) AS DOUBLE)
      |    AS DECIMAL(38,12))) AS tsum
      |  FROM terms WHERE cum_all < n_all
      |  GROUP BY event_type, n_s, n_all)
      |SELECT CAST(COUNT(*) AS BIGINT) AS k, n_all,
      |  round(CAST(SUM(CAST(CAST(tsum AS DOUBLE) / CAST(n_s AS DOUBLE)
      |      AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(n_all AS DOUBLE), 6) AS a2kn
      |FROM per_type GROUP BY n_all""".stripMargin

  /** ENERGY DISTANCE two-sample statistic (Székely & Rizzo 2004;
    * scipy's `energy_distance` convention), each event type vs rest:
    * e(X,Y) = 2·E|X−Y| − E|X−X′| − E|Y−Y′| = 2∫(F−G)² dt — the
    * Lebesgue-weighted member of the EDF ladder (CvM weights the same
    * squared gap by the pooled empirical measure instead), plus the
    * test statistic T = n·m/N · e. Never a pair join: in 1-D every
    * pairwise-|difference| sum is an exact integral of cumulative
    * counts over the value axis —
    * Σ_{i,j}|x_i − y_j| = Σ_k (b_{k+1}−b_k)·[M_k·(m−R_k) + R_k·(n−M_k)]
    * over consecutive distinct pooled values, with M = cum_s,
    * R = cum_rest — so the whole statistic is one pass over the same
    * [[edfGrid]] the other EDF gates ride. Exact DECIMAL(38,0)/HUGEINT
    * segment sums (width·cum² leaves Long range at replicated-bench
    * scale); per-sum one double division; e and T assembled by the
    * same double expression in both engines; cent widths scaled back
    * to value units only in the rounded output.
    *
    * The next-value gap is a lead window partitioned by type over the
    * grid — bounded by the 2-dp value domain like every grid stage
    * here, never fact-sized.
    */
  def energyDistance(s: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("b"))
    val g = edfGrid(s, dir)
      .withColumn("nextb", lead(col("b"), 1).over(w))
      .filter(col("nextb").isNotNull)
      .withColumn("wgap", (col("nextb") - col("b")).cast(dec))
      .withColumn("m", col("n_all") - col("n_s"))
      .withColumn("cum_r", col("cum_all") - col("cum_s"))
    val sxy = sum(col("wgap") *
      (col("cum_s").cast(dec) * (col("m") - col("cum_r")) +
        col("cum_r").cast(dec) * (col("n_s") - col("cum_s"))))
    val sxx = sum(col("wgap") *
      (lit(2L) * col("cum_s").cast(dec) * (col("n_s") - col("cum_s"))))
    val syy = sum(col("wgap") *
      (lit(2L) * col("cum_r").cast(dec) * (col("m") - col("cum_r"))))
    g.groupBy(col("event_type"), col("n_s"), col("n_all"), col("m"))
      .agg(sxy.as("sxy"), sxx.as("sxx"), syy.as("syy"))
      .withColumn("e_cents",
        // factor-wise double casts — overflow-free at any corpus size
        lit(2.0) * (col("sxy").cast(DoubleType) /
            (col("n_s").cast(DoubleType) * col("m").cast(DoubleType))) -
          col("sxx").cast(DoubleType) /
            (col("n_s").cast(DoubleType) * col("n_s").cast(DoubleType)) -
          col("syy").cast(DoubleType) /
            (col("m").cast(DoubleType) * col("m").cast(DoubleType)))
      .select(col("event_type"), col("n_s"),
        // e/T are assembled by cancellation (2A−B−C) and can land in
        // (−5e-7, 0] — the two-sided −0.0 normalization, both engines
        (round(col("e_cents") / 100.0, 6) + lit(0.0)).as("e_dist"),
        (round(col("n_s").cast(DoubleType) * col("m").cast(DoubleType) /
          col("n_all").cast(DoubleType) * col("e_cents") / 100.0, 6) +
          lit(0.0)).as("t_stat"))
      .orderBy(col("event_type"))
  }

  val energyDistanceOracle: String = edfOracleTerms +
    """,
      |seg AS (
      |  SELECT c.event_type, ns.n_s, n.n_all, n.n_all - ns.n_s AS m,
      |    CAST(LEAD(c.b, 1) OVER (PARTITION BY c.event_type ORDER BY c.b) - c.b
      |      AS HUGEINT) AS wgap,
      |    c.cum_s, c.cum_all - c.cum_s AS cum_r
      |  FROM cums c
      |  JOIN ns ON ns.event_type = c.event_type CROSS JOIN n),
      |agg AS (
      |  SELECT event_type, n_s, n_all, m,
      |    SUM(wgap * (CAST(cum_s AS HUGEINT) * (m - cum_r)
      |      + CAST(cum_r AS HUGEINT) * (n_s - cum_s))) AS sxy,
      |    SUM(wgap * (2 * CAST(cum_s AS HUGEINT) * (n_s - cum_s))) AS sxx,
      |    SUM(wgap * (2 * CAST(cum_r AS HUGEINT) * (m - cum_r))) AS syy
      |  FROM seg WHERE wgap IS NOT NULL
      |  GROUP BY event_type, n_s, n_all, m)
      |SELECT event_type, n_s,
      |  round((2.0 * (CAST(sxy AS DOUBLE) / (CAST(n_s AS DOUBLE) * CAST(m AS DOUBLE)))
      |    - CAST(sxx AS DOUBLE) / (CAST(n_s AS DOUBLE) * CAST(n_s AS DOUBLE))
      |    - CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
      |    / 100.0, 6) + 0.0 AS e_dist,
      |  round(CAST(n_s AS DOUBLE) * CAST(m AS DOUBLE) / CAST(n_all AS DOUBLE)
      |    * (2.0 * (CAST(sxy AS DOUBLE) / (CAST(n_s AS DOUBLE) * CAST(m AS DOUBLE)))
      |      - CAST(sxx AS DOUBLE) / (CAST(n_s AS DOUBLE) * CAST(n_s AS DOUBLE))
      |      - CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
      |    / 100.0, 6) + 0.0 AS t_stat
      |FROM agg ORDER BY event_type""".stripMargin

  /** Number of random relabelings for the permutation p-value: 19
    * gives the classic 1/20 granularity (a stat that beats every
    * relabel reads p = 0.05).
    */
  private val PermR = 19

  /** hex→BIGINT of an 8-hex-digit md5 window in DuckDB ([[Sketches]]'
    * h60 recipe at 8 digits): `off` is a 1-based SQL expression so one
    * md5 yields four independent 32-bit uniforms (words 0..3 at
    * offsets 1/9/17/25 — the chunked-draw device below).
    */
  private def h32SqlAt(e: String, off: String): String =
    s"""list_reduce(list_transform(string_split(substr(md5($e),$off,8),''),
       |    c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)""".stripMargin

  /** PERMUTATION p-value for the per-type CvM statistic (random
    * relabeling null, Dwass 1957 / Good 2000): the EDF statistics'
    * null distributions are tie- and size-dependent, so the honest
    * p-value is Monte-Carlo — re-draw the sample membership R = 19
    * times under H₀ (label exchangeability), recompute T, and report
    * p = (1 + #{T_r ≥ T_obs}) / (R + 1). Draws are md5-derived
    * Bernoulli(n_s/N) relabels (the [[StatOps.bootstrapPoisson]]
    * hash-deterministic recipe): membership is u·N < n_s·2^32 — an
    * exact integer comparison, identical in both engines, so the
    * pseudo-sample and therefore every T_r replays bit-for-bit.
    *
    * Cost shape (VERDICT r16 #1 — the pair was 7% of the whole
    * bench): THREE devices keep the R-fold fan near the price of one
    * pass over the fact.
    *  1. CHUNKED DRAWS — one md5 is 128 bits = FOUR independent
    *     32-bit uniforms, so world r reads word (r−1) mod 4 of
    *     md5(id:cvmperm:⌊(r−1)/4⌋): ⌈R/4⌉ = 5 hashes per event
    *     instead of 19 (the twin reads 2 words per xxhash64).
    *  2. UNIFIED WORLDS — the observed statistic is just "world 0"
    *     whose membership is the REAL label, so obs and all R
    *     relabels ride ONE (type × world × bucket) relation, one
    *     window pass, one aggregate — no separate observed subplan.
    *  3. UNION-COMPLETED CUMULATIVE — instead of left-joining a zero
    *     grid and running the two-level rank device per world, the
    *     PRE-AGGREGATED membership counts (one map-combined groupBy
    *     to the (type, world, bucket) grid — ADVICE r17: raw
    *     memberships are ~R·n_all rows, which would make each window
    *     task sort fact-proportional input) are UNIONed with the zero
    *     grid rows (c = 0) and ONE window per (type, world) with a
    *     RANGE frame (ties of b sum together regardless of union
    *     order) delivers the inclusive cumulative AND the world total
    *     in the same sort; keeping only the grid rows yields the
    *     completed cumulative grid with zero joins.
    * The per-partition sort is |2-dp value domain| rows — bounded by
    * the value range, not the corpus (the [[Pctl.dist]] bounded-regime
    * argument); shuffle volume is ≤ 2·(R+1)·|grid| map-combined rows,
    * never R·|fact| wide rows, and the only fact-proportional work is
    * the hash projection + membership filter itself.
    */
  def cvmPermutation(s: SparkSession, dir: String): DataFrame =
    cvmPermutationWith(s, dir, (c: Column) => md5(c),
      (h: Column, w: Int) =>
        conv(substring(h, w * 8 + 1, 8), 16, 10).cast(LongType),
      wordsPerHash = 4, permR = PermR, spreadFan = true)

  /** [[cvmPermutation]] with the production hash (xxhash64, whose 64
    * bits yield TWO 32-bit words per draw) — the oracle-less bench
    * twin, same plan shape. The twin runs a bench-representative
    * R = 7 relabel fan (VERDICT r15 #3: re-running the full 19-world
    * fan twice cost ~8% of the whole bench for zero extra evidence —
    * the twin exists to time the PRODUCTION HASH on the SAME plan
    * shape, and the observed statistic it shares with the gate never
    * touches the relabel fan, which EdfOpsSpec pins).
    */
  def cvmPermutationXx(s: SparkSession, dir: String): DataFrame =
    // spreadFan = false (VERDICT r18 #2): the twin's fan is 2× lighter
    // (2 words per xxhash64, R = 7), and the r18 "shape parity" spread
    // regressed it on the driver's box in BOTH runs (1.76× @32c,
    // 1.20× @8c) — the pre-fan exchange costs more than the serial fan
    // it parallelizes at this weight. The md5 gate (5 hashes × R = 19)
    // keeps the spread, where it was measured 0.89×.
    cvmPermutationWith(s, dir, (c: Column) => xxhash64(c),
      (h: Column, w: Int) =>
        if (w == 0) shiftrightunsigned(h, 32)
        else pmod(h, lit(4294967296L)),
      wordsPerHash = 2, permR = 7, spreadFan = false)

  private def cvmPermutationWith(s: SparkSession, dir: String,
                                 mkHash: Column => Column,
                                 word: (Column, Int) => Column,
                                 wordsPerHash: Int, permR: Int,
                                 spreadFan: Boolean): DataFrame = {
    val dec = DecimalType(38, 0)
    // counts is referenced by allB / nS / nAll and is world 0's
    // membership relation — pinned so the fact aggregates
    // ONCE, not per reference
    val counts = graft.plans.Checkpoint.pin(Tables.t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("b"))
      .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c")))
    val allB = counts.groupBy(col("b")).agg(sum(col("c")).as("c_all"))
    // pooled cumulative: the one global leg, on the bucketed rank
    // device (joined once onto the unified world grid below)
    val pooled = DistRank.prefixLt(allB, Nil, "b", Seq("c_all"))
      .withColumn("cum_all", col("c_all_lt") + col("c_all"))
      .select(col("b"), col("c_all").as("l"), col("cum_all"))
    val nS = counts.groupBy(col("event_type")).agg(sum(col("c")).as("n_s"))
    val nAll = counts.agg(sum(col("c")).as("n_all"))

    // R relabeled worlds from ⌈R/words⌉ hashes per event: world r
    // reads word (r−1) mod words of hash chunk ⌊(r−1)/words⌋;
    // membership of the pseudo-type sample is the exact integer test
    // u·N < n_s·2^32
    val nChunks = (permR + wordsPerHash - 1) / wordsPerHash
    // spread the fact BEFORE the hash fan (guide §2.5's unsplittable-
    // input remedy, the bootstrapPoisson shape): the single-row-group
    // bench parquet scans as one task, and the whole
    // n·⌈R/words⌉-hash + R·|types| membership fan would run serially
    // inside the union's map stage. Hash-repartition on the
    // deterministic key; row set unchanged.
    val id = Tables.t(s, dir, "events")
      .select(col("event_id"), round(col("value") * 100).cast(LongType).as("b"))
      .transform(d =>
        if (spreadFan) graft.operators.Spread.byKey(d, col("event_id")) else d)
    val hashed = (0 until nChunks).foldLeft(id) { (d, k) =>
      d.withColumn(s"__h$k",
        mkHash(concat(col("event_id").cast("string"), lit(s":cvmperm:$k"))))
    }
    val us = (1 to permR).map(r =>
      word(col(s"__h${(r - 1) / wordsPerHash}"), (r - 1) % wordsPerHash))
    val fan = hashed
      .select(col("b"), posexplode(array(us: _*)).as(Seq("r0", "u")))
      .select(col("b"), (col("r0") + 1).cast(LongType).as("r"), col("u"))
    // Long membership stays exact while n_all < 2^31 (u < 2^32 ⇒ both
    // products < 2^63); beyond it non-ANSI Spark would wrap SILENTLY,
    // so the envelope is enforced LOUDLY on the 5-row threshold
    // relation (zero per-fan-row cost — the DECIMAL(38,0) routing of
    // the first r16 pass cost ~15% of the whole gate at sf0.1), and
    // the oracle raises symmetrically via error()
    val thresholds = nS.crossJoin(broadcast(nAll))
      .filter(coalesce(assert_true(col("n_all") < lit(2147483648L),
        lit("cvm permutation: n_all >= 2^31 exceeds the Long membership envelope")),
        lit(true)))
    // ADVICE r17: pre-aggregate membership to the (type, world,
    // bucket) grid BEFORE the union — raw membership is one row per
    // member event per world (~R·n_all rows), and feeding that into
    // the (type, r)-partitioned window would make each window task
    // sort fact-proportional rows, breaking the no-fact-sized-sort
    // contract the partitioned-window census can't see. The groupBy
    // map-combines (shuffle volume = the grid), and the RANGE frame
    // already summed tied-b rows, so results are bit-identical.
    val members = fan.crossJoin(broadcast(thresholds))
      .filter(col("u") * col("n_all") < col("n_s") * lit(4294967296L))
      .groupBy(col("event_type"), col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("r"), col("b"),
        col("c"), lit(0).as("__g"))
    // world 0 = the REAL labels (the observed statistic)
    val world0 = counts.select(col("event_type"), lit(0L).as("r"),
      col("b"), col("c"), lit(0).as("__g"))
    // the zero grid: every (type, world, bucket) cell once, c = 0 —
    // the rows KEPT after the window (the membership rows only feed
    // the running sums; a RANGE frame makes their order at a tied b
    // irrelevant)
    val reps = s.range(0, permR + 1).toDF("r")
    val typeReps = nS.select(col("event_type")).crossJoin(broadcast(reps))
    // spread BEFORE the (R+1)·|types| fan: AQE coalesces the tiny
    // bucket relation to one partition, so without it the whole
    // |grid|·(R+1) zero relation is produced by a single task (r18
    // profile: a 3.2 s serial stage at sf0.1). VERDICT r18 #4: the
    // r18 numberless `repartition(col("b"))` was ineffective by the
    // repo's own batch-2 finding (AQE coalesces byte-sized exchanges
    // right back to 1-2 partitions) — Spread.byKey pins the explicit
    // AQE-respected width like every other fan; the exchange itself
    // moves only the |b|-domain rows
    val zeros = allB.select(col("b"))
      .transform(d =>
        if (spreadFan) graft.operators.Spread.byKey(d, col("b")) else d)
      .crossJoin(broadcast(typeReps))
      .select(col("event_type"), col("r"), col("b"),
        lit(0L).as("c"), lit(1).as("__g"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("r")).orderBy(col("b"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("r"))
    val grid = members.unionByName(world0).unionByName(zeros)
      .withColumn("cum_s", sum(col("c")).over(wCum))
      .withColumn("n_t", sum(col("c")).over(wTot))
      .filter(col("__g") === 1)
    // stats is (R+1)·|types| rows but feeds BOTH the observed (r = 0)
    // and the tail (r ≥ 1) readouts — pinned so the whole
    // fan pipeline executes once, not twice
    val stats = graft.plans.Checkpoint.pin(grid
      .join(pooled, "b")
      .crossJoin(broadcast(nAll))
      .withColumn("d", col("cum_s").cast(dec) * col("n_all") -
        col("cum_all").cast(dec) * col("n_t"))
      .groupBy(col("event_type"), col("r"), col("n_t"), col("n_all"))
      .agg(sum(col("l").cast(dec) * col("d") * col("d")).as("num"))
      .select(col("event_type"), col("r"), col("n_t"),
        when(col("n_t") > 0L && col("n_t") < col("n_all"),
          col("num").cast(DoubleType) /
            (col("n_t").cast(DoubleType) *
              (col("n_all") - col("n_t")).cast(DoubleType) *
              col("n_all").cast(DoubleType) * col("n_all").cast(DoubleType)))
          .otherwise(lit(0.0)).as("t_r")))
    val obs = stats.filter(col("r") === 0L)
      .select(col("event_type"), col("n_t").as("n_s"), col("t_r").as("t_obs"))

    stats.filter(col("r") >= 1L).join(broadcast(obs), "event_type")
      .groupBy(col("event_type"), col("n_s"), col("t_obs"))
      .agg(sum(when(col("t_r") >= col("t_obs"), 1L).otherwise(0L)).as("ge"))
      .select(col("event_type"), col("n_s"),
        round(col("t_obs"), 6).as("cvm_stat"),
        round((col("ge") + 1L).cast(DoubleType) /
          lit((permR + 1).toDouble), 6).as("p_perm"))
      .orderBy(col("event_type"))
  }

  val cvmPermutationOracle: String = {
    // chunked draws: world r reads word (r−1) mod 4 of hash chunk
    // ⌊(r−1)/4⌋ — same derivation as the Spark side, bit-for-bit
    val h = h32SqlAt(
      "CAST(event_id AS VARCHAR) || ':cvmperm:' || CAST((reps.r-1)//4 AS VARCHAR)",
      "((reps.r-1)%4)*8 + 1")
    s"""WITH e AS (SELECT event_id, event_type,
       |    CAST(round(value * 100) AS BIGINT) AS b FROM events),
       |counts AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
       |allb AS (SELECT b, SUM(c) AS c_all FROM counts GROUP BY 1),
       |pooled AS (SELECT b, c_all AS l,
       |    SUM(c_all) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_all
       |  FROM allb),
       |ns AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1),
       |n AS (SELECT CASE WHEN COUNT(*) >= 2147483648
       |    THEN CAST(error('cvm permutation: n_all >= 2^31 exceeds the Long membership envelope') AS BIGINT)
       |    ELSE CAST(COUNT(*) AS BIGINT) END AS n_all FROM e),
       |gobs AS (
       |  SELECT t.event_type, bk.b, COALESCE(c.c, 0) AS c
       |  FROM (SELECT DISTINCT event_type FROM counts) t
       |  CROSS JOIN (SELECT DISTINCT b FROM counts) bk
       |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.b = bk.b),
       |obs AS (
       |  SELECT g.event_type, ns.n_s, n.n_all,
       |    CAST(SUM(CAST(p.l AS HUGEINT)
       |        * (CAST(cs.cum_s AS HUGEINT) * n.n_all - CAST(ns.n_s AS HUGEINT) * p.cum_all)
       |        * (CAST(cs.cum_s AS HUGEINT) * n.n_all - CAST(ns.n_s AS HUGEINT) * p.cum_all))
       |      AS DOUBLE)
       |      / (CAST(ns.n_s AS DOUBLE) * CAST(n.n_all - ns.n_s AS DOUBLE)
       |        * CAST(n.n_all AS DOUBLE) * CAST(n.n_all AS DOUBLE)) AS t_obs
       |  FROM (SELECT DISTINCT event_type FROM counts) g
       |  JOIN (
       |    SELECT event_type, b,
       |      SUM(c) OVER (PARTITION BY event_type ORDER BY b
       |        ROWS UNBOUNDED PRECEDING) AS cum_s
       |    FROM gobs) cs ON cs.event_type = g.event_type
       |  JOIN pooled p ON p.b = cs.b
       |  JOIN ns ON ns.event_type = g.event_type CROSS JOIN n
       |  GROUP BY g.event_type, ns.n_s, n.n_all),
       |reps AS (SELECT unnest(range(1, ${PermR + 1})) AS r),
       |fan AS (
       |  SELECT e.b, reps.r, $h AS u
       |  FROM e CROSS JOIN reps),
       |cntsr AS (
       |  SELECT ns.event_type, f.r, f.b, COUNT(*) AS c
       |  FROM fan f CROSS JOIN n JOIN ns
       |    ON f.u * n.n_all < ns.n_s * 4294967296
       |  GROUP BY 1, 2, 3),
       |trgrid AS (
       |  SELECT t.event_type, reps.r, bk.b, COALESCE(c.c, 0) AS c
       |  FROM (SELECT DISTINCT event_type FROM counts) t
       |  CROSS JOIN reps
       |  CROSS JOIN (SELECT DISTINCT b FROM counts) bk
       |  LEFT JOIN cntsr c ON c.event_type = t.event_type AND c.r = reps.r
       |    AND c.b = bk.b),
       |ntilde AS (
       |  SELECT event_type, r, CAST(SUM(c) AS BIGINT) AS n_t
       |  FROM trgrid GROUP BY 1, 2),
       |perm AS (
       |  SELECT g.event_type, g.r,
       |    CASE WHEN nt.n_t > 0 AND nt.n_t < n.n_all THEN
       |      CAST(SUM(CAST(p.l AS HUGEINT)
       |          * (CAST(g.cum_s AS HUGEINT) * n.n_all - CAST(nt.n_t AS HUGEINT) * p.cum_all)
       |          * (CAST(g.cum_s AS HUGEINT) * n.n_all - CAST(nt.n_t AS HUGEINT) * p.cum_all))
       |        AS DOUBLE)
       |        / (CAST(nt.n_t AS DOUBLE) * CAST(n.n_all - nt.n_t AS DOUBLE)
       |          * CAST(n.n_all AS DOUBLE) * CAST(n.n_all AS DOUBLE))
       |    ELSE 0.0 END AS t_r
       |  FROM (
       |    SELECT event_type, r, b,
       |      SUM(c) OVER (PARTITION BY event_type, r ORDER BY b
       |        ROWS UNBOUNDED PRECEDING) AS cum_s
       |    FROM trgrid) g
       |  JOIN pooled p ON p.b = g.b
       |  JOIN ntilde nt ON nt.event_type = g.event_type AND nt.r = g.r
       |  CROSS JOIN n
       |  GROUP BY g.event_type, g.r, nt.n_t, n.n_all),
       |tail AS (
       |  SELECT p.event_type, o.n_s, o.t_obs,
       |    SUM(CASE WHEN p.t_r >= o.t_obs THEN 1 ELSE 0 END) AS ge
       |  FROM perm p JOIN obs o ON o.event_type = p.event_type
       |  GROUP BY 1, 2, 3)
       |SELECT event_type, n_s, round(t_obs, 6) AS cvm_stat,
       |  round(CAST(ge + 1 AS DOUBLE) / ${PermR + 1}.0, 6) AS p_perm
       |FROM tail ORDER BY event_type""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ops_cvm_test", cvmTest, Some(cvmTestOracle)),
    QueryDef("ops_anderson_darling", andersonDarling, Some(andersonDarlingOracle)),
    QueryDef("cu_quantile_norm", quantileNorm, Some(quantileNormOracle)),
    QueryDef("ops_cvm_permutation", cvmPermutation, Some(cvmPermutationOracle)),
    QueryDef("ops_ad_ksample", adKSample, Some(adKSampleOracle)),
    QueryDef("ops_energy_distance", energyDistance, Some(energyDistanceOracle)),
  )

  /** Oracle-less production-hash twin (xxhash64 relabels — not
    * DuckDB-reproducible by design), timed by Bench and property-
    * pinned by EdfOpsSpec.
    */
  val benchOnlyDefs: Seq[QueryDef] = Seq(
    QueryDef("ops_cvmperm_xxhash", cvmPermutationXx, None),
  )
}
