package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical-analysis surface: the inference and concentration
  * diagnostics an analytics warehouse layers over the relational core —
  * inequality/concentration (Gini), robust location (trimmed mean),
  * categorical association (chi-square + Cramér's V), monotone
  * correlation (Spearman), and experiment readout (two-proportion
  * A/B lift). Reference scope: ravelytics ships aggregate dashboards
  * over exactly these shapes (002_create_techno_views.sql's grouped
  * summaries); these are their inferential complements, built to the
  * same oracle-gated determinism discipline.
  *
  * Float policy (shared recipe, [[LlmCuration.dsirWeights]]): every
  * statistic keeps counts/ranks/cents in exact integer or
  * DECIMAL(38,0) arithmetic through ALL aggregation, then crosses to
  * DOUBLE once, in a single expression whose operation order is
  * written identically in the Spark plan and the DuckDB oracle;
  * `sqrt` is IEEE-754 correctly rounded in both engines, so identical
  * double inputs give identical outputs; results are round-6.
  */
object StatOps {

  import LlmCuration.dsum

  /** Gini coefficient of customer order spend per market segment —
    * the revenue-concentration diagnostic (Gini 1912; the "how skewed
    * is my key distribution" number that decides whether a 100 TB
    * join needs salting). Formula over ascending-sorted spend x_1..x_n:
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i). Ties contribute
    * Σ i·x over the tie block, which is invariant under any ordering
    * within the block, so the (cents, custkey) sort is deterministic
    * AND tie-order-independent.
    *
    * Determinism: spend is exact cents (round(price·100) → BIGINT,
    * the [[DataOps.benford]] device), ranks are integer, both sums
    * aggregate as DECIMAL(38,0); one double division at the end.
    *
    * Scale shape (VERDICT r14 #2 — the [[DistRank]] migration): the
    * old per-segment row_number window sorted |customers|/|segments|
    * rows in ONE task each. Σ i·x over a tie block is tie-order
    * invariant (scaladoc above), so it collapses to the exact block
    * algebra 2·Σ i·x = x·(2·eq·lt + eq² + eq) on the (segment, cents)
    * value histogram — one fact hash aggregate, [[DistRank.prefixLt]]
    * (bucketed two-level prefix sums, no global sort), one 5-row
    * aggregate. Bit-identical to the window form (DistRankSpec).
    */
  def gini(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val spend = Tables.t(s, dir, "orders")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("c").cast(d)).cast(LongType).as("cents"))
    // no broadcast hint on customer: catalog-sized, AQE picks the
    // strategy (a forced hint OOMs the driver at 100 TB — PlanAuditSpec)
    val seg = spend
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    // blocks feeds the sizes->tiles broadcast build AND the overlap
    // probe -- structurally different consumers, so without the
    // pin the broadcast build re-executes the whole
    // prefix-sum device (the dunnTest shape)
    val blocks = graft.plans.Checkpoint.pin(DistRank.prefixLt(
      seg.groupBy(col("c_mktsegment"), col("cents"))
        .agg(count(lit(1)).as("eq")),
      Seq("c_mktsegment"), "cents", Seq("eq")))
    // 2·Σ rn·cents over the block at rank interval [lt+1, lt+eq]:
    // cents·(2·eq·lt + eq·(eq+1)) — decimal-first products so the
    // algebra stays exact past 2^63 at full scale
    blocks.groupBy(col("c_mktsegment"))
      .agg(sum(col("eq")).as("n_customers"),
        sum(col("cents").cast(d) * col("eq")).as("s"),
        sum(col("cents").cast(d) *
          (col("eq").cast(d) * col("eq_lt") * 2 +
            col("eq").cast(d) * (col("eq") + 1))).as("s1x2"))
      .select(col("c_mktsegment"), col("n_customers"),
        col("s").cast(LongType).as("total_cents"),
        round((col("s1x2") - (col("n_customers") + 1) * col("s"))
          .cast(DoubleType)
          / (col("n_customers") * col("s")).cast(DoubleType), 6).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  val giniOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |seg AS (
      |  SELECT c.c_mktsegment, s.o_custkey, s.cents,
      |    row_number() OVER (PARTITION BY c.c_mktsegment
      |      ORDER BY s.cents, s.o_custkey) AS rn
      |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  round(CAST(2 * SUM(rn * cents) - (COUNT(*) + 1) * SUM(cents) AS DOUBLE)
      |    / CAST(COUNT(*) * SUM(cents) AS DOUBLE), 6) AS gini
      |FROM seg GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Per-type trimmed mean of event values — [[DataOps.winsorize]]'s
    * robust-location sibling: where winsorize CLIPS the tails to the
    * fences, the trimmed mean DROPS them (10% each side) and averages
    * the interior — the location estimate a metrics pipeline reports
    * when heavy tails would swamp a plain mean. Fences are the same
    * round-6-rounded exact percentiles as winsorize (boundary
    * membership can't flip on a last-ulp disagreement); the interior
    * mean sums exact micro-units (round(value·1e6) → BIGINT →
    * DECIMAL(38,0)) and divides once in double.
    *
    * Scale shape: fences ride the [[Pctl.dist]] histogram device (no
    * buffer-everything percentile aggregate on the fact, VERDICT r15
    * #2), one broadcast-back of the 5-row fence relation, one
    * map-combined hash aggregate.
    */
  def trimmedMean(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val fences = Pctl.dist(ev, Seq("event_type"), "value",
      Seq("lo" -> 0.1, "hi" -> 0.9), bounded = true)
    ev.select(col("event_type"), col("value"),
        round(col("value") * 1000000).cast(LongType).as("vm"))
      .join(broadcast(fences), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") >= col("lo") && col("value") <= col("hi"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("value") >= col("lo") && col("value") <= col("hi"),
          col("vm").cast(DecimalType(38, 0)))).as("sm"))
      .select(col("event_type"), col("n_events"), col("n_kept"),
        round(col("sm").cast(DoubleType) / col("n_kept").cast(DoubleType)
          / 1000000.0, 6).as("trimmed_mean"))
      .orderBy(col("event_type"))
  }

  val trimmedMeanOracle: String =
    s"""WITH f AS (SELECT event_type,
      |    ${Pctl.sql("\"value\"", 0.1)} AS lo,
      |    ${Pctl.sql("\"value\"", 0.9)} AS hi
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN e."value" >= f.lo AND e."value" <= f.hi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CAST(SUM(CASE WHEN e."value" >= f.lo AND e."value" <= f.hi
      |      THEN CAST(round(e."value" * 1000000) AS BIGINT) END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN e."value" >= f.lo AND e."value" <= f.hi
      |      THEN 1 ELSE 0 END) AS DOUBLE) / 1000000.0, 6) AS trimmed_mean
      |FROM events e JOIN f USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Chi-square test of independence between market segment and order
    * priority (Pearson 1900), with Cramér's V (1946) as the
    * normalized effect size — the "are these two categoricals
    * actually related" screen a feature-selection pass runs before
    * paying for a high-cardinality crossed feature. Output is the
    * full completed contingency grid (zero cells included, the
    * [[DataOps.benford]] grid-completion device) with per-cell
    * expected counts and chi-square contributions, plus the grid-wide
    * statistic and V on every row so a reviewer sees both the verdict
    * and WHICH cells drive it.
    *
    * Determinism: observed counts and row/column/grand totals are
    * exact integers; expected = CAST(rt·ct AS DOUBLE)/N is one
    * division; per-cell contributions cross-engine-identical doubles;
    * the grid total sums those as DECIMAL(38,12) (order-independent,
    * float policy) before the final sqrt.
    *
    * Scale shape: one fact hash aggregate to the 5×5 grid; everything
    * downstream (totals via window sums, V) runs on ≤25 rows.
    */
  def chi2Assoc(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
    val counts = joined.groupBy(col("seg"), col("pri")).agg(count(lit(1)).as("n"))
    // domain-bounded grid completion (the benford device): broadcast
    // the priority domain so the cross join plans as a bounded BNLJ,
    // never a CartesianProduct
    val grid = counts.select(col("seg")).distinct()
      .crossJoin(broadcast(counts.select(col("pri")).distinct()))
      .join(counts, Seq("seg", "pri"), "left")
      .select(col("seg"), col("pri"), coalesce(col("n"), lit(0L)).as("n"))
    val wAll = Window.partitionBy()
    val dims = grid.agg(countDistinct(col("seg")).as("r"),
      countDistinct(col("pri")).as("c"))
    val expected = (sum(col("n")).over(Window.partitionBy(col("seg")))
      * sum(col("n")).over(Window.partitionBy(col("pri")))).cast(DoubleType) /
      sum(col("n")).over(wAll).cast(DoubleType)
    val withParts = grid
      .withColumn("big_n", sum(col("n")).over(wAll))
      .withColumn("e", expected)
      .withColumn("part",
        (col("n").cast(DoubleType) - col("e")) *
          (col("n").cast(DoubleType) - col("e")) / col("e"))
      .withColumn("chi2",
        sum(col("part").cast(DecimalType(38, 12))).over(wAll).cast(DoubleType))
    withParts.crossJoin(broadcast(dims))
      .select(col("seg").as("c_mktsegment"), col("pri").as("o_orderpriority"),
        col("n"), round(col("e"), 6).as("expected"),
        round(col("part"), 6).as("chi2_part"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") /
          (col("big_n") * (least(col("r"), col("c")) - 1)).cast(DoubleType)), 6)
          .as("cramers_v"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  val chi2AssocOracle: String =
    """WITH j AS (
      |  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |counts AS (SELECT seg, pri, COUNT(*) AS n FROM j GROUP BY 1, 2),
      |grid AS (
      |  SELECT sg.seg, pr.pri, COALESCE(c.n, 0) AS n
      |  FROM (SELECT DISTINCT seg FROM counts) sg
      |  CROSS JOIN (SELECT DISTINCT pri FROM counts) pr
      |  LEFT JOIN counts c ON c.seg = sg.seg AND c.pri = pr.pri),
      |dims AS (SELECT COUNT(DISTINCT seg) AS r, COUNT(DISTINCT pri) AS c
      |  FROM grid),
      |parts AS (
      |  SELECT seg, pri, n,
      |    SUM(n) OVER () AS big_n,
      |    CAST(SUM(n) OVER (PARTITION BY seg) * SUM(n) OVER (PARTITION BY pri)
      |        AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS e
      |  FROM grid),
      |p2 AS (
      |  SELECT *,
      |    (CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e AS part
      |  FROM parts),
      |p3 AS (
      |  SELECT *,
      |    CAST(SUM(CAST(part AS DECIMAL(38,12))) OVER () AS DOUBLE) AS chi2
      |  FROM p2)
      |SELECT p3.seg AS c_mktsegment, p3.pri AS o_orderpriority, p3.n,
      |  round(p3.e, 6) AS expected, round(p3.part, 6) AS chi2_part,
      |  round(p3.chi2, 6) AS chi2,
      |  round(sqrt(p3.chi2
      |    / CAST(p3.big_n * (least(dims.r, dims.c) - 1) AS DOUBLE)), 6)
      |    AS cramers_v
      |FROM p3 CROSS JOIN dims
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  /** Spearman rank correlation (1904) between order value and order
    * width (lineitem count) per priority class — the monotone-
    * association readout that survives the heavy-tailed price
    * distribution a Pearson-on-raw-values would be dominated by.
    * Ranks use the standard mid-rank tie treatment, carried as the
    * INTEGER 2·rank_avg = 2·rank_min + tie_count − 1 so the tie
    * averaging never leaves exact arithmetic (the ×2 scaling cancels
    * in the correlation); the five moment sums aggregate as
    * DECIMAL(38,0) and the Pearson-on-ranks formula crosses to double
    * once: ρ = (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)).
    *
    * Scale shape (VERDICT r14 #2 — [[DistRank]] migration): the old
    * form ran two |orders|/|priorities|-sized rank windows. The
    * doubled midrank 2·rank_min + ties − 1 = 2·cnt_lt + cnt_eq + 1
    * is a pure function of the (pri, value) histogram, so each rank
    * becomes [[DistRank.midrank2]] (hash aggregate + bucketed prefix
    * sums) joined back to the order relation on its own value key —
    * two scalable equi-joins instead of two single-task sorts; one
    * 5-row moment aggregate after. Bit-identical (DistRankSpec).
    */
  def spearman(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("y"))
    // pinned: feeds both midrank histograms AND the final moment
    // join — one orders⋈lines pass instead of three
    val xy = graft.plans.Checkpoint.pin(Tables.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast(LongType).as("x"))
      .join(lines, col("o_orderkey") === col("l_orderkey")))
    // persist=false: both histograms aggregate the ALREADY-pinned
    // xy — re-reading that cache three times beats materializing two
    // more cached copies
    val rx = DistRank.midrank2(xy.select(col("pri"), col("x")),
      Seq("pri"), "x", persist = false)
      .select(col("pri"), col("x"), col("r2").as("rx"))
    val ry = DistRank.midrank2(xy.select(col("pri"), col("y")),
      Seq("pri"), "y", persist = false)
      .select(col("pri"), col("y"), col("r2").as("ry"))
    val d = DecimalType(38, 0)
    xy.join(rx, Seq("pri", "x")).join(ry, Seq("pri", "y"))
      .select(col("pri"), col("rx"), col("ry"))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(d)).as("sx"), sum(col("ry").cast(d)).as("sy"),
        sum((col("rx") * col("rx")).cast(d)).as("sxx"),
        sum((col("ry") * col("ry")).cast(d)).as("syy"),
        sum((col("rx") * col("ry")).cast(d)).as("sxy"))
      .select(col("pri").as("o_orderpriority"), col("n").as("n_orders"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))),
          6).as("rho"))
      .orderBy(col("o_orderpriority"))
  }

  val spearmanOracle: String =
    """WITH lines AS (
      |  SELECT l_orderkey, COUNT(*) AS y FROM lineitem GROUP BY 1),
      |xy AS (
      |  SELECT o.o_orderpriority AS pri,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS x, l.y
      |  FROM orders o JOIN lines l ON o.o_orderkey = l.l_orderkey),
      |r AS (
      |  SELECT pri,
      |    CAST(2 * rank() OVER (PARTITION BY pri ORDER BY x)
      |      + COUNT(*) OVER (PARTITION BY pri, x) - 1 AS BIGINT) AS rx,
      |    CAST(2 * rank() OVER (PARTITION BY pri ORDER BY y)
      |      + COUNT(*) OVER (PARTITION BY pri, y) - 1 AS BIGINT) AS ry
      |  FROM xy),
      |m AS (
      |  SELECT pri, COUNT(*) AS n,
      |    SUM(CAST(rx AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(ry AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(rx * rx AS DECIMAL(38,0))) AS sxx,
      |    SUM(CAST(ry * ry AS DECIMAL(38,0))) AS syy,
      |    SUM(CAST(rx * ry AS DECIMAL(38,0))) AS sxy
      |  FROM r GROUP BY 1)
      |SELECT pri AS o_orderpriority, n AS n_orders,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS rho
      |FROM m ORDER BY o_orderpriority""".stripMargin

  /** Two-proportion A/B experiment readout over the event stream:
    * user_id parity assigns the arm (the deterministic stand-in for a
    * production bucketing hash), per-user conversion = "ever fired a
    * high-value purchase" (props.k ≥ 95 — every user fires SOME
    * purchase at these event densities, so plain any-purchase
    * conversion saturates both arms at 100% and the pooled variance
    * degenerates to zero), and the output is the single experiment row an
    * analyst reads: per-arm denominators and conversions, rates, the
    * absolute and relative lift, and the pooled two-proportion
    * z-statistic (the standard large-sample test; Fleiss, Levin &
    * Paik 2003 §3). Conversion counts are exact integers; the rates,
    * lift, and z cross to double in one expression written
    * identically in both engines (sqrt is IEEE-exact).
    *
    * Scale shape: one fact hash aggregate to users (map-combined
    * max-flag), one 2-row aggregate, one projected row. Nothing after
    * the first aggregate is fact-sized; at 100 TB this is the
    * canonical two-pass funnel readout.
    */
  def abLift(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
        .otherwise(0L)).as("conv"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("conv"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val row = arms.agg(
      sum(when(col("arm") === "A", col("n"))).as("n_a"),
      sum(when(col("arm") === "A", col("c"))).as("conv_a"),
      sum(when(col("arm") === "B", col("n"))).as("n_b"),
      sum(when(col("arm") === "B", col("c"))).as("conv_b"))
    val pA = col("conv_a").cast(DoubleType) / col("n_a").cast(DoubleType)
    val pB = col("conv_b").cast(DoubleType) / col("n_b").cast(DoubleType)
    val pHat = (col("conv_a") + col("conv_b")).cast(DoubleType) /
      (col("n_a") + col("n_b")).cast(DoubleType)
    row.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
      round(pA - pB, 6).as("abs_lift"),
      round(pA / pB, 6).as("rel_lift"),
      round((pA - pB) / sqrt(pHat * (lit(1.0) - pHat) *
        (lit(1.0) / col("n_a").cast(DoubleType)
          + lit(1.0) / col("n_b").cast(DoubleType))), 6).as("z_score"))
  }

  val abLiftOracle: String =
    """WITH users AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
      |      THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |arms AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
      |  FROM users GROUP BY 1),
      |row0 AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN c END) AS BIGINT) AS conv_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN c END) AS BIGINT) AS conv_b
      |  FROM arms)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
      |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
      |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |    - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS abs_lift,
      |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |    / (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)), 6) AS rel_lift,
      |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
      |    AS z_score
      |FROM row0""".stripMargin

  /** Mann–Whitney U rank-sum test (1947) of event value between the
    * two [[abLift]] arms, per event type — the nonparametric
    * complement to the proportion z-test: does arm A's CONTINUOUS
    * metric stochastically dominate arm B's, with no normality
    * assumption a heavy-tailed value column would violate. Mid-ranks
    * ride the same INTEGER 2·rank carry as [[spearman]]; U_A derives
    * from the rank sum (U = R_A − n_A(n_A+1)/2, kept as the exact
    * even/odd-safe half of an integer), and the z-statistic uses the
    * tie-corrected variance n_A·n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1)))
    * (Lehmann 1975), with the tie spectrum Σ(t³−t) summed exactly
    * from integer tie counts.
    *
    * Scale shape (VERDICT r14 #2 — [[DistRank]] migration): ONE
    * map-combined hash aggregate to the (type, value) histogram
    * carrying the per-value A-arm split, [[DistRank.midrank2]] for the
    * doubled midranks (bucketed prefix sums — no fact-sized window),
    * then rank sums AND the tie spectrum fall out of the same
    * histogram in one 5-row aggregate. Bit-identical (DistRankSpec).
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
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
        // when-guard keeps the no-A-rows degenerate case NULL, exactly
        // like the old CASE-summed form (and the oracle's)
        sum(when(col("na_v") > 0, col("r2").cast(d) * col("na_v"))).as("s2a"),
        sum(col("eq").cast(d) * col("eq") * col("eq") - col("eq")).as("tie3"))
    val num2 = col("s2a") - col("n_a") * (col("n_a") + 1) - col("n_a") * col("n_b")
    val bigN = col("n_a") + col("n_b")
    val varU = (col("n_a") * col("n_b")).cast(DoubleType) / 12.0 *
      ((bigN + 1).cast(DoubleType) -
        col("tie3").cast(DoubleType) / (bigN * (bigN - 1)).cast(DoubleType))
    agg
      .select(col("t").as("event_type"), col("n_a"), col("n_b"),
        ((col("s2a") - col("n_a") * (col("n_a") + 1)).cast(DoubleType) / 2.0)
          .as("u_a"),
        round(num2.cast(DoubleType) / 2.0 / sqrt(varU), 6).as("z_score"))
      .orderBy(col("event_type"))
  }

  val mannWhitneyOracle: String =
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
      |ties AS (
      |  SELECT t, SUM(CAST(tt * tt * tt - tt AS DECIMAL(38,0))) AS tie3
      |  FROM (SELECT t, "value", COUNT(*) AS tt FROM ev GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT agg.t AS event_type, agg.n_a, agg.n_b,
      |  CAST(agg.s2a - agg.n_a * (agg.n_a + 1) AS DOUBLE) / 2.0 AS u_a,
      |  round(CAST(agg.s2a - agg.n_a * (agg.n_a + 1) - agg.n_a * agg.n_b AS DOUBLE)
      |    / 2.0 / sqrt(CAST(agg.n_a * agg.n_b AS DOUBLE) / 12.0
      |      * (CAST(agg.n_a + agg.n_b + 1 AS DOUBLE)
      |        - CAST(ties.tie3 AS DOUBLE)
      |          / CAST((agg.n_a + agg.n_b) * (agg.n_a + agg.n_b - 1) AS DOUBLE))),
      |    6) AS z_score
      |FROM agg JOIN ties ON agg.t = ties.t
      |ORDER BY event_type""".stripMargin

  /** The deterministic experiment clock: the midpoint of the event
    * stream's time span, derived relationally (one 1-row min/max
    * aggregate, broadcast back) — both engines compute the same
    * integer microsecond. Events strictly before it are "pre",
    * the rest "post".
    */
  private def withPeriod(ev: DataFrame): DataFrame = {
    // DIV, not "/": Spark's / on longs is DOUBLE division, and the
    // micros sum exceeds 2^53 — the exact integer midpoint must match
    // DuckDB's // to the microsecond
    val bounds = ev.agg(expr(
      "(min(unix_micros(ts)) + max(unix_micros(ts))) DIV 2").as("mid"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("period",
        when(unix_micros(col("ts")) < col("mid"), "pre").otherwise("post"))
  }

  private val PeriodSql: String =
    """SELECT CAST((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS BIGINT) AS mid
      |  FROM events""".stripMargin

  /** Difference-in-differences estimate of the arm effect on event
    * value (Card & Krueger 1994's workhorse design): arms from the
    * [[abLift]] user-parity bucketing, periods from the relational
    * stream midpoint, cell means from exact micro-unit sums, and
    * DID = (post_A − pre_A) − (post_B − pre_B) computed from the four
    * UNROUNDED means in one fixed-order double expression — the
    * estimator that nets out both the arm's level difference and the
    * common time trend. One experiment row: cell counts, cell means,
    * the two deltas, and the estimate.
    *
    * Scale shape: one 1-row bounds aggregate + one map-combined hash
    * aggregate to the 4-cell grid; everything after runs on 4 rows.
    */
  def didEstimate(s: SparkSession, dir: String): DataFrame = {
    val cells = withPeriod(Tables.t(s, dir, "events"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("period"),
        round(col("value") * 1000000).cast(LongType).as("vm"))
      .groupBy(col("arm"), col("period"))
      .agg(count(lit(1)).as("n"), sum(col("vm").cast(DecimalType(38, 0))).as("sm"))
    def cell(arm: String, period: String, f: String): Column =
      sum(when(col("arm") === arm && col("period") === period, col(f)))
    val row = cells.agg(
      cell("A", "pre", "n").as("n_pre_a"), cell("A", "post", "n").as("n_post_a"),
      cell("B", "pre", "n").as("n_pre_b"), cell("B", "post", "n").as("n_post_b"),
      cell("A", "pre", "sm").as("s_pre_a"), cell("A", "post", "sm").as("s_post_a"),
      cell("B", "pre", "sm").as("s_pre_b"), cell("B", "post", "sm").as("s_post_b"))
    def mean(sm: String, n: String): Column =
      col(sm).cast(DoubleType) / col(n).cast(DoubleType) / 1000000.0
    val deltaA = mean("s_post_a", "n_post_a") - mean("s_pre_a", "n_pre_a")
    val deltaB = mean("s_post_b", "n_post_b") - mean("s_pre_b", "n_pre_b")
    row.select(col("n_pre_a"), col("n_post_a"), col("n_pre_b"), col("n_post_b"),
      round(mean("s_pre_a", "n_pre_a"), 6).as("mean_pre_a"),
      round(mean("s_post_a", "n_post_a"), 6).as("mean_post_a"),
      round(mean("s_pre_b", "n_pre_b"), 6).as("mean_pre_b"),
      round(mean("s_post_b", "n_post_b"), 6).as("mean_post_b"),
      round(deltaA, 6).as("delta_a"), round(deltaB, 6).as("delta_b"),
      round(deltaA - deltaB, 6).as("did"))
  }

  val didOracle: String = {
    def m(sm: String, n: String) =
      s"CAST($sm AS DOUBLE) / CAST($n AS DOUBLE) / 1000000.0"
    val dA = s"(${m("s_post_a", "n_post_a")} - ${m("s_pre_a", "n_pre_a")})"
    val dB = s"(${m("s_post_b", "n_post_b")} - ${m("s_pre_b", "n_pre_b")})"
    s"""WITH mid AS ($PeriodSql),
       |cells AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CASE WHEN epoch_us(ts) < mid.mid THEN 'pre' ELSE 'post' END AS period,
       |    COUNT(*) AS n,
       |    SUM(CAST(CAST(round("value" * 1000000) AS BIGINT) AS DECIMAL(38,0))) AS sm
       |  FROM events CROSS JOIN mid GROUP BY 1, 2),
       |row0 AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 'A' AND period = 'pre' THEN n END) AS BIGINT) AS n_pre_a,
       |    CAST(SUM(CASE WHEN arm = 'A' AND period = 'post' THEN n END) AS BIGINT) AS n_post_a,
       |    CAST(SUM(CASE WHEN arm = 'B' AND period = 'pre' THEN n END) AS BIGINT) AS n_pre_b,
       |    CAST(SUM(CASE WHEN arm = 'B' AND period = 'post' THEN n END) AS BIGINT) AS n_post_b,
       |    SUM(CASE WHEN arm = 'A' AND period = 'pre' THEN sm END) AS s_pre_a,
       |    SUM(CASE WHEN arm = 'A' AND period = 'post' THEN sm END) AS s_post_a,
       |    SUM(CASE WHEN arm = 'B' AND period = 'pre' THEN sm END) AS s_pre_b,
       |    SUM(CASE WHEN arm = 'B' AND period = 'post' THEN sm END) AS s_post_b
       |  FROM cells)
       |SELECT n_pre_a, n_post_a, n_pre_b, n_post_b,
       |  round(${m("s_pre_a", "n_pre_a")}, 6) AS mean_pre_a,
       |  round(${m("s_post_a", "n_post_a")}, 6) AS mean_post_a,
       |  round(${m("s_pre_b", "n_pre_b")}, 6) AS mean_pre_b,
       |  round(${m("s_post_b", "n_post_b")}, 6) AS mean_post_b,
       |  round($dA, 6) AS delta_a, round($dB, 6) AS delta_b,
       |  round($dA - $dB, 6) AS did
       |FROM row0""".stripMargin
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    * per-user PRE-period value as the covariate for the POST-period
    * metric — the production experimentation technique that shrinks
    * the A/B confidence interval without touching the treatment.
    * θ = cov(x,y)/var(x) pooled over both arms, adjusted metric
    * y − θ(x − x̄); reported per arm with the pooled θ and the
    * squared correlation (the theoretical variance-reduction
    * fraction). Per-user sums are exact micro-unit integers, the five
    * moment sums aggregate as DECIMAL(38,0) (products of user sums
    * overflow BIGINT), and θ/means cross to double in one fixed-order
    * expression each.
    *
    * Scale shape: one fact hash aggregate to users, one 1-row moment
    * aggregate + one 2-row arm aggregate joined back — nothing
    * fact-sized after the first pass.
    */
  def cuped(s: SparkSession, dir: String): DataFrame =
    cupedRaw(s, dir)
      .select(col("arm"), col("n_users"),
        round(col("mean_post0"), 6).as("mean_post"),
        round(col("mean_post_cuped0"), 6).as("mean_post_cuped"),
        round(col("theta0"), 6).as("theta"),
        round(col("corr20"), 6).as("var_reduction"))
      .orderBy(col("arm"))

  /** Pre-round doubles — RoundingAuditSpec's probe surface. */
  private[graft] def cupedRaw(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val users = withPeriod(Tables.t(s, dir, "events"))
      .select(col("user_id"),
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("period"), round(col("value") * 1000000).cast(LongType).as("vm"))
      .groupBy(col("user_id"), col("arm"))
      .agg(coalesce(sum(when(col("period") === "pre", col("vm"))), lit(0L)).as("x"),
        coalesce(sum(when(col("period") === "post", col("vm"))), lit(0L)).as("y"))
    val moments = users.agg(count(lit(1)).as("n"),
      sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
      sum((col("x").cast(d) * col("x"))).as("sxx"),
      sum((col("y").cast(d) * col("y"))).as("syy"),
      sum((col("x").cast(d) * col("y"))).as("sxy"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x").cast(d)).as("sxa"), sum(col("y").cast(d)).as("sya"))
    val theta = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    val corr2 = ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) *
      (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)) /
      ((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
        (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType))
    val meanY = col("sya").cast(DoubleType) / col("n_users").cast(DoubleType)
    val meanAdj = meanY - theta *
      (col("sxa").cast(DoubleType) / col("n_users").cast(DoubleType) -
        col("sx").cast(DoubleType) / col("n").cast(DoubleType))
    arms.crossJoin(broadcast(moments))
      .select(col("arm"), col("n_users"),
        (meanY / 1000000.0).as("mean_post0"),
        (meanAdj / 1000000.0).as("mean_post_cuped0"),
        theta.as("theta0"),
        corr2.as("corr20"))
  }

  val cupedOracle: String = {
    val num = "CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)"
    val denX = "CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)"
    val denY = "CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE)"
    s"""WITH mid AS ($PeriodSql),
       |users AS (
       |  SELECT user_id,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid.mid
       |      THEN CAST(round("value" * 1000000) AS BIGINT) END), 0) AS BIGINT) AS x,
       |    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= mid.mid
       |      THEN CAST(round("value" * 1000000) AS BIGINT) END), 0) AS BIGINT) AS y
       |  FROM events CROSS JOIN mid GROUP BY 1, 2),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
       |    SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
       |    SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy,
       |    SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy
       |  FROM users),
       |arms AS (
       |  SELECT arm, COUNT(*) AS n_users,
       |    SUM(CAST(x AS DECIMAL(38,0))) AS sxa, SUM(CAST(y AS DECIMAL(38,0))) AS sya
       |  FROM users GROUP BY 1)
       |SELECT arms.arm, arms.n_users,
       |  round(CAST(arms.sya AS DOUBLE) / CAST(arms.n_users AS DOUBLE)
       |    / 1000000.0, 6) AS mean_post,
       |  round((CAST(arms.sya AS DOUBLE) / CAST(arms.n_users AS DOUBLE)
       |    - ($num / $denX)
       |      * (CAST(arms.sxa AS DOUBLE) / CAST(arms.n_users AS DOUBLE)
       |        - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE)))
       |    / 1000000.0, 6) AS mean_post_cuped,
       |  round($num / $denX, 6) AS theta,
       |  round(($num * $num) / ($denX * $denY), 6) AS var_reduction
       |FROM arms CROSS JOIN m
       |ORDER BY arms.arm""".stripMargin
  }

  /** Weight of evidence + information value (the credit-scoring
    * feature screen, Siddiqi 2006): how well does the customer's
    * market segment separate returned orders from clean ones?
    * Per segment: WoE = ln((good_i/G)/(bad_i/B)), written as ONE ln
    * over the exact integer cross-ratio good_i·B/(bad_i·G); the
    * information value sums (good_i/G − bad_i/B)·WoE over segments
    * through a DECIMAL(38,12) window (float policy). IV < 0.02 ⇒ the
    * feature is useless — the screen a feature pipeline runs before
    * paying for a high-cardinality encode ([[DataOps.psiDrift]]'s
    * modeling-side sibling; same ln discipline).
    *
    * Scale shape: one distinct on the returned-order keys, one
    * fact⋈dim join + left probe, one hash aggregate to the segment
    * grid; the WoE/IV arithmetic runs on 5 rows.
    */
  def woeIv(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables.t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey")).distinct()
    val flagged = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("c_mktsegment").as("seg"),
        when(col("l_orderkey").isNotNull, 1L).otherwise(0L).as("bad"))
    val grid = flagged.groupBy(col("seg"))
      .agg(sum(lit(1L) - col("bad")).as("n_good"), sum(col("bad")).as("n_bad"))
    val wAll = Window.partitionBy()
    val g = sum(col("n_good")).over(wAll)
    val b = sum(col("n_bad")).over(wAll)
    val woe = log((col("n_good") * b).cast(DoubleType)
      / (col("n_bad") * g).cast(DoubleType))
    val ivPart = (col("n_good").cast(DoubleType) / col("big_g").cast(DoubleType)
      - col("n_bad").cast(DoubleType) / col("big_b").cast(DoubleType)) * col("woe0")
    grid
      .withColumn("big_g", g).withColumn("big_b", b)
      .withColumn("woe0", woe)
      .withColumn("iv_part0", ivPart)
      .withColumn("iv0",
        sum(col("iv_part0").cast(DecimalType(38, 12))).over(wAll).cast(DoubleType))
      .select(col("seg").as("c_mktsegment"), col("n_good"), col("n_bad"),
        round(col("woe0"), 6).as("woe"),
        round(col("iv_part0"), 6).as("iv_part"),
        round(col("iv0"), 6).as("iv"))
      .orderBy(col("c_mktsegment"))
  }

  val woeIvOracle: String =
    """WITH ret AS (SELECT DISTINCT l_orderkey FROM lineitem
      |  WHERE l_returnflag = 'R'),
      |flagged AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CASE WHEN r.l_orderkey IS NOT NULL THEN 1 ELSE 0 END AS bad
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  LEFT JOIN ret r ON o.o_orderkey = r.l_orderkey),
      |grid AS (
      |  SELECT seg, CAST(SUM(1 - bad) AS BIGINT) AS n_good,
      |    CAST(SUM(bad) AS BIGINT) AS n_bad
      |  FROM flagged GROUP BY 1),
      |w AS (
      |  SELECT seg, n_good, n_bad,
      |    SUM(n_good) OVER () AS big_g, SUM(n_bad) OVER () AS big_b,
      |    ln(CAST(n_good * SUM(n_bad) OVER () AS DOUBLE)
      |      / CAST(n_bad * SUM(n_good) OVER () AS DOUBLE)) AS woe0
      |  FROM grid),
      |p AS (
      |  SELECT *,
      |    (CAST(n_good AS DOUBLE) / CAST(big_g AS DOUBLE)
      |      - CAST(n_bad AS DOUBLE) / CAST(big_b AS DOUBLE)) * woe0 AS iv_part0
      |  FROM w)
      |SELECT seg AS c_mktsegment, n_good, n_bad,
      |  round(woe0, 6) AS woe, round(iv_part0, 6) AS iv_part,
      |  round(CAST(SUM(CAST(iv_part0 AS DECIMAL(38,12))) OVER () AS DOUBLE), 6)
      |    AS iv
      |FROM p ORDER BY c_mktsegment""".stripMargin

  /** Lorenz decile curve per market segment — [[gini]]'s readable
    * companion: customers ranked by spend ascending, cut into NTILE
    * deciles (deterministic (cents, custkey) order; both engines
    * follow the SQL-standard "first n mod k buckets get the extra
    * row" fill), each decile reporting its exact cent total and the
    * CUMULATIVE share — the "bottom 80% of customers hold x% of
    * revenue" curve, and the per-decile decomposition of where the
    * Gini number comes from.
    *
    * Scale shape (VERDICT r14 #2 — [[DistRank]] migration): same
    * front as gini — fact aggregate to customer spend, dim join, then
    * the per-segment NTILE collapses onto the (segment, cents) value
    * histogram: a tie block occupies the EXACT rank interval
    * [lt+1, lt+eq] (cents is the sort key, custkey only permutes
    * equal-cents customers, and both the per-decile count and cent
    * sum are invariant under that permutation), so an interval-
    * overlap join against [[DistRank.tileBounds]]'s 50-row decile
    * boundary relation yields every decile aggregate with no
    * customer-sized sort. Window sums stay on the ≤50-row grid.
    * Bit-identical (DistRankSpec pins tileBounds against ntile).
    */
  def lorenzDeciles(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val spend = Tables.t(s, dir, "orders")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("c").cast(d0)).cast(LongType).as("cents"))
    val seg = spend
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val blocks = DistRank.prefixLt(
      seg.groupBy(col("c_mktsegment"), col("cents"))
        .agg(count(lit(1)).as("eq")),
      Seq("c_mktsegment"), "cents", Seq("eq"))
    val sizes = blocks.groupBy(col("c_mktsegment")).agg(sum(col("eq")).as("n"))
    val tiles = DistRank.tileBounds(sizes, "n", 10)
      .select(col("c_mktsegment").as("seg_t"), col("tile").as("decile"),
        col("tile_lo"), col("tile_hi"))
    // equi-join on segment + interval-overlap residual; the tile side
    // is 5 segments × 10 deciles = 50 broadcast rows
    val overlap = blocks.join(broadcast(tiles),
      col("c_mktsegment") === col("seg_t") &&
        col("eq_lt") + 1 <= col("tile_hi") &&
        col("eq_lt") + col("eq") >= col("tile_lo"))
      .withColumn("k",
        least(col("tile_hi"), col("eq_lt") + col("eq")) -
          greatest(col("tile_lo"), col("eq_lt") + 1) + 1)
    val grid = overlap.groupBy(col("c_mktsegment"), col("decile"))
      .agg(sum(col("k")).as("n_customers"),
        sum(col("cents").cast(d0) * col("k")).as("sm"))
    val wSeg = Window.partitionBy(col("c_mktsegment"))
    grid
      .withColumn("total", sum(col("sm")).over(wSeg))
      .withColumn("cum", sum(col("sm")).over(
        wSeg.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("c_mktsegment"), col("decile").cast(LongType).as("decile"),
        col("n_customers"), col("sm").cast(LongType).as("decile_cents"),
        round(col("cum").cast(DoubleType) / col("total").cast(DoubleType), 6)
          .as("cum_share"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  val lorenzOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |seg AS (
      |  SELECT c.c_mktsegment, s.cents,
      |    ntile(10) OVER (PARTITION BY c.c_mktsegment
      |      ORDER BY s.cents, s.o_custkey) AS decile
      |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
      |grid AS (
      |  SELECT c_mktsegment, decile, COUNT(*) AS n_customers,
      |    SUM(CAST(cents AS DECIMAL(38,0))) AS sm
      |  FROM seg GROUP BY 1, 2)
      |SELECT c_mktsegment, CAST(decile AS BIGINT) AS decile, n_customers,
      |  CAST(sm AS BIGINT) AS decile_cents,
      |  round(CAST(SUM(sm) OVER (PARTITION BY c_mktsegment ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(SUM(sm) OVER (PARTITION BY c_mktsegment) AS DOUBLE), 6)
      |    AS cum_share
      |FROM grid ORDER BY c_mktsegment, decile""".stripMargin

  private val SurvivalCensorHours = 12

  /** Kaplan–Meier survival curve (1958 product-limit estimator) of
    * user LIFETIME in the event stream: lifetime = whole HOURS between
    * a user's first and last event (the stream spans ~30 days — hour
    * granularity gives the curve ~85 distinct steps where days would
    * give 5); a user whose last event falls
    * within [[SurvivalCensorHours]] of the stream end is CENSORED
    * (still alive at the observation boundary — the right-censoring
    * that makes naive "mean lifetime" estimates wrong and KM the
    * standard fix). At each distinct churn time t: n_t = users still
    * at risk (lifetime ≥ t), d_t = churns at t,
    * S(t) = Π_{u≤t} (1 − d_u/n_u).
    *
    * Float policy ([[LlmCuration.dsirWeights]]): the product runs as
    * exp(Σ ln(1 − d/n)) with each factor an exact integer ratio
    * (n−d)/n divided once in double; the Σ aggregates the per-step
    * ln as DECIMAL(38,12) through an ordered window (summation order
    * fixed by construction); a cumulative factor of exactly zero
    * (everyone at risk churns) short-circuits to S = 0 relationally
    * on both engines, so ln(0) never evaluates.
    *
    * Scale shape: one fact hash aggregate to users, one aggregate to
    * the distinct-lifetime grid; the risk-set and survival windows
    * run over ≤|distinct lifetimes| rows.
    */
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    val bounds = users.agg(max(col("last_us")).as("end_us"))
    val lives = users.crossJoin(broadcast(bounds))
      .select(expr(s"(last_us - first_us) DIV $HourUs").as("t"),
        (col("last_us") < col("end_us") - SurvivalCensorHours * HourUs)
          .cast(LongType).as("churn"))
    val grid = lives.groupBy(col("t"))
      .agg(count(lit(1)).as("c"), sum(col("churn")).as("d"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("n_risk", sum(col("c")).over(wDesc))
      .filter(col("d") > 0)
      .withColumn("lnf",
        log((col("n_risk") - col("d")).cast(DoubleType)
          / col("n_risk").cast(DoubleType)))
      .withColumn("dead", min(col("n_risk") - col("d")).over(wAsc))
      .withColumn("s_t",
        when(col("dead") === 0, lit(0.0)).otherwise(
          exp(sum(when(col("n_risk") > col("d"),
            col("lnf").cast(DecimalType(38, 12)))).over(wAsc)
            .cast(DoubleType))))
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("n_churn"),
        round(col("s_t"), 6).as("survival"))
      .orderBy(col("t_hours"))
  }

  val survivalKmOracle: String =
    s"""WITH users AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
       |    MAX(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY 1),
       |bounds AS (SELECT MAX(last_us) AS end_us FROM users),
       |lives AS (
       |  SELECT (last_us - first_us) // 3600000000 AS t,
       |    CASE WHEN last_us < end_us - $SurvivalCensorHours * 3600000000
       |      THEN 1 ELSE 0 END AS churn
       |  FROM users CROSS JOIN bounds),
       |grid AS (SELECT t, COUNT(*) AS c, CAST(SUM(churn) AS BIGINT) AS d
       |  FROM lives GROUP BY 1),
       |risk AS (
       |  SELECT t, c, d,
       |    CAST(SUM(c) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS n_risk
       |  FROM grid),
       |steps AS (
       |  SELECT t, n_risk, d,
       |    ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) AS lnf
       |  FROM risk WHERE d > 0),
       |acc AS (
       |  SELECT t, n_risk, d,
       |    MIN(n_risk - d) OVER (ORDER BY t
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
       |    SUM(CASE WHEN n_risk > d THEN CAST(lnf AS DECIMAL(38,12)) END)
       |      OVER (ORDER BY t
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
       |  FROM steps)
       |SELECT t AS t_hours, n_risk, d AS n_churn,
       |  round(CASE WHEN dead = 0 THEN 0.0
       |    ELSE exp(CAST(lnsum AS DOUBLE)) END, 6) AS survival
       |FROM acc ORDER BY t_hours""".stripMargin

  /** Welch's unequal-variance t-test (1947) of event value between
    * the A/B arms per event type — the parametric member of the
    * experiment-readout family ([[abLift]] proportions,
    * [[mannWhitney]] ranks, this one means): t and the
    * Welch–Satterthwaite degrees of freedom from per-arm moment sums
    * of exact micro-units. The t statistic is scale-invariant, so the
    * whole computation stays in micro-units (no /1e6 until the
    * reported means); sample variances use the n·Σx²−(Σx)² form over
    * DECIMAL sums with one double crossing each.
    *
    * Scale shape: one map-combined fact aggregate to the (type, arm)
    * grid; the test arithmetic runs on 5 rows.
    */
  def welchTTest(s: SparkSession, dir: String): DataFrame = {
    val seA = armSe("a")
    val seB = armSe("b")
    val tStat = (armMean("a") - armMean("b")) / sqrt(seA + seB)
    val dof = (seA + seB) * (seA + seB) /
      (seA * seA / (col("n_a") - 1).cast(DoubleType)
        + seB * seB / (col("n_b") - 1).cast(DoubleType))
    armMoments(s, dir).select(col("t").as("event_type"),
      col("n_a").cast(LongType).as("n_a"), col("n_b").cast(LongType).as("n_b"),
      round(armMean("a") / 1000000.0, 6).as("mean_a"),
      round(armMean("b") / 1000000.0, 6).as("mean_b"),
      round(tStat, 6).as("t_stat"), round(dof, 6).as("dof"))
      .orderBy(col("event_type"))
  }

  /** Per event type, (t, n_x, sx_x, sxx_x) for arms x ∈ {a, b}: exact
    * micro-unit moments, sums in DECIMAL(38,0).
    */
  private[queries] def armMoments(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val grid = Tables.t(s, dir, "events")
      .select(col("event_type").as("t"),
        when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        round(col("value") * 1000000).cast(LongType).as("vm"))
      .groupBy(col("t"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("vm").cast(d)).as("sx"),
        sum((col("vm").cast(d) * col("vm"))).as("sxx"))
    def pick(arm: String, f: String): Column =
      sum(when(col("arm") === arm, col(f)))
    grid.groupBy(col("t"))
      .agg(pick("A", "n").as("n_a"), pick("A", "sx").as("sx_a"),
        pick("A", "sxx").as("sxx_a"),
        pick("B", "n").as("n_b"), pick("B", "sx").as("sx_b"),
        pick("B", "sxx").as("sxx_b"))
  }

  /** Arm `x`'s mean and squared standard error over [[armMoments]], in
    * micro-units, each with its oracle rendering.
    */
  private[queries] def armMean(x: String): Column =
    col(s"sx_$x").cast(DoubleType) / col(s"n_$x").cast(DoubleType)
  private[queries] def armSe(x: String): Column = {
    val n = col(s"n_$x")
    (n * col(s"sxx_$x") - col(s"sx_$x") * col(s"sx_$x")).cast(DoubleType) /
      (n * (n - 1)).cast(DoubleType) / n.cast(DoubleType)
  }
  private[queries] def armSeSql(x: String): String =
    s"(CAST(n_$x * sxx_$x - sx_$x * sx_$x AS DOUBLE) / CAST(n_$x * (n_$x - 1) AS DOUBLE) / CAST(n_$x AS DOUBLE))"

  val welchOracle: String = {
    val vA = armSeSql("a")
    val vB = armSeSql("b")
    s"""WITH ev AS (
       |  SELECT event_type AS t,
       |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    CAST(round("value" * 1000000) AS BIGINT) AS vm
       |  FROM events),
       |grid AS (
       |  SELECT t, arm, COUNT(*) AS n,
       |    SUM(CAST(vm AS DECIMAL(38,0))) AS sx,
       |    SUM(CAST(vm AS DECIMAL(38,0)) * vm) AS sxx
       |  FROM ev GROUP BY 1, 2),
       |row0 AS (
       |  SELECT t,
       |    SUM(CASE WHEN arm = 'A' THEN n END) AS n_a,
       |    SUM(CASE WHEN arm = 'A' THEN sx END) AS sx_a,
       |    SUM(CASE WHEN arm = 'A' THEN sxx END) AS sxx_a,
       |    SUM(CASE WHEN arm = 'B' THEN n END) AS n_b,
       |    SUM(CASE WHEN arm = 'B' THEN sx END) AS sx_b,
       |    SUM(CASE WHEN arm = 'B' THEN sxx END) AS sxx_b
       |  FROM grid GROUP BY 1)
       |SELECT t AS event_type, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  round(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1000000.0, 6) AS mean_a,
       |  round(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000000.0, 6) AS mean_b,
       |  round((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |      - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |    / sqrt($vA + $vB), 6) + 0.0 AS t_stat,
       |  round(($vA + $vB) * ($vA + $vB)
       |    / ($vA * $vA / CAST(n_a - 1 AS DOUBLE)
       |      + $vB * $vB / CAST(n_b - 1 AS DOUBLE)), 6) AS dof
       |FROM row0 ORDER BY event_type""".stripMargin
  }

  // standard normal quantiles as round-6 literals (no query-time
  // inverse-CDF: z_{0.975} for α=0.05 two-sided, z_{0.80} for power)
  private val ZAlpha = 1.959964
  private val ZBeta = 0.841621

  /** Two-proportion power analysis over the live experiment (Fleiss
    * et al. 2003 §4; the "how long must this test run" readout every
    * experimentation platform pairs with the z-test): from the
    * observed [[abLift]] conversion rates, (a) the required per-arm
    * sample size to detect the OBSERVED difference at α = 0.05 /
    * power = 0.8 — n = (z_{α/2}+z_β)²(p₁q₁+p₂q₂)/(p₁−p₂)², reported
    * as a ceiling — and (b) the minimum detectable ABSOLUTE effect at
    * the CURRENT per-arm size — the same formula solved for the
    * difference. The normal quantiles are round-6 literals (no
    * query-time inverse CDF, the [[DataOps.benford]] literal device);
    * everything else is the exact conversion integers crossed to
    * double in one expression per output.
    *
    * Scale shape: identical to abLift — one map-combined fact
    * aggregate to users, one 2-row aggregate, one projected row.
    */
  def powerMde(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
        .otherwise(0L)).as("conv"))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        col("conv"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val row = arms.agg(
      sum(when(col("arm") === "A", col("n"))).as("n_a"),
      sum(when(col("arm") === "A", col("c"))).as("conv_a"),
      sum(when(col("arm") === "B", col("n"))).as("n_b"),
      sum(when(col("arm") === "B", col("c"))).as("conv_b"))
    val pA = col("conv_a").cast(DoubleType) / col("n_a").cast(DoubleType)
    val pB = col("conv_b").cast(DoubleType) / col("n_b").cast(DoubleType)
    val zSum2 = lit((ZAlpha + ZBeta) * (ZAlpha + ZBeta))
    val varSum = pA * (lit(1.0) - pA) + pB * (lit(1.0) - pB)
    val nReq = ceil(zSum2 * varSum / ((pA - pB) * (pA - pB))).cast(LongType)
    val mde = sqrt(zSum2 * varSum / col("n_a").cast(DoubleType))
    row.select(col("n_a"), col("n_b"),
      round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
      nReq.as("n_required_per_arm"),
      round(mde, 6).as("mde_at_current_n"))
  }

  val powerMdeOracle: String = {
    val z2 = (ZAlpha + ZBeta) * (ZAlpha + ZBeta)
    s"""WITH users AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase'
       |      AND TRY_CAST(json_extract_string(props, '$$.k') AS INTEGER) >= 95
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY 1),
       |arms AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
       |  FROM users GROUP BY 1),
       |row0 AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN arm = 'A' THEN c END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS n_b,
       |    CAST(SUM(CASE WHEN arm = 'B' THEN c END) AS BIGINT) AS conv_b
       |  FROM arms),
       |calc AS (
       |  SELECT n_a, n_b,
       |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
       |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb
       |  FROM row0)
       |SELECT n_a, n_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
       |  CAST(ceil($z2 * (pa * (1.0 - pa) + pb * (1.0 - pb))
       |    / ((pa - pb) * (pa - pb))) AS BIGINT) AS n_required_per_arm,
       |  round(sqrt($z2 * (pa * (1.0 - pa) + pb * (1.0 - pb))
       |    / CAST(n_a AS DOUBLE)), 6) AS mde_at_current_n
       |FROM calc""".stripMargin
  }

  /** Log-log price elasticity of demand per part brand (the classic
    * constant-elasticity regression ln q = a + b·ln p — the pricing
    * team's one-number demand-curve readout, and a screen for catalog
    * segments where demand ignores price): per part, total ordered
    * quantity vs catalog price; per brand, OLS over the part-level
    * points (the [[graft.queries.LlmCuration.zipfFit]] recipe:
    * DECIMAL-summed ln moments, fixed-order crossings).
    *
    * Float policy: ln inputs are exact integers — catalog cents
    * (round(p_retailprice·100)→BIGINT) and unit totals
    * (round(l_quantity)→BIGINT sums) — so both engines feed libm the
    * same values; moments ride DECIMAL(38,12).
    *
    * Scale shape: ONE fact aggregate collapses lineitem to the part
    * grid; the regression runs on catalog-sized relations (the
    * broadcast part join, the 25-brand OLS). Nothing after the first
    * aggregate is fact-sized.
    */
  def elasticity(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.t(s, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("units"))
      .groupBy(col("l_partkey")).agg(sum(col("units")).as("q_units"))
    val pts = Tables.t(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("cents"))
      .join(qty, col("p_partkey") === col("l_partkey"))
      .select(col("p_brand").as("brand"),
        log(col("cents").cast(DoubleType)).as("x"),
        log(col("q_units").cast(DoubleType)).as("y"))
    val m = pts.groupBy(col("brand")).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("brand"), col("n").cast("long").as("n_parts"),
        round(cov / vx, 6).as("elasticity"),
        round((col("sy") - (cov / vx) * col("sx")) / col("n"), 6).as("intercept"),
        round((cov * cov) / (vx * vy), 6).as("r2"))
      .orderBy(col("brand"))
  }

  val elasticityOracle: String =
    """WITH qty AS (
      |  SELECT l_partkey, SUM(CAST(round(l_quantity) AS BIGINT)) AS q_units
      |  FROM lineitem GROUP BY 1),
      |pts AS (
      |  SELECT p.p_brand AS brand,
      |    ln(CAST(CAST(round(p.p_retailprice * 100) AS BIGINT) AS DOUBLE)) AS x,
      |    ln(CAST(q.q_units AS DOUBLE)) AS y
      |  FROM part p JOIN qty q ON p.p_partkey = q.l_partkey),
      |m AS (SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM pts GROUP BY 1)
      |SELECT brand, CAST(n AS BIGINT) AS n_parts,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m ORDER BY brand""".stripMargin

  /** Cumulative GAINS curve (the marketing-science response-decile
    * chart behind every "top 20% of customers drive X% of purchases"
    * claim, and the model-free baseline a propensity model must beat):
    * rank users by PRE-period spend (the targeting score), cut into
    * deciles best-first, and report each decile's cumulative share of
    * POST-period purchases plus the lift over random targeting.
    *
    * Float policy: spend and responses are exact integers; shares are
    * single divisions; the lift is ONE division of the exact integer
    * cross-ratio cum_resp·total_users / (cum_users·total_resp).
    *
    * Scale shape (VERDICT r14 #2 — [[DistRank]] migration): one fact
    * pass to the user grid (the [[cuped]] period device), then the
    * global NTILE decomposes as [[DistRank.rowNumber]] (bucketed
    * two-level rank — the (pre_vm, user_id) key is unique, so ranks
    * are exact with no tie algebra) + the SQL-standard closed form
    * [[DistRank.ntileOf]] against the broadcast 1-row user count;
    * windowed sums on the 10-row decile grid. Bit-identical
    * (DistRankSpec pins both primitives against the window forms).
    */
  def gainsCurve(s: SparkSession, dir: String): DataFrame = {
    val users = withPeriod(Tables.t(s, dir, "events"))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("period") === "pre",
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("pre_vm"),
        sum(when(col("period") === "post" &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("resp"))
    // rn feeds two structurally different consumers (the 1-row max
    // aggregate's broadcast build and the decile projection) — without
    // the pin each re-executes the whole bucketed-rank device
    val rn = graft.plans.Checkpoint.pin(DistRank
      .rowNumber(users, Nil, "pre_vm", desc = true, Seq("user_id"), "rn"))
    // n = max(rn) reads the rank relation the device already persisted
    // (one cheap cached pass), instead of re-running the fact aggregate
    val nTot = rn.agg(max(col("rn")).as("n"))
    val ranked = rn
      .crossJoin(broadcast(nTot))
      .withColumn("decile", DistRank.ntileOf(col("rn"), col("n"), 10))
    val grid = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("resp")).as("responses"))
    val w = Window.partitionBy()
    val wCum = w.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_users", sum(col("n_users")).over(wCum))
      .withColumn("cum_resp", sum(col("responses")).over(wCum))
      .withColumn("t_users", sum(col("n_users")).over(w))
      .withColumn("t_resp", sum(col("responses")).over(w))
      .select(col("decile").cast(LongType).as("decile"),
        col("n_users"), col("responses"),
        round(col("cum_resp").cast(DoubleType) /
          col("t_resp").cast(DoubleType), 6).as("cum_resp_share"),
        round(col("cum_users").cast(DoubleType) /
          col("t_users").cast(DoubleType), 6).as("cum_user_share"),
        round((col("cum_resp") * col("t_users")).cast(DoubleType) /
          (col("cum_users") * col("t_resp")).cast(DoubleType), 6).as("lift"))
      .orderBy(col("decile"))
  }

  val gainsCurveOracle: String =
    s"""WITH mid AS ($PeriodSql),
       |users AS (
       |  SELECT user_id,
       |    CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < mid.mid
       |      THEN CAST(round("value" * 1000000) AS BIGINT) END), 0) AS BIGINT)
       |      AS pre_vm,
       |    CAST(SUM(CASE WHEN epoch_us(ts) >= mid.mid
       |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS resp
       |  FROM events CROSS JOIN mid GROUP BY 1),
       |ranked AS (
       |  SELECT user_id, resp,
       |    ntile(10) OVER (ORDER BY pre_vm DESC, user_id) AS decile
       |  FROM users),
       |grid AS (
       |  SELECT decile, COUNT(*) AS n_users, CAST(SUM(resp) AS BIGINT)
       |    AS responses
       |  FROM ranked GROUP BY 1),
       |cum AS (
       |  SELECT decile, n_users, responses,
       |    SUM(n_users) OVER (ORDER BY decile
       |      ROWS UNBOUNDED PRECEDING) AS cum_users,
       |    SUM(responses) OVER (ORDER BY decile
       |      ROWS UNBOUNDED PRECEDING) AS cum_resp,
       |    SUM(n_users) OVER () AS t_users,
       |    SUM(responses) OVER () AS t_resp
       |  FROM grid)
       |SELECT CAST(decile AS BIGINT) AS decile, n_users, responses,
       |  round(CAST(cum_resp AS DOUBLE) / CAST(t_resp AS DOUBLE), 6)
       |    AS cum_resp_share,
       |  round(CAST(cum_users AS DOUBLE) / CAST(t_users AS DOUBLE), 6)
       |    AS cum_user_share,
       |  round(CAST(cum_resp * t_users AS DOUBLE)
       |    / CAST(cum_users * t_resp AS DOUBLE), 6) AS lift
       |FROM cum ORDER BY decile""".stripMargin

  /** Exponential retention-decay fit per weekly cohort (the churn
    * constant behind every LTV model: if retention is geometric,
    * ln n_active is linear in week index and −slope is the weekly
    * churn rate): OLS of ln(active users) on weeks-since-cohort over
    * the [[graft.queries.StreamingGates.retentionBatch]] relation,
    * with the half-life ln2/(−slope) for cohorts that do decay.
    * Cohorts with < 3 observed weeks are excluded (a 2-point fit is
    * always r² = 1 noise).
    *
    * Float policy: ln inputs are exact integer counts; the OLS is the
    * [[graft.queries.LlmCuration.zipfFit]] recipe; ln 2 is a round-6
    * literal (0.693147, house style — no query-time libm constants);
    * the half-life divides that literal by the UNROUNDED slope, the
    * same fixed-order expression both engines evaluate.
    *
    * Scale shape: one distinct (user, week) pass, one user-sized MIN,
    * cohort-grid OLS. Nothing after the distinct is fact-sized.
    */
  def churnFit(s: SparkSession, dir: String): DataFrame = {
    val wk = date_trunc("week", col("ts")).cast(DateType)
    val act = Tables.t(s, dir, "events")
      .select(col("user_id"), wk.as("wk")).distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    val grid = act.join(first, "user_id")
      .groupBy(col("cohort_week"),
        expr("datediff(wk, cohort_week) DIV 7").as("w"))
      .agg(count(lit(1)).as("n_users"))
    val xy = grid.select(col("cohort_week"),
      col("w").cast(DoubleType).as("x"),
      log(col("n_users").cast(DoubleType)).as("y"))
    val m = xy.groupBy(col("cohort_week")).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val slope0 = cov / vx
    m.filter(col("n") >= 3)
      .select(col("cohort_week"), col("n").cast(LongType).as("n_weeks"),
        round(slope0, 6).as("decay"),
        round((cov * cov) / (vx * vy), 6).as("r2"),
        when(slope0 < 0, round(lit(0.693147) / -slope0, 6))
          .as("half_life_weeks"))
      .orderBy(col("cohort_week"))
  }

  val churnFitOracle: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |first AS (SELECT user_id, MIN(wk) AS cohort_week FROM act GROUP BY 1),
      |grid AS (
      |  SELECT f.cohort_week,
      |    date_diff('day', f.cohort_week, a.wk) // 7 AS w,
      |    COUNT(*) AS n_users
      |  FROM act a JOIN first f USING (user_id)
      |  GROUP BY 1, 2),
      |xy AS (SELECT cohort_week, CAST(w AS DOUBLE) AS x,
      |    ln(CAST(n_users AS DOUBLE)) AS y FROM grid),
      |m AS (SELECT cohort_week, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM xy GROUP BY 1)
      |SELECT cohort_week, CAST(n AS BIGINT) AS n_weeks,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS decay,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
      |  CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0
      |    THEN round(0.693147 / -((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6)
      |    END AS half_life_weeks
      |FROM m WHERE n >= 3 ORDER BY cohort_week""".stripMargin

  /** STRENGTH OF SEASONALITY per event type (Hyndman & Athanasopoulos'
    * FPP feature, two-way-decomposition form: bar = grand + day effect
    * + hour-of-day effect + residual; strength = SS_hod / (SS_hod +
    * SS_res) — the share of non-trend variance the daily cycle
    * explains, in [0,1]): the one-number screen that says whether
    * [[graft.queries.StreamingGates.seasonalNaive]]'s t−24h forecast
    * should beat persistence BEFORE evaluating both.
    *
    * Float policy: the three component means are round-6 decimal
    * means; residuals are fixed-order arithmetic over those identical
    * doubles; the squares ride DECIMAL(38,12) sums and the strength is
    * ONE division of two exact decimal sums.
    *
    * Scale shape: the fact collapses to bars once; three grid-sized
    * mean aggregates joined back onto the bar grid, one grid aggregate.
    */
  /** Round-13 exactness rewrite (the sf0.1 verify sweep caught a
    * one-ulp flip): the component means were round-6 of a
    * decimal→double crossing, and DuckDB's two-step decimal→double
    * conversion can land an ulp away from Spark's — at sf0.1 one
    * hour-of-day mean sat close enough to a HALF boundary for the
    * engines' round(·, 6) to disagree (Δss_hod ≈ 3.4e-4). Everything
    * now stays in micro-unit BIGINT: bars are already exact 6-dp, so
    * the second-level means use the integer HALF_UP formula
    * `(2·Σm + n) DIV (2n)`, deviations/squares/SS are exact integers,
    * and the only doubles left are exact-6dp renderings plus ONE
    * correctly-rounded division for the strength ratio — bit-identical
    * on any engine at any scale.
    */
  def seasonalityStrength(s: SparkSession, dir: String): DataFrame = {
    val bars = graft.queries.StreamingGates.hourlyBars(s, dir)
      .withColumn("day", date_trunc("day", col("hour")))
      .withColumn("hod", hour(col("hour")))
      .withColumn("m", round(col("bar") * 1000000).cast(LongType))
    def imean(src: DataFrame, keys: Seq[String], name: String) =
      src.groupBy(keys.map(col): _*)
        .agg(expr("(2 * sum(m) + count(1)) DIV (2 * count(1))").as(name))
    val gm = imean(bars, Seq("event_type"), "gm")
    val dm = imean(bars, Seq("event_type", "day"), "dm")
    val hm = imean(bars, Seq("event_type", "hod"), "hm")
    val joined = bars.join(gm, "event_type")
      .join(dm, Seq("event_type", "day"))
      .join(hm, Seq("event_type", "hod"))
    val resid = col("m") - col("dm") - col("hm") + col("gm")
    val hdev = col("hm") - col("gm")
    // Σ micro² ≈ n·(5e6)² — fits BIGINT through ~1e5 bars; widen the
    // two sums to DECIMAL(38,0) beyond that
    joined.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bars"),
        sum(hdev * hdev).as("ssh"), sum(resid * resid).as("ssr"))
      .select(col("event_type"), col("n_bars"),
        (expr("(2 * ssh + 1000000) DIV 2000000").cast(DoubleType) /
          1000000.0).as("ss_hod"),
        (expr("(2 * ssr + 1000000) DIV 2000000").cast(DoubleType) /
          1000000.0).as("ss_resid"),
        round(col("ssh").cast(DoubleType) /
          (col("ssh") + col("ssr")).cast(DoubleType), 6).as("strength"))
      .orderBy(col("event_type"))
  }

  val seasonalityStrengthOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT event_type, hour,
      |    CAST(round(bar * 1000000) AS BIGINT) AS m,
      |    date_trunc('day', hour) AS day, EXTRACT(hour FROM hour) AS hod
      |  FROM bars),
      |gm AS (SELECT event_type,
      |    (2 * SUM(m) + COUNT(*)) // (2 * COUNT(*)) AS gm
      |  FROM b GROUP BY 1),
      |dm AS (SELECT event_type, day,
      |    (2 * SUM(m) + COUNT(*)) // (2 * COUNT(*)) AS dm
      |  FROM b GROUP BY 1, 2),
      |hm AS (SELECT event_type, hod,
      |    (2 * SUM(m) + COUNT(*)) // (2 * COUNT(*)) AS hm
      |  FROM b GROUP BY 1, 2),
      |j AS (
      |  SELECT b.event_type,
      |    CAST(b.m - dm.dm - hm.hm + gm.gm AS BIGINT) AS resid,
      |    CAST(hm.hm - gm.gm AS BIGINT) AS hdev
      |  FROM b JOIN gm USING (event_type)
      |  JOIN dm ON dm.event_type = b.event_type AND dm.day = b.day
      |  JOIN hm ON hm.event_type = b.event_type AND hm.hod = b.hod),
      |ss AS (
      |  SELECT event_type, COUNT(*) AS n_bars,
      |    CAST(SUM(hdev * hdev) AS BIGINT) AS ssh,
      |    CAST(SUM(resid * resid) AS BIGINT) AS ssr
      |  FROM j GROUP BY 1)
      |SELECT event_type, n_bars,
      |  CAST((2 * ssh + 1000000) // 2000000 AS DOUBLE) / 1000000.0 AS ss_hod,
      |  CAST((2 * ssr + 1000000) // 2000000 AS DOUBLE) / 1000000.0 AS ss_resid,
      |  round(CAST(ssh AS DOUBLE) / CAST(ssh + ssr AS DOUBLE), 6) AS strength
      |FROM ss ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // Stratified / inverse-propensity-weighted treatment effect
  // ---------------------------------------------------------------------

  /** Stratified ATE with discrete propensity (equivalently IPW with the
    * propensity estimated per stratum — Rosenbaum-Rubin
    * subclassification): users are stratified by an activity proxy
    * (click-count bucket), "treatment" is heavy error exposure
    * (n_err ≥ 14, the observational exposure whose effect on purchase
    * value the estimator isolates), outcome is total purchase value.
    * Strata violating positivity (no treated or no control users) are
    * DROPPED — the standard overlap restriction, stated in the output
    * by reporting only retained strata; the ALL row (stratum = −1)
    * reweights retained per-stratum effects by stratum size.
    *
    * Float policy: outcomes are micro-cents fixed point
    * ([[cupedRaw]]'s `round(value·1e6)` device) so all stratum sums
    * are exact BIGINT/DECIMAL; each mean is one double division;
    * per-stratum effects round at 6 dp; the ALL-row ATE sums
    * n_s × effect6_s in DECIMAL(38,12) (exact for 6-dp inputs — the
    * [[TextScores.rakeKeywords]] device) and divides once.
    *
    * Scale shape: one events scan to a per-user aggregate (map-side
    * combine on user_id), one hash aggregate to the ≤ 4-row stratum
    * grid, driver-free; the ALL row is an aggregate over that grid.
    */
  def ipwAte(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 1000000).cast(LongType))), lit(0L)).as("y"))
      .select(
        least(lit(3L), floor(col("n_click") / 5).cast(LongType)).as("stratum"),
        (col("n_err") >= 14).cast(LongType).as("treated"), col("y"))
    val strata = users.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(col("treated")).as("n_treated"),
        sum(lit(1L) - col("treated")).as("n_control"),
        sum(when(col("treated") === 1, col("y")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("sy_t"),
        sum(when(col("treated") === 0, col("y")).otherwise(0L)
          .cast(DecimalType(38, 0))).as("sy_c"))
      .filter(col("n_treated") > 0 && col("n_control") > 0)
    val meanT = col("sy_t").cast(DoubleType) /
      col("n_treated").cast(DoubleType) / 1000000.0
    val meanC = col("sy_c").cast(DoubleType) /
      col("n_control").cast(DoubleType) / 1000000.0
    val perStratum = strata
      .select(col("stratum"), col("n"), col("n_treated"), col("n_control"),
        round(col("n_treated").cast(DoubleType) / col("n"), 6)
          .as("propensity"),
        round(meanT, 6).as("mean_t"), round(meanC, 6).as("mean_c"),
        round(meanT - meanC, 6).as("effect"))
    val allRow = perStratum
      .agg(sum(col("n")).as("n"), sum(col("n_treated")).as("n_treated"),
        sum(col("n_control")).as("n_control"),
        sum(col("n").cast(DecimalType(38, 12)) * col("effect")
          .cast(DecimalType(38, 12))).as("wsum"))
      .select(lit(-1L).as("stratum"), col("n"), col("n_treated"),
        col("n_control"), lit(null).cast(DoubleType).as("propensity"),
        lit(null).cast(DoubleType).as("mean_t"),
        lit(null).cast(DoubleType).as("mean_c"),
        round(col("wsum").cast(DoubleType) / col("n"), 6).as("effect"))
    perStratum.unionByName(allRow).orderBy(col("stratum"))
  }

  val ipwAteOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
      |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 1000000) AS BIGINT) END), 0) AS y
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT LEAST(3, n_click // 5) AS stratum,
      |    CAST(n_err >= 14 AS BIGINT) AS treated, y FROM u),
      |s AS (
      |  SELECT stratum, COUNT(*) AS n, SUM(treated) AS n_treated,
      |    SUM(1 - treated) AS n_control,
      |    SUM(CAST(CASE WHEN treated = 1 THEN y ELSE 0 END
      |      AS DECIMAL(38,0))) AS sy_t,
      |    SUM(CAST(CASE WHEN treated = 0 THEN y ELSE 0 END
      |      AS DECIMAL(38,0))) AS sy_c
      |  FROM t GROUP BY 1
      |  HAVING SUM(treated) > 0 AND SUM(1 - treated) > 0),
      |ps AS (
      |  SELECT CAST(stratum AS BIGINT) AS stratum, CAST(n AS BIGINT) AS n,
      |    CAST(n_treated AS BIGINT) AS n_treated,
      |    CAST(n_control AS BIGINT) AS n_control,
      |    round(CAST(n_treated AS DOUBLE) / n, 6) AS propensity,
      |    round(CAST(sy_t AS DOUBLE) / CAST(n_treated AS DOUBLE)
      |      / 1000000.0, 6) AS mean_t,
      |    round(CAST(sy_c AS DOUBLE) / CAST(n_control AS DOUBLE)
      |      / 1000000.0, 6) AS mean_c,
      |    round(CAST(sy_t AS DOUBLE) / CAST(n_treated AS DOUBLE) / 1000000.0
      |      - CAST(sy_c AS DOUBLE) / CAST(n_control AS DOUBLE) / 1000000.0,
      |      6) AS effect
      |  FROM s)
      |SELECT * FROM ps
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(SUM(n) AS BIGINT),
      |  CAST(SUM(n_treated) AS BIGINT), CAST(SUM(n_control) AS BIGINT),
      |  NULL, NULL, NULL,
      |  round(CAST(SUM(CAST(n AS DECIMAL(38,12))
      |    * CAST(effect AS DECIMAL(38,12))) AS DOUBLE) / SUM(n), 6)
      |FROM ps
      |ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------------
  // Delete-one-group jackknife standard error
  // ---------------------------------------------------------------------

  private val JkGroups = 10

  /** Delete-one-group jackknife SE of the mean purchase value (Tukey
    * 1958; the grouped form is THE production resampling scheme at
    * scale — delete-one-ROW needs n re-estimates, delete-one-GROUP
    * needs g, and partitions/shards are natural groups): users hash
    * into g = 10 buckets (user_id % 10), each leave-one-bucket-out
    * mean θ₍ᵦ₎ = (S − s_b)/(N − n_b) is reported per bucket, and the
    * summary row carries SE = √((g−1)/g · Σ(θᵦ − θ̄)²).
    *
    * Float policy: sums are micro-cents DECIMAL; each θ₍ᵦ₎ is one
    * double division, rounded at 6 dp; the SE recenters on the exact
    * micro-unit integers d_b = θ₍ᵦ₎·1e6 (round-6 values, so the
    * scaled integers are exact) and forms g·Σd² − (Σd)² in
    * DECIMAL(38,0) — order-free — before ONE double crossing, sqrt,
    * and round ([[spearman]]'s moment recipe).
    *
    * Scale shape: one events scan to per-user sums (map-side combine),
    * one hash aggregate to the 10-row bucket grid; all jackknife
    * arithmetic happens on the grid + its 1-row total.
    */
  def jackknifeSe(s: SparkSession, dir: String): DataFrame = {
    val d0 = DecimalType(38, 0)
    val users = Tables.t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 1000000).cast(LongType)).as("y"))
    val buckets = users.groupBy((col("user_id") % JkGroups).as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("y").cast(d0)).as("sy"))
    val tot = buckets.agg(sum(col("n_users")).as("nn"),
      sum(col("sy")).as("ss"))
    val thetaLoo = round(
      (col("ss") - col("sy")).cast(DoubleType) /
        (col("nn") - col("n_users")).cast(DoubleType) / 1000000.0, 6)
    val grid = buckets.crossJoin(broadcast(tot))
      .withColumn("theta_loo", thetaLoo)
      .withColumn("d", round(col("theta_loo") * 1000000).cast(d0))
    val g = lit(JkGroups).cast(d0)
    val summary = grid
      .agg(max(col("nn")).as("n_users"),
        max(col("ss")).as("ss"),
        sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd"))
      .select(lit(-1L).as("bucket"), col("n_users"),
        lit(null).cast(DoubleType).as("theta_loo"),
        round(col("ss").cast(DoubleType) / col("n_users") / 1000000.0, 6)
          .as("mean_value"),
        round(
          sqrt((lit(JkGroups - 1).cast(d0) *
            (g * col("sdd") - col("sd") * col("sd"))).cast(DoubleType)) /
            JkGroups / 1000000.0, 6).as("jackknife_se"))
    grid.select(col("bucket"), col("n_users").cast(LongType).as("n_users"),
        col("theta_loo"), lit(null).cast(DoubleType).as("mean_value"),
        lit(null).cast(DoubleType).as("jackknife_se"))
      .unionByName(summary.select(col("bucket"),
        col("n_users").cast(LongType).as("n_users"), col("theta_loo"),
        col("mean_value"), col("jackknife_se")))
      .orderBy(col("bucket"))
  }

  val jackknifeSeOracle: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    SUM(CAST(round(value * 1000000) AS BIGINT)) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |b AS (
       |  SELECT user_id % $JkGroups AS bucket, COUNT(*) AS n_users,
       |    SUM(CAST(y AS DECIMAL(38,0))) AS sy
       |  FROM u GROUP BY 1),
       |t AS (SELECT SUM(n_users) AS nn, SUM(sy) AS ss FROM b),
       |grid AS (
       |  SELECT bucket, n_users,
       |    round(CAST(ss - sy AS DOUBLE)
       |      / CAST(nn - n_users AS DOUBLE) / 1000000.0, 6) AS theta_loo
       |  FROM b CROSS JOIN t),
       |dd AS (
       |  SELECT CAST(round(theta_loo * 1000000) AS DECIMAL(38,0)) AS d
       |  FROM grid),
       |se AS (
       |  SELECT round(sqrt(CAST(($JkGroups - 1) *
       |      ($JkGroups * SUM(d * d) - SUM(d) * SUM(d)) AS DOUBLE))
       |      / $JkGroups / 1000000.0, 6) AS jackknife_se
       |  FROM dd)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_users AS BIGINT) AS n_users, theta_loo,
       |  CAST(NULL AS DOUBLE) AS mean_value,
       |  CAST(NULL AS DOUBLE) AS jackknife_se
       |FROM grid
       |UNION ALL
       |SELECT -1, (SELECT CAST(nn AS BIGINT) FROM t), NULL,
       |  (SELECT round(CAST(ss AS DOUBLE) / nn / 1000000.0, 6) FROM t),
       |  (SELECT jackknife_se FROM se)
       |ORDER BY bucket""".stripMargin

  // ------------------------------------------------ multiple testing

  /** Benjamini–Hochberg FDR control (1995) over the per-event-type
    * Welch tests — the multiple-comparisons step every metrics
    * platform runs after a battery of per-segment tests: order the m
    * p-values ascending, find the largest k with p_(k) ≤ k·q/m
    * (q = 0.10), reject hypotheses 1..k. P-values come from the
    * logistic approximation to the normal CDF (Bowling et al. 2009:
    * Φ(x) ≈ 1/(1+e^(−1.702x)), max abs error < 0.0095) — two-sided
    * p = 2/(1+e^(1.702·|t|)) — chosen because `exp` is the one
    * transcendental both engines evaluate identically (the
    * [[churnFit]] precedent); an inverse-t CDF is not
    * cross-engine-expressible. All comparisons run on round-6 values
    * so the accept/reject boundary is bit-identical in both engines.
    *
    * Scale shape: the expensive part IS [[welchTTest]] (one
    * map-combined fact aggregate); BH itself runs on the m-row test
    * grid — m = |event types|, never data-sized.
    */
  def fdrBh(s: SparkSession, dir: String): DataFrame = {
    val wall = Window.partitionBy()
    welchTTest(s, dir)
      .select(col("event_type"), col("t_stat"))
      .withColumn("p_value",
        round(lit(2.0) / (lit(1.0) + exp(lit(1.702) * abs(col("t_stat")))), 6))
      .withColumn("m", count(lit(1)).over(wall))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("p_value"), col("event_type"))))
      .withColumn("crit",
        round(col("rk").cast(DoubleType) * lit(0.1)
          / col("m").cast(DoubleType), 6))
      .withColumn("k_max",
        max(when(col("p_value") <= col("crit"), col("rk")).otherwise(lit(0)))
          .over(wall))
      .select(col("event_type"), col("t_stat"), col("p_value"),
        col("rk").cast(LongType).as("rk"), col("crit"),
        when(col("rk") <= col("k_max"), 1).otherwise(0).as("rejected"))
      .orderBy(col("rk"))
  }

  val fdrBhOracle: String =
    s"""WITH w AS ($welchOracle),
       |p AS (
       |  SELECT event_type, t_stat,
       |    round(2.0 / (1.0 + exp(1.702 * abs(t_stat))), 6) AS p_value
       |  FROM w),
       |r AS (
       |  SELECT *, COUNT(*) OVER () AS m,
       |    row_number() OVER (ORDER BY p_value, event_type) AS rk
       |  FROM p),
       |c AS (
       |  SELECT *, round(CAST(rk AS DOUBLE) * 0.1 / CAST(m AS DOUBLE), 6)
       |    AS crit
       |  FROM r),
       |k AS (
       |  SELECT *, MAX(CASE WHEN p_value <= crit THEN rk ELSE 0 END)
       |    OVER () AS k_max
       |  FROM c)
       |SELECT event_type, t_stat, p_value, CAST(rk AS BIGINT) AS rk, crit,
       |  CAST(CASE WHEN rk <= k_max THEN 1 ELSE 0 END AS INT) AS rejected
       |FROM k ORDER BY rk""".stripMargin

  /** The pooled rank-sum block [[kruskalWallis]] and
    * [[StatTests.dunnTest]] share: event values (micro-units) ranked on
    * ONE pooled midrank scale across event types. Returns
    *  - `g`: per event type `grp`, its row count `n` and `s2` = Σ of its
    *    rows' doubled midranks 2·rank_min + ties − 1 (DECIMAL(38,0));
    *  - `ties`: one row, `tie3` = Σ (t³ − t) over the pooled tie blocks.
    *
    * Scale shape: one map-combined hash aggregate to the (group, value)
    * histogram, a second tiny aggregate to the distinct-value grid,
    * [[DistRank.prefixLt]] for the pooled cumulative counts (bucketed —
    * no single-task sort), and one equi-join of the two histograms on
    * the value key. Both histograms are pinned: the (group, value) one
    * feeds the value grid and the join, and the ranked value grid feeds
    * two structurally different consumers (the per-group rank-sum join
    * and the tie aggregate), so the prefix-sum lineage runs once.
    */
  private[queries] def pooledRankSums(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = DecimalType(38, 0)
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type").as("grp"),
        round(col("value") * 1000000).cast(LongType).as("vm"))
    val histGV = graft.plans.Checkpoint.pin(ev.groupBy(col("grp"), col("vm"))
      .agg(count(lit(1)).as("cg")))
    val histV = graft.plans.Checkpoint.pin(DistRank.prefixLt(
      histGV.groupBy(col("vm")).agg(sum(col("cg")).as("eq")),
      Nil, "vm", Seq("eq"))
      .withColumn("r2", lit(2L) * col("eq_lt") + col("eq") + lit(1L)))
    val g = histGV.join(histV.select(col("vm"), col("r2")), "vm")
      .groupBy(col("grp"))
      .agg(sum(col("cg")).as("n"), sum(col("r2").cast(d) * col("cg")).as("s2"))
    val ties = histV
      .agg(coalesce(sum(col("eq").cast(d) * col("eq") * col("eq") - col("eq")),
        lit(0).cast(d)).as("tie3"))
    (g, ties)
  }

  /** Kruskal–Wallis H (1952): the k-group rank ANOVA of event value
    * across event types — [[mannWhitney]]'s k-sample generalization,
    * with the tie correction C = 1 − Σ(t³−t)/(N³−N). Midranks stay
    * exact integers by carrying 2·midrank = 2·rank_min + (ties−1);
    * per-group Σ(2r̄)² terms cross to double once each and sum through
    * DECIMAL(38,12) (the [[chi2Assoc]] device), so the statistic is
    * order-of-aggregation-independent.
    *
    * Scale shape: the [[pooledRankSums]] block, then the k-row group
    * grid. Bit-identical to the window form (DistRankSpec).
    */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val (grp, ties) = pooledRankSums(s, dir)
    val wall = Window.partitionBy()
    val h = lit(3.0) * col("ssd") /
      (col("nn").cast(d) * (col("nn") + 1)).cast(DoubleType) -
      lit(3.0) * (col("nn") + 1).cast(DoubleType)
    val c = lit(1.0) - col("tie3").cast(DoubleType) /
      (col("nn").cast(d) * col("nn") * col("nn") - col("nn")).cast(DoubleType)
    grp
      .withColumn("nn", sum(col("n")).over(wall))
      .withColumn("ssd",
        sum(((col("s2").cast(DoubleType) * col("s2").cast(DoubleType))
          / col("n").cast(DoubleType)).cast(DecimalType(38, 12)))
          .over(wall).cast(DoubleType))
      .crossJoin(broadcast(ties))
      .select(col("grp").as("event_type"), col("n"),
        col("s2").cast(LongType).as("r2_sum"),
        round(col("s2").cast(DoubleType)
          / (lit(2.0) * col("n").cast(DoubleType)), 6).as("mean_rank"),
        round(h, 6).as("h_stat"), round(c, 6).as("tie_c"),
        round(h / c, 6).as("h_adj"))
      .orderBy(col("event_type"))
  }

  val kruskalWallisOracle: String = {
    val h = "3.0 * CAST(ssd AS DOUBLE) / CAST(nn * (nn + 1) AS DOUBLE) - 3.0 * CAST(nn + 1 AS DOUBLE)"
    val c = "1.0 - CAST(tie3 AS DOUBLE) / CAST(nn * nn * nn - nn AS DOUBLE)"
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
       |w AS (
       |  SELECT grp, n, s2, SUM(n) OVER () AS nn,
       |    SUM(CAST((CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
       |      / CAST(n AS DOUBLE) AS DECIMAL(38,12))) OVER () AS ssd
       |  FROM g)
       |SELECT grp AS event_type, CAST(n AS BIGINT) AS n,
       |  CAST(s2 AS BIGINT) AS r2_sum,
       |  round(CAST(s2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE)), 6) AS mean_rank,
       |  round($h, 6) + 0.0 AS h_stat,
       |  round($c, 6) AS tie_c,
       |  round(($h) / ($c), 6) + 0.0 AS h_adj
       |FROM w CROSS JOIN t3 ORDER BY event_type""".stripMargin
  }

  // Poisson(1) inverse CDF as 8-hex-digit thresholds on a uniform
  // md5 draw: cumulative e^{-1}·Σ 1/k! scaled by 16^8, precomputed as
  // literals (the benford device) so both engines compare the SAME
  // hex strings. P(X > 6) ≈ 8.3e-5 truncates to w = 6.
  private val PoissonHex =
    Seq("5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5", "ffd90f3b")
  private val BootR = 25

  /** Poisson bootstrap (Chamandy et al. 2012, "Estimating Uncertainty
    * for Massive Data Streams" — the Google recipe for bootstrap on
    * sharded data): instead of resampling n rows with replacement
    * (which needs global coordination), weight every row independently
    * with w ~ Poisson(1) per resample r — at n → ∞ the two schemes
    * coincide, and the weighted pass is embarrassingly parallel. Here:
    * R = 25 deterministic resamples of mean order price per priority,
    * reporting the full-sample mean, the bootstrap mean / SE (over
    * resample means, the Σ-through-DECIMAL device), and the min/max
    * resample envelope. Draws are md5-derived (hash-deterministic: the
    * same row gets the same weight in both engines and on re-run).
    *
    * Scale shape: the fact scan fans out ×R via an inline
    * chunked-draw explode (one md5 is 128 bits = FOUR independent
    * 8-hex-digit uniforms, so resample r reads window (r−1) mod 4 of
    * md5(key:boot⌊(r−1)/4⌋) — ⌈R/4⌉ = 7 hashes per row instead of 25,
    * the [[EdfOps.cvmPermutation]] device), then map-side
    * combines straight down to the (priority × r) grid — shuffle
    * volume is k·R rows, not n·R; the envelope/SE pass runs on that
    * grid. This is why Poisson beats index-resampling at 100 TB: no
    * shuffle ever carries resampled data rows.
    */
  def bootstrapPoisson(s: SparkSession, dir: String): DataFrame =
    bootstrapPoissonWith(s, dir, PoissonHex.map(lit), { oFan =>
      val hashed = (0 until (BootR + 3) / 4).foldLeft(oFan) { (d2, k) =>
        d2.withColumn(s"__h$k",
          md5(concat(col("o_orderkey").cast("string"), lit(s":boot$k"))))
      }
      (hashed, (1 to BootR).map(r =>
        substring(col(s"__h${(r - 1) / 4}"), ((r - 1) % 4) * 8 + 1, 8)))
    })

  /** The Poisson-bootstrap body both hash twins share. `draws` adds the
    * hash columns to the spread (pri, o_orderkey, cents) order rows and
    * names the uniform draw of each resample r in 1..[[BootR]]; a draw
    * below `cdf(k)` (and none before) gives weight k, else 6. The body
    * combines the weighted rows to the (priority × r) grid, the
    * resample envelope and SE, and one output row per priority.
    */
  private def bootstrapPoissonWith(s: SparkSession, dir: String, cdf: Seq[Column],
      draws: DataFrame => (DataFrame, Seq[Column])): DataFrame = {
    val d = DecimalType(38, 0)
    val d12 = DecimalType(38, 12)
    val o = Tables.t(s, dir, "orders")
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
    // spread the fact BEFORE the hash fan (guide §2.5's unsplittable-
    // input remedy): a single-row-group parquet scans as ONE task, so
    // without this the whole n·⌈R/words⌉ hash fan runs serially.
    // Hash-repartition on the deterministic key — row set unchanged,
    // and on a many-file production layout the exchange moves only the
    // already-projected 3-column rows.
    val (hashed, us) = draws(graft.operators.Spread.byKey(o, col("o_orderkey")))
    val w = cdf.zipWithIndex.foldRight(lit(6L): Column) {
      case ((t, k), rest) => when(col("__u") < t, k.toLong).otherwise(rest)
    }
    val res = hashed
      .select(col("pri"), col("cents"),
        posexplode(array(us: _*)).as(Seq("__r0", "__u")))
      .select(col("pri"), (col("__r0") + 1).cast(LongType).as("r"),
        w.as("w"), col("cents"))
      .groupBy(col("pri"), col("r"))
      .agg(sum(col("w").cast(d)).as("sw"),
        sum((col("w") * col("cents")).cast(d)).as("swc"))
      .withColumn("mean_r",
        col("swc").cast(DoubleType) / col("sw").cast(DoubleType))
    val wpri = Window.partitionBy(col("pri"))
    val boot = res
      .withColumn("mbar", sum(col("mean_r").cast(d12)).over(wpri)
        .cast(DoubleType) / lit(BootR.toDouble))
      .groupBy(col("pri"))
      .agg(max(col("mbar")).as("mbar"),
        sum(((col("mean_r") - col("mbar")) * (col("mean_r") - col("mbar")))
          .cast(d12)).as("sdev2"),
        min(col("mean_r")).as("lo"), max(col("mean_r")).as("hi"))
    val full = o.groupBy(col("pri"))
      .agg(count(lit(1)).as("n"), sum(col("cents").cast(d)).as("sc"))
    full.join(boot, "pri")
      .select(col("pri").as("o_orderpriority"), col("n"),
        round(col("sc").cast(DoubleType) / col("n").cast(DoubleType)
          / 100.0, 6).as("mean_price"),
        round(col("mbar") / 100.0, 6).as("boot_mean"),
        round(sqrt(col("sdev2").cast(DoubleType) / lit((BootR - 1).toDouble))
          / 100.0, 6).as("boot_se"),
        round(col("lo") / 100.0, 6).as("boot_lo"),
        round(col("hi") / 100.0, 6).as("boot_hi"))
      .orderBy(col("o_orderpriority"))
  }

  val bootstrapPoissonOracle: String = {
    val wCase = PoissonHex.zipWithIndex
      .map { case (hex, k) => s"WHEN u8 < '$hex' THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS pri, o_orderkey,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |reps AS (SELECT unnest(range(1, ${BootR + 1})) AS r),
       |wts AS (
       |  SELECT pri, r, cents, $wCase AS w
       |  FROM (
       |    SELECT o.*, reps.r,
       |      substr(md5(CAST(o_orderkey AS VARCHAR) || ':boot'
       |        || CAST((reps.r - 1) // 4 AS VARCHAR)),
       |        ((reps.r - 1) % 4) * 8 + 1, 8) AS u8
       |    FROM o CROSS JOIN reps) q),
       |res AS (
       |  SELECT pri, r, SUM(CAST(w AS DECIMAL(38,0))) AS sw,
       |    SUM(CAST(w * cents AS DECIMAL(38,0))) AS swc
       |  FROM wts GROUP BY pri, r),
       |m AS (
       |  SELECT pri, r,
       |    CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS mean_r
       |  FROM res),
       |mb AS (
       |  SELECT pri, r, mean_r,
       |    CAST(SUM(CAST(mean_r AS DECIMAL(38,12))) OVER (PARTITION BY pri)
       |      AS DOUBLE) / ${BootR}.0 AS mbar
       |  FROM m),
       |bt AS (
       |  SELECT pri, MAX(mbar) AS mbar,
       |    SUM(CAST((mean_r - mbar) * (mean_r - mbar) AS DECIMAL(38,12)))
       |      AS sdev2,
       |    MIN(mean_r) AS lo, MAX(mean_r) AS hi
       |  FROM mb GROUP BY pri),
       |fs AS (
       |  SELECT pri, COUNT(*) AS n, SUM(CAST(cents AS DECIMAL(38,0))) AS sc
       |  FROM o GROUP BY pri)
       |SELECT pri AS o_orderpriority, CAST(n AS BIGINT) AS n,
       |  round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6)
       |    AS mean_price,
       |  round(mbar / 100.0, 6) AS boot_mean,
       |  round(sqrt(CAST(sdev2 AS DOUBLE) / ${BootR - 1}.0) / 100.0, 6)
       |    AS boot_se,
       |  round(lo / 100.0, 6) AS boot_lo,
       |  round(hi / 100.0, 6) AS boot_hi
       |FROM fs JOIN bt USING (pri) ORDER BY o_orderpriority""".stripMargin
  }

  // ----------------------------------------------- classifier readout

  /** ROC AUC by the rank statistic (Hanley & McNeil 1982: AUC =
    * U/(n₁n₀), the Mann–Whitney identity) — the standard quality
    * readout for any scoring model, here probing how well raw user
    * activity (event count) predicts conversion (the [[abLift]]
    * outcome). Integer scores tie heavily, which is exactly what the
    * midrank machinery is for: 2·midrank = 2·rank_min + (ties−1)
    * stays integer ([[kruskalWallis]] device), so
    * AUC = (Σ2r₊ − n₁(n₁+1)) / (2n₁n₀) is an exact integer ratio
    * crossed to DOUBLE in one division; Gini = 2·AUC − 1 likewise.
    *
    * Scale shape (VERDICT r14 #2 — the two-pass histogram ranking the
    * old scaladoc promised, via [[DistRank.midrank2]]): one
    * map-combined fact aggregate to users, one hash aggregate to the
    * (score → count, positives) histogram with bucketed prefix sums —
    * no global sort — then one 1-row aggregate.
    */
  def aucRoc(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase" &&
            get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
          .otherwise(0L)).as("label"))
    val hist = DistRank.midrank2(users, Nil, "score",
      Seq("pos" -> sum(col("label"))))
    val agg = hist.agg(sum(col("eq")).as("n_users"),
      sum(col("pos")).as("n_pos"),
      sum(col("r2").cast(d) * col("pos")).as("s2_pos"))
    agg.select(col("n_users"), col("n_pos"),
        (col("n_users") - col("n_pos")).as("n_neg"),
        (col("s2_pos").cast(d) - col("n_pos").cast(d) * (col("n_pos") + 1))
          .cast(LongType).as("auc_num"))
      .select(col("n_users"), col("n_pos"), col("n_neg"),
        round(col("auc_num").cast(DoubleType) /
          (lit(2.0) * (col("n_pos").cast(d) * col("n_neg")).cast(DoubleType)),
          6).as("auc"),
        round(col("auc_num").cast(DoubleType) /
          (col("n_pos").cast(d) * col("n_neg")).cast(DoubleType) - lit(1.0),
          6).as("gini_auc"))
  }

  val aucRocOracle: String =
    """WITH users AS (
      |  SELECT user_id, COUNT(*) AS score,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
      |      THEN 1 ELSE 0 END) AS label
      |  FROM events GROUP BY 1),
      |rk AS (
      |  SELECT label, rank() OVER (ORDER BY score) AS rmin,
      |    COUNT(*) OVER (PARTITION BY score) AS tcnt
      |  FROM users),
      |r2 AS (SELECT label, 2 * rmin + tcnt - 1 AS r2 FROM rk),
      |agg AS (
      |  SELECT COUNT(*) AS n_users, SUM(label) AS n_pos,
      |    SUM(CASE WHEN label = 1 THEN CAST(r2 AS DECIMAL(38,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS s2_pos
      |  FROM r2),
      |base AS (
      |  SELECT CAST(n_users AS BIGINT) AS n_users,
      |    CAST(n_pos AS BIGINT) AS n_pos,
      |    CAST(n_users - n_pos AS BIGINT) AS n_neg,
      |    CAST(s2_pos - n_pos * (n_pos + 1) AS BIGINT) AS auc_num
      |  FROM agg)
      |SELECT n_users, n_pos, n_neg,
      |  round(CAST(auc_num AS DOUBLE)
      |    / (2.0 * CAST(n_pos * n_neg AS DOUBLE)), 6) AS auc,
      |  round(CAST(auc_num AS DOUBLE)
      |    / CAST(n_pos * n_neg AS DOUBLE) - 1.0, 6) + 0.0 AS gini_auc
      |FROM base""".stripMargin

  /** Reliability diagram + expected calibration error (Guo et al.
    * 2017 "On Calibration of Modern Neural Networks", eq. 2) for a
    * deterministic confidence score: p̂ = cnt/(cnt+10) (a monotone
    * activity-based pseudo-probability) against the conversion
    * outcome. The 10-bin assignment runs ENTIRELY in integers —
    * bin = ⌊10·p̂⌋ = (10·cnt) DIV (cnt+10) — so no row ever sits on a
    * floating bin boundary; per-bin confidence averages the exact
    * rationals through the Σ-dec12 device, observed rates are exact
    * integer ratios, and ECE = Σ (n_b/N)·|obs−conf| sums per-bin
    * doubles through DECIMAL(38,12).
    *
    * Scale shape: one map-combined fact aggregate to users, one hash
    * aggregate to ≤10 bin rows, windowed ECE over the bin grid.
    */
  def calibrationEce(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        max(when(col("event_type") === "purchase" &&
            get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
          .otherwise(0L)).as("label"))
      .select(expr("(10 * cnt) DIV (cnt + 10)").as("bin"),
        (col("cnt").cast(DoubleType) /
          (col("cnt") + 10).cast(DoubleType)).as("conf"), col("label"))
    val bins = users.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("conf").cast(d12)).as("conf_sum"),
        sum(col("label")).as("n_pos"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("conf_sum").cast(DoubleType) / col("n").cast(DoubleType))
          .as("conf"),
        (col("n_pos").cast(DoubleType) / col("n").cast(DoubleType))
          .as("obs"))
    val wall = Window.partitionBy()
    bins
      .withColumn("nn", sum(col("n")).over(wall))
      .withColumn("ece",
        sum(((col("n").cast(DoubleType) * abs(col("obs") - col("conf"))))
          .cast(d12)).over(wall).cast(DoubleType))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("conf"), 6).as("conf"), round(col("obs"), 6).as("obs"),
        round(abs(col("obs") - col("conf")), 6).as("gap"),
        round(col("ece") / col("nn").cast(DoubleType), 6).as("ece"))
      .orderBy(col("bin"))
  }

  val calibrationEceOracle: String =
    """WITH users AS (
      |  SELECT user_id, COUNT(*) AS cnt,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
      |      THEN 1 ELSE 0 END) AS label
      |  FROM events GROUP BY 1),
      |scored AS (
      |  SELECT (10 * cnt) // (cnt + 10) AS bin,
      |    CAST(cnt AS DOUBLE) / CAST(cnt + 10 AS DOUBLE) AS conf, label
      |  FROM users),
      |bins AS (
      |  SELECT bin, COUNT(*) AS n,
      |    SUM(CAST(conf AS DECIMAL(38,12))) AS conf_sum,
      |    SUM(label) AS n_pos
      |  FROM scored GROUP BY bin),
      |rates AS (
      |  SELECT bin, n, n_pos,
      |    CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE) AS conf,
      |    CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS obs
      |  FROM bins),
      |tot AS (
      |  SELECT *, SUM(n) OVER () AS nn,
      |    CAST(SUM(CAST(CAST(n AS DOUBLE) * abs(obs - conf)
      |      AS DECIMAL(38,12))) OVER () AS DOUBLE) AS ece_num
      |  FROM rates)
      |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
      |  CAST(n_pos AS BIGINT) AS n_pos,
      |  round(conf, 6) AS conf, round(obs, 6) AS obs,
      |  round(abs(obs - conf), 6) AS gap,
      |  round(ece_num / CAST(nn AS DOUBLE), 6) AS ece
      |FROM tot ORDER BY bin""".stripMargin

  /** Cohen's kappa (1960) between two deterministic document-quality
    * raters — the inter-annotator-agreement number every labeling /
    * LLM-judge pipeline reports before trusting its labels. Rater A:
    * the length gate (n_chars ≥ 250); rater B: the lexical-diversity
    * gate (2·types ≥ tokens — TTR ≥ 0.5 decided in integers, no
    * float boundary). κ = (p_o − p_e)/(1 − p_e) reduces to the exact
    * integer ratio (N·(n₁₁+n₀₀) − X)/(N² − X) with
    * X = a₁b₁ + a₀b₀ — ONE double division total.
    *
    * Scale shape: one explode-aggregate for per-doc token/type counts
    * (the postings pass every ta_* gate shares), one 1-row contingency
    * aggregate.
    */
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val docs = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("n_typ"))
      .select(
        when(col("n_chars") >= 250, 1L).otherwise(0L).as("a"),
        when(col("n_typ") * 2 >= col("n_tok"), 1L).otherwise(0L).as("b"))
    val cells = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("a") * col("b")).as("n11"),
      sum(col("a") * (lit(1L) - col("b"))).as("n10"),
      sum((lit(1L) - col("a")) * col("b")).as("n01"),
      sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val x = (col("n11") + col("n10")).cast(d) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")).cast(d) * (col("n10") + col("n00"))
    cells
      .withColumn("po_num", (col("n11") + col("n00")).cast(LongType))
      .withColumn("x", x)
      .select(col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
        round(col("po_num").cast(DoubleType) / col("n_docs").cast(DoubleType),
          6).as("p_o"),
        round(col("x").cast(DoubleType) /
          (col("n_docs").cast(d) * col("n_docs")).cast(DoubleType), 6)
          .as("p_e"),
        round((col("n_docs").cast(d) * col("po_num") - col("x"))
          .cast(DoubleType) /
          (col("n_docs").cast(d) * col("n_docs") - col("x")).cast(DoubleType),
          6).as("kappa"))
  }

  val cohensKappaOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |counts AS (
      |  SELECT doc_id, n_chars, COUNT(*) AS n_tok,
      |    COUNT(DISTINCT tok) AS n_typ
      |  FROM toks GROUP BY doc_id, n_chars),
      |raters AS (
      |  SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN n_typ * 2 >= n_tok THEN 1 ELSE 0 END AS b
      |  FROM counts),
      |cells AS (
      |  SELECT COUNT(*) AS n_docs, SUM(a * b) AS n11,
      |    SUM(a * (1 - b)) AS n10, SUM((1 - a) * b) AS n01,
      |    SUM((1 - a) * (1 - b)) AS n00
      |  FROM raters),
      |k AS (
      |  SELECT *, n11 + n00 AS po_num,
      |    (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS x
      |  FROM cells)
      |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n11 AS BIGINT) AS n11,
      |  CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
      |  CAST(n00 AS BIGINT) AS n00,
      |  round(CAST(po_num AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS p_o,
      |  round(CAST(x AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE), 6) AS p_e,
      |  round(CAST(n_docs * po_num - x AS DOUBLE)
      |    / CAST(n_docs * n_docs - x AS DOUBLE), 6) AS kappa
      |FROM k""".stripMargin

  /** Two-arm log-rank test (Mantel 1966) over the [[survivalKm]]
    * time-to-churn structure, split by the experiment arms: at each
    * churn time, expected arm-A deaths under H₀ are d_t·n₁ₜ/n_t and
    * the hypergeometric variance is d_t·(n₁ₜ/n_t)·(n₂ₜ/n_t)·
    * (n_t−d_t)/(n_t−1); χ² = (Σ(d₁ₜ−E₁ₜ))²/ΣV_t. The at-risk counts
    * are integer window cumsums per arm; per-time fraction terms
    * cross to double once each and sum through DECIMAL(38,12).
    *
    * Scale shape: one map-combined fact aggregate to users, one
    * aggregate to the (t, arm) grid, two windowed passes over the
    * time grid — bounded by the observation calendar, not the corpus.
    */
  def logrankTest(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val d12 = DecimalType(38, 12)
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    val bounds = users.agg(max(col("last_us")).as("end_us"))
    val lives = users.crossJoin(broadcast(bounds))
      .select(when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
        expr(s"(last_us - first_us) DIV $HourUs").as("t"),
        (col("last_us") < col("end_us") - SurvivalCensorHours * HourUs)
          .cast(LongType).as("churn"))
    val grid = lives.groupBy(col("t"))
      .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("c1"),
        sum(when(col("arm") === "B", 1L).otherwise(0L)).as("c2"),
        sum(when(col("arm") === "A", col("churn")).otherwise(0L)).as("d1"),
        sum(when(col("arm") === "B", col("churn")).otherwise(0L)).as("d2"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = grid
      .withColumn("n1", sum(col("c1")).over(wDesc))
      .withColumn("n2", sum(col("c2")).over(wDesc))
      .filter(col("d1") + col("d2") > 0)
    val nT = (col("n1") + col("n2")).cast(DoubleType)
    val dT = (col("d1") + col("d2")).cast(DoubleType)
    val oe = col("d1").cast(DoubleType) -
      dT * col("n1").cast(DoubleType) / nT
    val vt = dT * (col("n1").cast(DoubleType) / nT) *
      (col("n2").cast(DoubleType) / nT) *
      (nT - dT) / (nT - lit(1.0))
    risk
      .filter(col("n1") + col("n2") > 1)
      .select(sum(col("d1")).as("churn_a"), sum(col("d2")).as("churn_b"),
        sum(oe.cast(d12)).cast(DoubleType).as("oe"),
        sum(vt.cast(d12)).cast(DoubleType).as("v"))
      .select(col("churn_a"), col("churn_b"),
        round(col("oe"), 6).as("o_minus_e"), round(col("v"), 6).as("var_lr"),
        round(col("oe") * col("oe") / col("v"), 6).as("chi2"))
  }

  val logrankTestOracle: String =
    s"""WITH users AS (
       |  SELECT user_id, MIN(epoch_us(ts)) AS first_us,
       |    MAX(epoch_us(ts)) AS last_us
       |  FROM events GROUP BY 1),
       |bounds AS (SELECT MAX(last_us) AS end_us FROM users),
       |lives AS (
       |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
       |    (last_us - first_us) // 3600000000 AS t,
       |    CASE WHEN last_us < end_us - $SurvivalCensorHours * 3600000000
       |      THEN 1 ELSE 0 END AS churn
       |  FROM users CROSS JOIN bounds),
       |grid AS (
       |  SELECT t,
       |    SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS c1,
       |    SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS c2,
       |    SUM(CASE WHEN arm = 'A' THEN churn ELSE 0 END) AS d1,
       |    SUM(CASE WHEN arm = 'B' THEN churn ELSE 0 END) AS d2
       |  FROM lives GROUP BY t),
       |risk AS (
       |  SELECT t, d1, d2,
       |    SUM(c1) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
       |    SUM(c2) OVER (ORDER BY t DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2
       |  FROM grid),
       |terms AS (
       |  SELECT d1, d2,
       |    CAST(d1 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE)
       |      * CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS oe_t,
       |    CAST(d1 + d2 AS DOUBLE)
       |      * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
       |      * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
       |      * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
       |      / (CAST(n1 + n2 AS DOUBLE) - 1.0) AS v_t
       |  FROM risk WHERE d1 + d2 > 0 AND n1 + n2 > 1),
       |agg AS (
       |  SELECT CAST(SUM(d1) AS BIGINT) AS churn_a,
       |    CAST(SUM(d2) AS BIGINT) AS churn_b,
       |    CAST(SUM(CAST(oe_t AS DECIMAL(38,12))) AS DOUBLE) AS oe,
       |    CAST(SUM(CAST(v_t AS DECIMAL(38,12))) AS DOUBLE) AS v
       |  FROM terms)
       |SELECT churn_a, churn_b, round(oe, 6) + 0.0 AS o_minus_e,
       |  round(v, 6) AS var_lr, round(oe * oe / v, 6) AS chi2
       |FROM agg""".stripMargin

  // the SAME Poisson(1) CDF thresholds as [[PoissonHex]], as 32-bit
  // integers for the chunked xxhash64 word draw: u32 < t ≡
  // u8hex < hex, so the twin's weight law is bit-identical to the
  // gate's
  private val PoissonXx32: Seq[Long] =
    PoissonHex.map(java.lang.Long.parseLong(_, 16))

  /** [[bootstrapPoisson]] with the production hash: the per-(row,
    * resample) draw is a codegen'd xxhash64 word instead of an md5 hex
    * render (the md5 is the DuckDB-reproducibility device), chunked
    * like the gate — one xxhash64 is 64 bits = TWO independent 32-bit
    * uniforms, so resample r reads word (r−1) mod 2 of
    * hash(key, "boot", ⌊(r−1)/2⌋): ⌈R/2⌉ = 13 hashes per row. The
    * 32-bit thresholds are the SAME Poisson CDF constants as the md5
    * gate's hex thresholds (parsed to integers), so the weight LAW is
    * identical — only the draw stream differs. Not DuckDB-expressible,
    * so it lives in the bench-only battery with the other xxhash twins
    * and Round13GatesSpec pins its agreement with the gated twin.
    */
  def bootstrapPoissonXx(s: SparkSession, dir: String): DataFrame =
    bootstrapPoissonWith(s, dir, PoissonXx32.map(lit), { oFan =>
      val hashed = (0 until (BootR + 1) / 2).foldLeft(oFan) { (d2, k) =>
        d2.withColumn(s"__h$k", xxhash64(col("o_orderkey"), lit("boot"), lit(k)))
      }
      (hashed, (1 to BootR).map { r =>
        val h = col(s"__h${(r - 1) / 2}")
        if ((r - 1) % 2 == 0) shiftrightunsigned(h, 32)
        else pmod(h, lit(4294967296L))
      })
    })

  /** Production-hash twins: not DuckDB-expressible (xxhash64), timed
    * by Bench next to the md5-gated versions — see
    * [[graft.queries.Sketches.benchOnlyDefs]] for the pattern.
    */
  val benchOnlyDefs: Seq[QueryDef] = Seq(
    QueryDef("ops_bootstrap_xxhash", bootstrapPoissonXx, None),
  )

  /** Cochran–Mantel–Haenszel stratified 2×2 test (Mantel & Haenszel
    * 1959) of arm × conversion controlling for activity stratum — the
    * confounder-adjusted complement to [[abLift]]'s pooled z (Simpson's
    *-paradox insurance every experimentation readout needs), sharing
    * [[ipwAte]]'s stratum definition. Per stratum: E = n_A·m₁/n and
    * the hypergeometric V = n_A·n_B·m₁·m₀/(n²(n−1)); the statistic is
    * χ² = (Σ(a−E))²/ΣV (no continuity correction — determinism over
    * convention, stated), plus the MH common odds ratio
    * Σ(a·d/n)/Σ(b·c/n). Counts are exact integers; per-stratum terms
    * cross to double once and sum through DECIMAL(38,12).
    *
    * Scale shape: one map-combined fact aggregate to users, one hash
    * aggregate to the ≤4-row stratum grid; windows run on that grid.
    */
  def cmhTest(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        max(when(col("event_type") === "purchase" &&
            get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
          .otherwise(0L)).as("conv"))
      .select(least(lit(3L), floor(col("n_click") / 5).cast(LongType))
          .as("stratum"),
        when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("in_a"),
        col("conv"))
    val strata = users.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"),
        sum(col("in_a")).as("n_a"),
        sum(lit(1L) - col("in_a")).as("n_b"),
        sum(col("in_a") * col("conv")).as("a"),
        sum((lit(1L) - col("in_a")) * col("conv")).as("c"))
      .filter(col("n") > 1 && col("n_a") > 0 && col("n_b") > 0)
      .withColumn("b", col("n_a") - col("a"))
      .withColumn("d", col("n_b") - col("c"))
      .withColumn("m1", col("a") + col("c"))
      .withColumn("m0", col("b") + col("d"))
    val nD = col("n").cast(DoubleType)
    val eA = col("n_a").cast(DoubleType) * col("m1").cast(DoubleType) / nD
    val vI = col("n_a").cast(DoubleType) * col("n_b").cast(DoubleType) *
      col("m1").cast(DoubleType) * col("m0").cast(DoubleType) /
      (nD * nD * (nD - lit(1.0)))
    val wall = Window.partitionBy()
    strata
      .withColumn("e_a", eA).withColumn("v_i", vI)
      .withColumn("sum_ae",
        sum((col("a").cast(DoubleType) - col("e_a")).cast(d12)).over(wall)
          .cast(DoubleType))
      .withColumn("sum_v", sum(col("v_i").cast(d12)).over(wall)
        .cast(DoubleType))
      .withColumn("or_num",
        sum((col("a").cast(DoubleType) * col("d").cast(DoubleType) / nD)
          .cast(d12)).over(wall).cast(DoubleType))
      .withColumn("or_den",
        sum((col("b").cast(DoubleType) * col("c").cast(DoubleType) / nD)
          .cast(d12)).over(wall).cast(DoubleType))
      .select(col("stratum"), col("n"), col("n_a"), col("n_b"),
        col("a").as("conv_a"), col("c").as("conv_b"),
        round(col("e_a"), 6).as("e_a"), round(col("v_i"), 6).as("v_i"),
        round(col("sum_ae") * col("sum_ae") / col("sum_v"), 6).as("cmh_chi2"),
        round(col("or_num") / col("or_den"), 6).as("or_mh"))
      .orderBy(col("stratum"))
  }

  val cmhTestOracle: String =
    """WITH users AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
      |    MAX(CASE WHEN event_type = 'purchase'
      |      AND CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
      |      THEN 1 ELSE 0 END) AS conv,
      |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
      |  FROM events GROUP BY user_id),
      |assigned AS (
      |  SELECT least(3, n_click // 5) AS stratum, in_a, conv FROM users),
      |strata AS (
      |  SELECT stratum, COUNT(*) AS n, SUM(in_a) AS n_a,
      |    SUM(1 - in_a) AS n_b, SUM(in_a * conv) AS a,
      |    SUM((1 - in_a) * conv) AS c
      |  FROM assigned GROUP BY stratum
      |  HAVING COUNT(*) > 1 AND SUM(in_a) > 0 AND SUM(1 - in_a) > 0),
      |cells AS (
      |  SELECT *, n_a - a AS b, n_b - c AS d, a + c AS m1,
      |    (n_a - a) + (n_b - c) AS m0
      |  FROM strata),
      |terms AS (
      |  SELECT *,
      |    CAST(n_a AS DOUBLE) * CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE) AS e_a,
      |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(m1 AS DOUBLE)
      |      * CAST(m0 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * (CAST(n AS DOUBLE) - 1.0)) AS v_i
      |  FROM cells),
      |sums AS (
      |  SELECT *,
      |    CAST(SUM(CAST(CAST(a AS DOUBLE) - e_a AS DECIMAL(38,12)))
      |      OVER () AS DOUBLE) AS sum_ae,
      |    CAST(SUM(CAST(v_i AS DECIMAL(38,12))) OVER () AS DOUBLE) AS sum_v,
      |    CAST(SUM(CAST(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS DECIMAL(38,12))) OVER () AS DOUBLE)
      |      AS or_num,
      |    CAST(SUM(CAST(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS DECIMAL(38,12))) OVER () AS DOUBLE)
      |      AS or_den
      |  FROM terms)
      |SELECT CAST(stratum AS BIGINT) AS stratum, CAST(n AS BIGINT) AS n,
      |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(a AS BIGINT) AS conv_a, CAST(c AS BIGINT) AS conv_b,
      |  round(e_a, 6) AS e_a, round(v_i, 6) AS v_i,
      |  round(sum_ae * sum_ae / sum_v, 6) AS cmh_chi2,
      |  round(or_num / or_den, 6) AS or_mh
      |FROM sums ORDER BY stratum""".stripMargin

  /** Theil T inequality index (Theil 1967) of customer order spend per
    * market segment — [[gini]]'s information-theoretic sibling:
    * T = Σᵢ (xᵢ/X)·ln(N·xᵢ/X), zero at perfect equality, ln N at
    * total concentration. Unlike Gini it needs NO sort — one pass of
    * per-row terms — which is why large-scale concentration monitors
    * prefer it (and it decomposes additively across subgroups). Spend
    * is exact cents; per-customer terms cross to double once (ln is
    * the cross-engine transcendental, the [[churnFit]] precedent) and
    * sum through DECIMAL(38,12).
    *
    * Scale shape: one fact hash aggregate to customers, a broadcast
    * dim join, two segment-window passes, one hash aggregate to the
    * 5-row segment grid — no window ever sorts (contrast [[gini]]'s
    * rank window): the sort-free shape is the operator's selling
    * point at 100 TB.
    */
  def theilIndex(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val d12 = DecimalType(38, 12)
    val spend = Tables.t(s, dir, "orders")
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast(LongType).as("c"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("c").cast(d)).cast(LongType).as("cents"))
    val seg = spend
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    val wSeg = Window.partitionBy(col("c_mktsegment"))
    val term = (col("cents").cast(DoubleType) / col("tot").cast(DoubleType)) *
      log(col("n").cast(DoubleType) * col("cents").cast(DoubleType) /
        col("tot").cast(DoubleType))
    seg
      .withColumn("n", count(lit(1)).over(wSeg))
      .withColumn("tot", sum(col("cents").cast(d)).over(wSeg).cast(LongType))
      .withColumn("term", term)
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n_customers"),
        max(col("tot")).as("total_cents"),
        sum(col("term").cast(d12)).cast(DoubleType).as("theil0"))
      .select(col("c_mktsegment"), col("n_customers"), col("total_cents"),
        round(col("theil0"), 6).as("theil"))
      .orderBy(col("c_mktsegment"))
  }

  val theilIndexOracle: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |seg AS (
      |  SELECT c.c_mktsegment, s.cents
      |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
      |w AS (
      |  SELECT c_mktsegment, cents,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
      |    CAST(SUM(cents) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS tot
      |  FROM seg),
      |t AS (
      |  SELECT *,
      |    (CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) * CAST(cents AS DOUBLE)
      |        / CAST(tot AS DOUBLE)) AS term
      |  FROM w)
      |SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_customers,
      |  MAX(tot) AS total_cents,
      |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) + 0.0 AS theil
      |FROM t GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Capture–recapture population estimation (Lincoln–Petersen and
    * the bias-corrected Chapman 1951 estimator) — "how big is the
    * corpus, given two independent samples and their overlap", the
    * mark-recapture logic reused for estimating coverage of crawls
    * and dedup universes. Two deterministic 25% md5 samples of the
    * order population: N̂_LP = n₁n₂/m, N̂_Ch = (n₁+1)(n₂+1)/(m+1) − 1.
    * All counts exact integers; one double division per estimate; the
    * true N rides along so the gate pins estimator-vs-truth.
    *
    * Scale shape: one scan with two hash predicates, one 1-row
    * aggregate — the estimate costs two Bernoulli samples, never a
    * distinct-count.
    */
  def captureRecapture(s: SparkSession, dir: String): DataFrame = {
    def inSample(salt: String) =
      substring(md5(concat(col("o_orderkey").cast("string"), lit(salt))),
        1, 4) < "4000"
    Tables.t(s, dir, "orders")
      .select(when(inSample(":cap1"), 1L).otherwise(0L).as("s1"),
        when(inSample(":cap2"), 1L).otherwise(0L).as("s2"))
      .agg(count(lit(1)).as("n_true"), sum(col("s1")).as("n1"),
        sum(col("s2")).as("n2"), sum(col("s1") * col("s2")).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        round(col("n1").cast(DoubleType) * col("n2").cast(DoubleType) /
          col("m").cast(DoubleType), 6).as("n_lp"),
        round((col("n1") + 1).cast(DoubleType) *
          (col("n2") + 1).cast(DoubleType) /
          (col("m") + 1).cast(DoubleType) - lit(1.0), 6).as("n_chapman"))
  }

  val captureRecaptureOracle: String =
    """WITH s AS (
      |  SELECT
      |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':cap1'), 1, 4)
      |      < '4000' THEN 1 ELSE 0 END AS s1,
      |    CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR) || ':cap2'), 1, 4)
      |      < '4000' THEN 1 ELSE 0 END AS s2
      |  FROM orders),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
      |    CAST(SUM(s1) AS BIGINT) AS n1, CAST(SUM(s2) AS BIGINT) AS n2,
      |    CAST(SUM(s1 * s2) AS BIGINT) AS m
      |  FROM s)
      |SELECT n_true, n1, n2, m,
      |  round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(m AS DOUBLE), 6)
      |    AS n_lp,
      |  round(CAST(n1 + 1 AS DOUBLE) * CAST(n2 + 1 AS DOUBLE)
      |    / CAST(m + 1 AS DOUBLE) - 1.0, 6) AS n_chapman
      |FROM agg""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ops_theil_index", theilIndex, Some(theilIndexOracle)),
    QueryDef("ops_capture_recapture", captureRecapture,
      Some(captureRecaptureOracle)),
    QueryDef("ops_cmh_test", cmhTest, Some(cmhTestOracle)),
    QueryDef("ops_auc_roc", aucRoc, Some(aucRocOracle)),
    QueryDef("ops_calibration_ece", calibrationEce, Some(calibrationEceOracle)),
    QueryDef("ops_cohens_kappa", cohensKappa, Some(cohensKappaOracle)),
    QueryDef("ops_logrank_test", logrankTest, Some(logrankTestOracle)),
    QueryDef("ops_fdr_bh", fdrBh, Some(fdrBhOracle)),
    QueryDef("ops_kruskal_wallis", kruskalWallis, Some(kruskalWallisOracle)),
    QueryDef("ops_bootstrap_poisson", bootstrapPoisson,
      Some(bootstrapPoissonOracle)),
    QueryDef("ops_jackknife_se", jackknifeSe, Some(jackknifeSeOracle)),
    QueryDef("ops_ipw_ate", ipwAte, Some(ipwAteOracle)),
    QueryDef("ops_gains_curve", gainsCurve, Some(gainsCurveOracle)),
    QueryDef("ops_churn_fit", churnFit, Some(churnFitOracle)),
    QueryDef("ops_seasonality_strength", seasonalityStrength,
      Some(seasonalityStrengthOracle)),
    QueryDef("ops_elasticity", elasticity, Some(elasticityOracle)),
    QueryDef("ops_gini", gini, Some(giniOracle)),
    QueryDef("ops_trimmed_mean", trimmedMean, Some(trimmedMeanOracle)),
    QueryDef("ops_chi2_assoc", chi2Assoc, Some(chi2AssocOracle)),
    QueryDef("ops_spearman", spearman, Some(spearmanOracle)),
    QueryDef("ops_ab_lift", abLift, Some(abLiftOracle)),
    QueryDef("ops_mannwhitney", mannWhitney, Some(mannWhitneyOracle)),
    QueryDef("ops_did", didEstimate, Some(didOracle)),
    QueryDef("ops_cuped", cuped, Some(cupedOracle)),
    QueryDef("ops_woe_iv", woeIv, Some(woeIvOracle)),
    QueryDef("ops_lorenz", lorenzDeciles, Some(lorenzOracle)),
    QueryDef("ops_survival_km", survivalKm, Some(survivalKmOracle)),
    QueryDef("ops_ttest_welch", welchTTest, Some(welchOracle)),
    QueryDef("ops_power_mde", powerMde, Some(powerMdeOracle)),
  )
}
