package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 tranche: quantile-shape analytics born on the
  * [[Pctl.dist]] histogram device — the classic order-statistic
  * readouts (Tukey's boxplot fences, Bowley/Moors quantile shape
  * coefficients, Q–Q decile drift, corpus length profiles) that a
  * percentile aggregate buffering whole fact groups could never serve
  * at 100 TB. Every gate's quantiles ride the device end-to-end:
  * one map-combined histogram aggregate over the fact, cumulative
  * counts on [[DistRank.prefixLt]], a broadcast straddle join, and
  * grid-sized algebra after.
  *
  * Float policy (repo-wide): device quantiles are round-6 doubles
  * bit-equal to Spark's `percentile` (PctlDistSpec), matched by
  * DuckDB `quantile_cont` + round in the oracles (the
  * `fn_percentile_suite` equivalence); derived statistics are single
  * double expressions over those rounded values, written identically
  * in both engines, rounded, and −0.0-normalized (`+ 0.0`) wherever
  * the value is negative-capable (the gr_modularity device).
  */
object QuantileOps {

  private val deciles: Seq[(String, Double)] =
    (1 to 9).map(i => s"d$i" -> i / 10.0)

  /** TUKEY BOXPLOT FENCES (Tukey 1977, Exploratory Data Analysis ch.
    * 2; the 1.5·IQR "inner" / 3·IQR "outer" fence convention): per
    * event type — quartiles, IQR, both fence pairs, and the counts of
    * MILD (outside inner, within outer) and EXTREME (outside outer)
    * outliers. The quartile-based sibling of the median/MAD screen in
    * [[DataOps.outlierBounds]]: MAD fences resist heavy tails harder,
    * Tukey fences are what every boxplot and data-profiling UI
    * actually draws.
    *
    * Determinism: fences derive from ROUND-6 quartiles with one
    * rounded arithmetic step each, so boundary membership cannot flip
    * on interpolation ulps; counts are exact integers.
    *
    * Scale shape: one [[Pctl.dist]] histogram pass, the 5-row fence
    * relation broadcast back onto the fact, one conditional-count
    * aggregate. Nothing fact-sized is ever buffered or sorted.
    */
  def tukeyFences(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type"), col("value").as("v"))
    val q = Pctl.dist(ev, Seq("event_type"), "v",
        Seq("q1" -> 0.25, "q3" -> 0.75), bounded = true)
      .withColumn("iqr", round(col("q3") - col("q1"), 6))
      // fences can cross zero → two-sided −0.0 normalization
      .withColumn("lo_inner", round(col("q1") - col("iqr") * 1.5, 6) + lit(0.0))
      .withColumn("hi_inner", round(col("q3") + col("iqr") * 1.5, 6) + lit(0.0))
      .withColumn("lo_outer", round(col("q1") - col("iqr") * 3.0, 6) + lit(0.0))
      .withColumn("hi_outer", round(col("q3") + col("iqr") * 3.0, 6) + lit(0.0))
    ev.join(broadcast(q), "event_type")
      .groupBy(col("event_type"), col("q1"), col("q3"), col("iqr"),
        col("lo_inner"), col("hi_inner"), col("lo_outer"), col("hi_outer"))
      .agg(count(lit(1)).as("n_events"),
        sum(when((col("v") < col("lo_inner") || col("v") > col("hi_inner")) &&
          col("v") >= col("lo_outer") && col("v") <= col("hi_outer"), 1L)
          .otherwise(0L)).as("n_mild"),
        sum(when(col("v") < col("lo_outer") || col("v") > col("hi_outer"), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("event_type"), col("n_events"), col("q1"), col("q3"),
        col("iqr"), col("lo_inner"), col("hi_inner"), col("lo_outer"),
        col("hi_outer"), col("n_mild"), col("n_extreme"))
      .orderBy(col("event_type"))
  }

  val tukeyFencesOracle: String =
    s"""WITH ev AS (SELECT event_type, "value" AS v FROM events),
      |q0 AS (SELECT event_type,
      |    ${Pctl.sql("v", 0.25)} AS q1, ${Pctl.sql("v", 0.75)} AS q3
      |  FROM ev GROUP BY 1),
      |q AS (SELECT event_type, q1, q3, round(q3 - q1, 6) AS iqr FROM q0),
      |f AS (SELECT event_type, q1, q3, iqr,
      |    round(q1 - 1.5 * iqr, 6) + 0.0 AS lo_inner,
      |    round(q3 + 1.5 * iqr, 6) + 0.0 AS hi_inner,
      |    round(q1 - 3.0 * iqr, 6) + 0.0 AS lo_outer,
      |    round(q3 + 3.0 * iqr, 6) + 0.0 AS hi_outer
      |  FROM q)
      |SELECT ev.event_type, COUNT(*) AS n_events, f.q1, f.q3, f.iqr,
      |  f.lo_inner, f.hi_inner, f.lo_outer, f.hi_outer,
      |  CAST(SUM(CASE WHEN (ev.v < f.lo_inner OR ev.v > f.hi_inner)
      |    AND ev.v >= f.lo_outer AND ev.v <= f.hi_outer
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mild,
      |  CAST(SUM(CASE WHEN ev.v < f.lo_outer OR ev.v > f.hi_outer
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      |FROM ev JOIN f USING (event_type)
      |GROUP BY 1, 3, 4, 5, 6, 7, 8, 9
      |ORDER BY event_type""".stripMargin

  /** QUANTILE SHAPE COEFFICIENTS (Bowley 1901 quartile skewness;
    * Moors 1988 octile kurtosis; the quartile coefficient of
    * dispersion): per customer market segment over order-price cents.
    * Moment skewness/kurtosis explode under heavy tails — these are
    * the robust shape descriptors a 100 TB profiling pass can afford,
    * and all eight order statistics come from ONE device pass (one
    * histogram, eight straddle rows per segment).
    *
    *   bowley = (Q3 + Q1 − 2·Q2) / (Q3 − Q1)            ∈ [−1, 1]
    *   moors  = ((E7 − E5) + (E3 − E1)) / (E6 − E2)      (octiles)
    *   qcd    = (Q3 − Q1) / (Q3 + Q1)
    */
  def bowleySkew(s: SparkSession, dir: String): DataFrame = {
    // pinned: the sparse percentile device scans its input
    // three times (bounds, bucket counts, candidate join) — fine on a
    // raw column-pruned scan, but this input is an orders⋈customer
    // JOIN, so it materializes once (the brownForsythe pattern)
    val ord = graft.plans.Checkpoint.pin(Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        round(col("o_totalprice") * 100).cast("long").as("cents")))
    val oct = Pctl.dist(ord, Seq("segment"), "cents",
      (1 to 7).map(i => s"e$i" -> i / 8.0))
    oct.select(col("segment"),
        col("e2").as("q1_cents"), col("e4").as("q2_cents"),
        col("e6").as("q3_cents"),
        (round((col("e6") + col("e2") - col("e4") * 2.0) /
          (col("e6") - col("e2")), 6) + lit(0.0)).as("bowley_skew"),
        (round(((col("e7") - col("e5")) + (col("e3") - col("e1"))) /
          (col("e6") - col("e2")), 6) + lit(0.0)).as("moors_kurt"),
        round((col("e6") - col("e2")) / (col("e6") + col("e2")), 6)
          .as("qcd"))
      .orderBy(col("segment"))
  }

  val bowleySkewOracle: String = {
    val es = (1 to 7).map(i => s"${Pctl.sql("cents", i / 8.0)} AS e$i")
      .mkString(",\n      |    ")
    s"""WITH ord AS (
      |  SELECT c.c_mktsegment AS segment,
      |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |oct AS (SELECT segment,
      |    $es
      |  FROM ord GROUP BY 1)
      |SELECT segment, e2 AS q1_cents, e4 AS q2_cents, e6 AS q3_cents,
      |  round((e6 + e2 - 2.0 * e4) / (e6 - e2), 6) + 0.0 AS bowley_skew,
      |  round(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6) + 0.0 AS moors_kurt,
      |  round((e6 - e2) / (e6 + e2), 6) AS qcd
      |FROM oct ORDER BY segment""".stripMargin
  }

  /** Q–Q DECILE DRIFT (Wilk & Gnanadesikan 1968, the quantile-quantile
    * plot read as a drift table): each event type's deciles against
    * the rest-of-corpus deciles — where [[DataOps.ksDrift]] compares
    * CDF heights at shared values and [[DataOps.psiDrift]] compares
    * bin masses, the Q–Q table compares VALUES at shared probability
    * levels, the reading that localizes WHERE in the distribution the
    * shift lives (a tail-only shift moves d9 and nothing else).
    *
    * Scale shape: the rest relation is the [[DataOps.psiDrift]]
    * 5-row-domain broadcast fan; both decile sets ride one
    * [[Pctl.dist]] pass each; the output is the 5 × 9 grid.
    */
  def qqDeciles(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("event_type"), col("value").as("v"))
    val types = e.select(col("event_type").as("t")).distinct()
    val rest = broadcast(types).join(e, col("event_type") =!= col("t"))
      .select(col("t"), col("v"))
    val own = Pctl.dist(e.select(col("event_type").as("t"), col("v")),
      Seq("t"), "v", deciles.map { case (n, q) => s"o_$n" -> q }, bounded = true)
    val oth = Pctl.dist(rest, Seq("t"), "v",
      deciles.map { case (n, q) => s"r_$n" -> q }, bounded = true)
    val stacked = (1 to 9).map(i =>
      s"$i, o_d$i, r_d$i").mkString(", ")
    own.join(oth, "t")
      .select(col("t"),
        expr(s"stack(9, $stacked) AS (decile, q_own, q_rest)"))
      .select(col("t").as("event_type"), col("decile").cast("long").as("decile"),
        col("q_own"), col("q_rest"),
        (round(col("q_own") - col("q_rest"), 6) + lit(0.0)).as("gap"))
      .orderBy(col("event_type"), col("decile"))
  }

  val qqDecilesOracle: String = {
    val qlist = (1 to 9).map(_ / 10.0).mkString(", ")
    s"""WITH e AS (SELECT event_type, "value" AS v FROM events),
      |types AS (SELECT DISTINCT event_type AS t FROM e),
      |own AS (SELECT event_type AS t,
      |    quantile_cont(v, [$qlist]) AS lo FROM e GROUP BY 1),
      |rest AS (SELECT types.t,
      |    quantile_cont(e.v, [$qlist]) AS lr
      |  FROM types JOIN e ON e.event_type <> types.t GROUP BY 1),
      |d AS (SELECT unnest(range(1, 10)) AS decile)
      |SELECT own.t AS event_type, CAST(d.decile AS BIGINT) AS decile,
      |  round(lo[CAST(d.decile AS INT)], 6) AS q_own,
      |  round(lr[CAST(d.decile AS INT)], 6) AS q_rest,
      |  round(round(lo[CAST(d.decile AS INT)], 6)
      |    - round(lr[CAST(d.decile AS INT)], 6), 6) + 0.0 AS gap
      |FROM own JOIN rest ON own.t = rest.t CROSS JOIN d
      |ORDER BY event_type, decile""".stripMargin
  }

  /** CORPUS LENGTH PROFILE per source — the percentile table every
    * curation run prints before choosing chunking and length-filter
    * thresholds (the Gopher rules' length cuts are percentile
    * judgments; this is the evidence they're judged from): document
    * count and the p10/p25/p50/p75/p90/p99 of n_chars, plus the IQR.
    * One [[Pctl.dist]] histogram pass over the corpus; the histogram
    * is length-domain-sized, orders of magnitude below the document
    * count at 100 TB.
    */
  def lenProfile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("source"), col("n_chars"))
    val qs = Seq("p10" -> 0.1, "p25" -> 0.25, "p50" -> 0.5,
      "p75" -> 0.75, "p90" -> 0.9, "p99" -> 0.99)
    Pctl.dist(docs, Seq("source"), "n_chars", qs,
        bounded = true, countAs = Some("n_docs"))
      .select(col("source"), col("n_docs"), col("p10"), col("p25"),
        col("p50"), col("p75"), col("p90"), col("p99"),
        round(col("p75") - col("p25"), 6).as("iqr"))
      .orderBy(col("source"))
  }

  val lenProfileOracle: String =
    s"""SELECT source, COUNT(n_chars) AS n_docs,
      |  ${Pctl.sql("n_chars", 0.1)} AS p10,
      |  ${Pctl.sql("n_chars", 0.25)} AS p25,
      |  ${Pctl.sql("n_chars", 0.5)} AS p50,
      |  ${Pctl.sql("n_chars", 0.75)} AS p75,
      |  ${Pctl.sql("n_chars", 0.9)} AS p90,
      |  ${Pctl.sql("n_chars", 0.99)} AS p99,
      |  round(${Pctl.sql("n_chars", 0.75)}
      |    - ${Pctl.sql("n_chars", 0.25)}, 6) AS iqr
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** ANSARI–BRADLEY rank-dispersion statistic (Ansari & Bradley 1960;
    * Conover 1999 §5.3, midscore tie handling): each event type's
    * values against the pooled corpus — the DISPERSION companion of
    * the location-shift rank tests (mannwhitney) and the EDF drift
    * family: scores a(r) = min(r, N+1−r) give extreme observations
    * low scores, so a sample with INFLATED spread scores low and a
    * compressed one high.
    *
    * Exact tie-block algebra instead of per-row ranks: a distinct
    * pooled value with count c and exclusive prefix p occupies ranks
    * [p+1, p+c]; Σ a(r) over that interval has a closed form — the
    * ascending leg Σr up to h = ⌊(N+1)/2⌋ and the descending leg
    * Σ(N+1−r) after it, both exact integer sums carried in
    * DECIMAL(38,0) (rank² leaves Long at 10¹² rows, ≙ HUGEINT in the
    * oracle). The type's statistic is Σ_v n_type(v)·S_block(v)/c(v)
    * — the midscore average per tie block — with ONE double division
    * per distinct value, Σ over the value grid in DECIMAL(38,12),
    * round-6 output (the repo float policy).
    *
    * Scale shape: one fact hash-aggregate to (type × 2-dp bucket)
    * counts; the pooled prefix rides [[DistRank.prefixLt]]; all
    * remaining algebra is value-domain-sized.
    */
  def ansariBradley(s: SparkSession, dir: String): DataFrame = {
    val d0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val counts = graft.plans.Checkpoint.pin(Tables.t(s, dir, "events")
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("b"))
      .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c")))
    val allB = counts.groupBy(col("b")).agg(sum(col("c")).as("c_all"))
    val pooled = DistRank.prefixLt(allB, Nil, "b", Seq("c_all"))
    val nAll = counts.agg(sum(col("c")).as("n_all"))
    // DOUBLED S_block over ranks [a, bb] of a(r) = min(r, N+1−r),
    // split at h = ⌊(N+1)/2⌋: ascending 2·Σr on [a, min(bb,h)],
    // descending 2·Σ(N+1−r) on [max(a,h+1), bb]. Doubling keeps every
    // interval sum a PRODUCT of integers (x(x+1), never /2), so both
    // engines carry exact DECIMAL(38,0)/HUGEINT all the way — the /2
    // folds into the single closing double division per block
    def sumTo2(x: Column): Column = // 2·Σ_{r=1..x} r = x(x+1), exact
      x.cast(d0) * (x + 1L)
    val blocks = pooled.crossJoin(broadcast(nAll))
      .withColumn("a", col("c_all_lt") + 1L)
      .withColumn("bb", col("c_all_lt") + col("c_all"))
      .withColumn("h", expr("(n_all + 1) div 2"))
      .withColumn("s_asc2",
        when(col("a") <= least(col("bb"), col("h")),
          sumTo2(least(col("bb"), col("h"))) - sumTo2(col("a") - 1L))
          .otherwise(lit(0).cast(d0)))
      .withColumn("t0", greatest(col("a"), col("h") + 1L))
      .withColumn("s_desc2",
        when(col("t0") <= col("bb"),
          (col("bb") - col("t0") + 1L).cast(d0) *
            (col("n_all") + 1L) * 2L -
            (sumTo2(col("bb")) - sumTo2(col("t0") - 1L)))
          .otherwise(lit(0).cast(d0)))
      .select(col("b"), col("c_all"), col("n_all"),
        (col("s_asc2") + col("s_desc2")).as("s_block2"))
    counts.join(blocks, "b")
      .withColumn("term",
        ((col("c").cast(d0) * col("s_block2")).cast("double") /
          (col("c_all") * 2L).cast("double")).cast(d12))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_s"), min(col("n_all")).as("n_all"),
        sum(col("term")).cast("double").as("ab_raw"))
      .select(col("event_type"), col("n_s"), col("n_all"),
        round(col("ab_raw"), 6).as("ab_stat"))
      .orderBy(col("event_type"))
  }

  val ansariBradleyOracle: String =
    """WITH e AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS b FROM events),
      |counts AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |allb AS (SELECT b, SUM(c) AS c_all FROM counts GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM e),
      |pooled AS (SELECT b, c_all,
      |    COALESCE(SUM(c_all) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
      |  FROM allb),
      |blocks AS (
      |  SELECT b, c_all, n.n_all,
      |    p + 1 AS a, p + c_all AS bb, (n.n_all + 1) // 2 AS h
      |  FROM pooled CROSS JOIN n),
      |sums AS (
      |  SELECT b, c_all, n_all,
      |    (CASE WHEN a <= least(bb, h)
      |      THEN CAST(least(bb, h) AS HUGEINT) * (least(bb, h) + 1)
      |        - CAST(a - 1 AS HUGEINT) * a
      |      ELSE 0 END)
      |    + (CASE WHEN greatest(a, h + 1) <= bb
      |      THEN CAST(bb - greatest(a, h + 1) + 1 AS HUGEINT)
      |          * (n_all + 1) * 2
      |        - (CAST(bb AS HUGEINT) * (bb + 1)
      |          - CAST(greatest(a, h + 1) - 1 AS HUGEINT)
      |            * greatest(a, h + 1))
      |      ELSE 0 END) AS s_block2
      |  FROM blocks)
      |SELECT c.event_type, CAST(SUM(c.c) AS BIGINT) AS n_s,
      |  CAST(MIN(s.n_all) AS BIGINT) AS n_all,
      |  round(CAST(SUM(CAST(CAST(CAST(c.c AS HUGEINT) * s.s_block2 AS DOUBLE)
      |    / CAST(s.c_all * 2 AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE), 6)
      |    AS ab_stat
      |FROM counts c JOIN sums s ON c.b = s.b
      |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin

  /** PERCENTILE-BAND LENGTH FILTER — [[lenProfile]] applied: the
    * per-source [p05, p95] n_chars band (the curation convention for
    * trimming truncated fragments and concatenation artifacts without
    * a hand-tuned absolute threshold — [[DataOps.winsorize]]'s
    * keep/drop sibling for documents), reported as per-source keep
    * counts and the band itself. Bands are round-6 device quantiles,
    * compared against exact integer lengths, so boundary membership
    * cannot flip between engines.
    */
  def lengthFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
      .select(col("source"), col("n_chars"))
    val bands = Pctl.dist(docs, Seq("source"), "n_chars",
      Seq("lo" -> 0.05, "hi" -> 0.95), bounded = true, countAs = Some("n_docs"))
    docs.join(broadcast(bands), "source")
      .groupBy(col("source"), col("n_docs"), col("lo"), col("hi"))
      .agg(sum(when(col("n_chars") >= col("lo") &&
        col("n_chars") <= col("hi"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("lo"), col("hi"),
        col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("kept_share"))
      .orderBy(col("source"))
  }

  val lengthFilterOracle: String =
    s"""WITH b AS (SELECT source, COUNT(n_chars) AS n_docs,
      |    ${Pctl.sql("n_chars", 0.05)} AS lo,
      |    ${Pctl.sql("n_chars", 0.95)} AS hi
      |  FROM documents GROUP BY 1)
      |SELECT d.source, b.n_docs, b.lo, b.hi,
      |  CAST(SUM(CASE WHEN d.n_chars >= b.lo AND d.n_chars <= b.hi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  round(CAST(SUM(CASE WHEN d.n_chars >= b.lo AND d.n_chars <= b.hi
      |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(b.n_docs AS DOUBLE), 6)
      |    AS kept_share
      |FROM documents d JOIN b USING (source)
      |GROUP BY 1, 2, 3, 4 ORDER BY source""".stripMargin

  /** TOKEN-MASS-WEIGHTED length percentiles per source (r17, on the
    * [[Pctl.distHist]] weighted-histogram device): where
    * [[lenProfile]] answers "what does the median DOCUMENT look
    * like", this answers "where does the median TOKEN live" — the
    * curation readout that decides chunking and packing budgets,
    * because training cost is token mass, not document count (a
    * corpus can have a small doc-median and still hold half its
    * tokens in 10× longer documents). Weight = whitespace token
    * count of `text`, computed by the same split in both engines;
    * the weighted percentile is BY DEFINITION the exact interpolated
    * percentile of the multiset where each length repeats
    * token-count times — which is precisely what the oracle
    * materializes (a lateral `range(w)` expansion) and exactly what
    * the device computes without ever expanding anything.
    *
    * Scale shape: one map-combined fact aggregate to the (source ×
    * length) weighted histogram (length-domain-sized); the bounded
    * device runs one per-source window over it. The oracle's row
    * expansion is the SEMANTIC definition — the engine never pays it.
    */
  def tokenWeightedLen(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select(col("source"), col("n_chars"),
        size(split(col("text"), " ")).as("w"))
    Pctl.distHist(d, Seq("source"), "n_chars", "w",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9),
        bounded = true, countAs = Some("token_mass"))
      .select(col("source"), col("token_mass"), col("p25"), col("p50"),
        col("p75"), col("p90"))
      .orderBy(col("source"))
  }

  val tokenWeightedLenOracle: String =
    """WITH d AS (SELECT source, n_chars,
      |    len(string_split(text, ' ')) AS w FROM documents),
      |x AS (SELECT d.source, d.n_chars
      |  FROM d, LATERAL unnest(range(d.w)) AS t(u))
      |SELECT source, COUNT(*) AS token_mass,
      |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
      |  round(quantile_cont(n_chars, 0.50), 6) AS p50,
      |  round(quantile_cont(n_chars, 0.75), 6) AS p75,
      |  round(quantile_cont(n_chars, 0.90), 6) AS p90
      |FROM x GROUP BY source ORDER BY source""".stripMargin

  /** QUANTITY-WEIGHTED price quantiles per return flag (r17, the
    * [[Pctl.distHist]] SPARSE path): quartiles of extended price in
    * cents where each line item counts quantity times — "the median
    * sold UNIT's price", the retail reading a row-median misses when
    * cheap items sell in bulk. The weighted percentile is the exact
    * interpolated percentile of the multiset with each price repeated
    * quantity times (the oracle materializes that definition via
    * lateral range(w)); the engine computes it on the
    * near-distinct cents domain through the sparse straddle — the
    * [[Sketches.quantileReservoir]] stress regime, now weighted,
    * still with nothing fact-sized shuffled or sorted.
    */
  def weightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("w"))
    Pctl.distHist(li, Seq("grp"), "cents", "w",
        Seq("wp25" -> 0.25, "wp50" -> 0.5, "wp75" -> 0.75),
        countAs = Some("unit_mass"))
      .select(col("grp"), col("unit_mass"), col("wp25"), col("wp50"),
        col("wp75"))
      .orderBy(col("grp"))
  }

  val weightedQuantilesOracle: String =
    """WITH li AS (SELECT l_returnflag AS grp,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      |x AS (SELECT li.grp, li.cents
      |  FROM li, LATERAL unnest(range(li.w)) AS t(u))
      |SELECT grp, COUNT(*) AS unit_mass,
      |  round(quantile_cont(cents, 0.25), 6) AS wp25,
      |  round(quantile_cont(cents, 0.50), 6) AS wp50,
      |  round(quantile_cont(cents, 0.75), 6) AS wp75
      |FROM x GROUP BY grp ORDER BY grp""".stripMargin

  /** TOKEN-MASS-WEIGHTED PSI per source vs rest-of-corpus (r18 —
    * VERDICT r17 #6: the weighted-percentile device makes weighted
    * drift readouts cheap): [[DataOps.psiDrift]]'s construction with
    * every count replaced by TOKEN MASS — the length distribution
    * each source contributes to a training mix is weighted by how
    * many tokens it supplies, not how many documents, so a source of
    * few huge documents drifts as hard as many small ones. Decile
    * fences of the rest-of-corpus token mass ([[Pctl.distHist]]: the
    * exact percentile of the multiset with each length repeated
    * token-count times), add-one-smoothed PSI over the 10 mass bins.
    *
    * Determinism: fences are round-6 weighted percentiles (bit-equal
    * across engines by PctlDistSpec + the defining expansion in the
    * oracle); binning is an integer fold; the PSI sum aggregates as
    * DECIMAL (the [[DataOps.psiDrift]] policy, verbatim).
    *
    * Scale shape: ONE fact pass (map-combined token-mass aggregate to
    * the source × length grid — length-domain-sized); rest masses are
    * grid algebra (pooled − own), fences ride the bounded weighted
    * device over the grid, and the PSI sum runs over sources × 10
    * rows. The oracle pays the token expansion; the engine never
    * does.
    */
  def weightedPsi(s: SparkSession, dir: String): DataFrame = {
    DataOps.psiVsRest(s, Tables.t(s, dir, "documents")
      .select(col("source").as("t"), col("n_chars").as("b"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .groupBy(col("t"), col("b")).agg(sum(col("w")).as("c")))
      .select(col("t").as("source"), col("n_own").as("token_mass"), col("psi"))
      .orderBy(col("source"))
  }

  val weightedPsiOracle: String =
    s"""WITH e AS (SELECT source AS s, n_chars AS b,
      |    len(string_split(text, ' ')) AS w FROM documents),
      |x AS (SELECT s, b FROM e, LATERAL unnest(range(e.w)) AS t(u)),
      |types AS (SELECT DISTINCT s AS t FROM e),
      |rest AS (SELECT types.t, x.b FROM types JOIN x ON x.s <> types.t),
      |fences AS (SELECT t,
      |    ${Pctl.sqlArray("b", (1 to 9).map(_ / 10.0))} AS f
      |  FROM rest GROUP BY 1),
      |own AS (
      |  SELECT x.s AS t,
      |    list_sum(list_transform(fences.f,
      |      fx -> CASE WHEN CAST(x.b AS DOUBLE) > fx THEN 1 ELSE 0 END)) AS bin,
      |    COUNT(*) AS c_own
      |  FROM x JOIN fences ON x.s = fences.t GROUP BY 1, 2),
      |oth AS (
      |  SELECT rest.t,
      |    list_sum(list_transform(fences.f,
      |      fx -> CASE WHEN CAST(rest.b AS DOUBLE) > fx THEN 1 ELSE 0 END)) AS bin,
      |    COUNT(*) AS c_rest
      |  FROM rest JOIN fences ON rest.t = fences.t GROUP BY 1, 2),
      |grid AS (
      |  SELECT ty.t, bn.bin,
      |    COALESCE(own.c_own, 0) AS c_own, COALESCE(oth.c_rest, 0) AS c_rest
      |  FROM types ty CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) bn
      |  LEFT JOIN own ON own.t = ty.t AND own.bin = bn.bin
      |  LEFT JOIN oth ON oth.t = ty.t AND oth.bin = bn.bin),
      |tot AS (SELECT t, SUM(c_own) AS n_own, SUM(c_rest) AS n_rest
      |  FROM grid GROUP BY 1),
      |terms AS (
      |  SELECT g.t, g.c_own,
      |    (CAST(g.c_own + 1 AS DOUBLE) / (tot.n_own + 10)
      |      - CAST(g.c_rest + 1 AS DOUBLE) / (tot.n_rest + 10))
      |    * ln((CAST(g.c_own + 1 AS DOUBLE) / (tot.n_own + 10))
      |      / (CAST(g.c_rest + 1 AS DOUBLE) / (tot.n_rest + 10))) AS term
      |  FROM grid g JOIN tot ON g.t = tot.t)
      |SELECT t AS source, CAST(SUM(c_own) AS BIGINT) AS token_mass,
      |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY 1 ORDER BY source""".stripMargin

  /** QUANTITY-WEIGHTED Gini of price mass per return flag (r18 —
    * VERDICT r17 #6's "weighted Gini on unit mass"):
    * [[StatOps.gini]]'s revenue-concentration readout over the
    * multiset where each line's cents price occurs QUANTITY times —
    * "how unequal are the prices of sold UNITS", which a row-level
    * Gini misstates when cheap items sell in bulk (the
    * [[weightedQuantiles]] semantics, taken to the inequality
    * statistic). Same formula over the ascending expansion x_1..x_n:
    * G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i); a tie block of weight
    * W at value x contributes 2·Σ i·x = x·(2·W·lt + W·(W+1)) — tie-
    * order invariant, so the weighted histogram + [[DistRank.prefixLt]]
    * computes it exactly, with the expansion existing only in the
    * oracle.
    *
    * Determinism: cents and unit counts are exact integers; both sums
    * aggregate as DECIMAL(38,0) (Σ i·x reaches ~10²⁰ at sf0.1 and
    * ~10²⁷ headroom is needed at 100 TB — the oracle's HUGEINT); one
    * double division at the end, round-6.
    *
    * Scale shape: one map-combined fact aggregate to the (flag,
    * cents) weighted histogram — the near-distinct domain regime, so
    * cumulative weights ride the bucketed two-level [[DistRank.prefixLt]]
    * (no global sort, no task ever sorts more than one bucket), then
    * a 3-row aggregate.
    */
  def weightedGini(s: SparkSession, dir: String): DataFrame = {
    val d = "decimal(38,0)"
    val blocks = DistRank.prefixLt(
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag").as("grp"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("grp"), col("cents"))
        .agg(sum(col("w")).as("eq")),
      Seq("grp"), "cents", Seq("eq"))
    blocks.groupBy(col("grp"))
      .agg(sum(col("eq")).as("unit_mass"),
        sum(col("cents").cast(d) * col("eq")).as("s"),
        sum(col("cents").cast(d) *
          (col("eq").cast(d) * col("eq_lt") * 2 +
            col("eq").cast(d) * (col("eq") + 1))).as("s1x2"))
      .select(col("grp"), col("unit_mass"),
        col("s").cast("long").as("total_cents"),
        round((col("s1x2") - (col("unit_mass") + 1) * col("s"))
          .cast("double")
          / (col("unit_mass") * col("s")).cast("double"), 6).as("gini_w"))
      .orderBy(col("grp"))
  }

  val weightedGiniOracle: String =
    """WITH li AS (SELECT l_returnflag AS grp,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
      |x AS (SELECT li.grp, li.cents,
      |    row_number() OVER (PARTITION BY li.grp ORDER BY li.cents) AS rn
      |  FROM li, LATERAL unnest(range(li.w)) AS t(u))
      |SELECT grp, COUNT(*) AS unit_mass,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  round(CAST(2 * SUM(rn * cents) - (COUNT(*) + 1) * SUM(cents) AS DOUBLE)
      |    / CAST(COUNT(*) * SUM(cents) AS DOUBLE), 6) AS gini_w
      |FROM x GROUP BY grp ORDER BY grp""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ops_weighted_quantiles", weightedQuantiles,
      Some(weightedQuantilesOracle)),
    QueryDef("cu_weighted_psi", weightedPsi, Some(weightedPsiOracle)),
    QueryDef("ops_weighted_gini", weightedGini, Some(weightedGiniOracle)),
    QueryDef("ops_tukey_fences", tukeyFences, Some(tukeyFencesOracle)),
    QueryDef("ops_bowley_skew", bowleySkew, Some(bowleySkewOracle)),
    QueryDef("ops_qq_deciles", qqDeciles, Some(qqDecilesOracle)),
    QueryDef("ta_len_profile", lenProfile, Some(lenProfileOracle)),
    QueryDef("ops_ansari_bradley", ansariBradley, Some(ansariBradleyOracle)),
    QueryDef("cu_length_filter", lengthFilter, Some(lengthFilterOracle)),
    QueryDef("cu_token_weighted_len", tokenWeightedLen,
      Some(tokenWeightedLenOracle)),
  )
}
