package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType,
  IntegerType, LongType, ShortType}

/** The ONE exact-percentile recipe: every gate that reads an
  * interpolated percentile goes through this object, so a new gate
  * cannot introduce a divergent rounding variant. Both engines use
  * linear interpolation at rank q·(n−1): Spark's `percentile` (exact,
  * sort-based) and DuckDB's `quantile_cont`; rounding to a fixed scale
  * BEFORE any comparison or ranking keeps interpolation ulps out of
  * the hash compare (the repo-wide float policy,
  * [[LlmCuration.dsirWeights]]).
  *
  * ==Regime choice — the decision table==
  *
  * Each regime wins in exactly one shape of group. Pick by the GROUP's
  * row-domain, not by taste — every call site is pinned to its regime
  * by PctlRegimeSpec, so a new call must name its regime there:
  *
  *  - '''buffering `percentile` aggregate''' ([[p]]) — groups provably
  *    GRID-SIZED (calendar²-bounded pair grids, ≤ ~300k rows/group at
  *    ANY corpus size). The TypedImperativeAggregate buffers every
  *    group value, which is fine there and measured 1.3–1.8× faster
  *    than any histogram regime (ops_sen_slope / st_trend_mk).
  *    Censused in PlanAuditSpec.percentileAggAllowed — fact-sized
  *    groups fail the audit.
  *  - '''[[dist]] with `bounded = true`''' — grouped calls whose value
  *    DOMAIN is corpus-size-independent (2-dp cent buckets, 1..50
  *    quantities, length counts): the cumulative counts come from ONE
  *    partitioned window over the per-group histogram, which is
  *    domain-sized, so one sort per group is safe at any corpus size.
  *    Cheapest regime: zero broadcasts, zero pins, one shuffle. Global
  *    calls (no `parts`) are rejected: an unpartitioned window over the
  *    histogram is the single-reducer class the census exists to catch.
  *  - '''[[dist]] (sparse straddle, the default)''' — NEAR-DISTINCT
  *    fact domains (raw doubles, prices in cents at corpus scale):
  *    nothing fact-sized is shuffled, pinned or sorted; three
  *    column-pruned input scans (the INPUT CONTRACT below, enforced at
  *    build time).
  *  - '''[[distHist]]''' — per-value counts ALREADY EXIST as grid
  *    algebra (psi_drift's rest = pooled − own) or the weighting is
  *    semantic ("value occurs w times"): weighted percentiles without
  *    materializing the expansion. Same bounded/sparse choice as
  *    [[dist]], through the same `bounded` flag.
  *
  * ==The histogram regimes==
  *
  * [[dist]] and [[distHist]] compute the SAME answer as [[p]] —
  * bit-equal, so every DuckDB oracle is unchanged — from a value
  * histogram, without the buffer-everything `Percentile` aggregate:
  *
  *   (parts × value) histogram with cnt_lt (rows strictly below) and
  *   eq (rows at the value)  →  keep the ≤ 2·|qs| tie blocks per group
  *   whose 0-based index span [cnt_lt, cnt_lt + eq) covers ⌊q·(n−1)⌋
  *   or ⌈q·(n−1)⌉  →  interpolate with Spark's own
  *   `PercentileBase.getPercentile` expression
  *   `(⌈pos⌉ − pos)·lo + (pos − ⌊pos⌋)·hi` (integral pos → lo) in the
  *   same IEEE double order.
  *
  * Bit-equality argument: `percentile` computes pos = (n−1)·q in
  * double, takes the order statistics at ⌊pos⌋/⌈pos⌉ of the sorted
  * multiset (exactly the histogram rows with cnt_lt ≤ idx <
  * cnt_lt + eq), casts them to double and interpolates — every
  * arithmetic step here is the same op on the same values
  * (PctlDistSpec proves equality on randomized data, ties included).
  *
  * The sparse path never builds the full histogram. It runs on
  * [[DistRank.bucketed]] (per-group [min, max, n] → per-bucket counts
  * → exclusive bucket carry), keeps only the CANDIDATE buckets whose
  * [carry, carry + total) index interval contains a wanted order
  * statistic (≤ 2·|qs|·|groups| of them), and builds the tie histogram
  * and in-bucket prefix on just those buckets' rows. A tie block lives
  * in one bucket (the bucket function is monotone), so a candidate
  * bucket holds the whole straddling block, and carry + in-bucket
  * prefix is that block's exact cnt_lt. Scale shape: three
  * column-pruned scans of the input; the largest shuffle is the
  * bucket-count grid, the largest sort one bucket of one group.
  *
  * Output: one row per group — `parts` plus one round-`scale` double
  * per named fraction. Nulls are skipped and empty groups absent, as
  * under `percentile` with GROUP BY.
  *
  * INPUT CONTRACT (sparse path): the input is scanned THREE times
  * (bounds, bucket counts, candidate restriction) — free on a
  * column-pruned table scan; an input that is a join or other derived
  * relation must go through `graft.plans.Checkpoint.pin(...)` first
  * (the [[StatTests.brownForsythe]] pattern) so the build runs once,
  * and [[requireOneScanInput]] rejects it otherwise. The value
  * expression must also be TOTAL under ANSI (no throwing
  * subexpression reachable on rows a join condition would exclude):
  * the device's not-null pre-filter can be merged into an upstream
  * join residual in any order, so e.g. a division whose divisor a
  * join condition keeps nonzero must still be branch-guarded (the
  * [[StatTests]] senSlope shape).
  */
object Pctl {
  /** Spark side: round-`scale` exact percentile of `e` (a column name
    * or expression string) at fraction `q`.
    */
  def p(e: String, q: Double, scale: Int = 6): Column =
    round(expr(s"percentile($e, $q)"), scale)

  /** DuckDB oracle fragment mirroring [[p]] — interpolate, then round
    * at the same scale.
    */
  def sql(e: String, q: Double, scale: Int = 6): String =
    s"round(quantile_cont($e, $q), $scale)"

  /** DuckDB multi-quantile oracle fragment: every fraction interpolated
    * and rounded at the same scale, as [[sql]] does for one.
    */
  def sqlArray(e: String, qs: Seq[Double], scale: Int = 6): String =
    s"list_transform(quantile_cont($e, [${qs.mkString(",")}]), " +
      s"f -> round(f, $scale))"

  /** Exact percentiles of `v` per `parts` group at the named fractions
    * `qs`; `bounded` picks the regime (see the decision table).
    *
    * `countAs = Some(name)` appends the group size as a BIGINT column —
    * the device already carries it as the rank-position denominator,
    * so callers that would otherwise run a SEPARATE count aggregate
    * over the fact (one more full scan) get it for free. It is the
    * count of NON-NULL `v` rows — the device filters nulls before
    * building the histogram, exactly the population the percentiles
    * are computed over — i.e. SQL `COUNT(v)`, not `COUNT(*)`. Oracles
    * of countAs consumers must write `COUNT(<v>)`. Under [[distHist]]
    * it is the TOTAL WEIGHT of the group (the expanded multiset's row
    * count).
    */
  def dist(rows: DataFrame, parts: Seq[String], v: String,
           qs: Seq[(String, Double)], scale: Int = 6,
           bounded: Boolean = false,
           countAs: Option[String] = None): DataFrame =
    distW(rows.filter(col(v).isNotNull)
        .select((parts.map(col) :+ col(v).as("__v") :+ lit(1L).as("__w")): _*),
      parts, qs, scale, bounded, countAs)

  /** [[dist]] over a PRE-AGGREGATED weighted value histogram: each
    * input row says "value `v` occurs `w` times" (rows with w ≤ 0 or
    * null v are ignored; duplicate (parts, v) rows are summed). Same
    * output, bit-equal to `percentile` over the expanded multiset —
    * for callers whose per-value counts already exist as grid algebra
    * (the [[DataOps.psiDrift]] rest-of-corpus deciles: rest counts =
    * pooled − own, so the 4×-fact rest FAN never needs to be
    * materialized at all).
    */
  def distHist(hist: DataFrame, parts: Seq[String], v: String, w: String,
               qs: Seq[(String, Double)], scale: Int = 6,
               bounded: Boolean = false,
               countAs: Option[String] = None): DataFrame = {
    // a fractional weight would silently truncate under cast(Long)
    // (1.9 → 1), diverging from the multiset contract. Integral weight
    // TYPES are trusted; anything else must carry integral VALUES,
    // asserted per row on the already-required filter pass.
    val integralType = hist.schema(w).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0                => true
      case _                                             => false
    }
    // only rows that would contribute are policed: ignored rows (null
    // v/w, w <= 0, e.g. a -0.5 sentinel) stay ignored, never a failure
    val guarded =
      if (integralType) hist
      else hist.filter(coalesce(assert_true(
        col(v).isNull || col(w).isNull || col(w) <= 0 ||
          col(w) === floor(col(w)),
        lit(s"distHist: weight '$w' must be integral — " +
          "the device's multiset contract is 'value v occurs w times'")),
        lit(true)))
    distW(guarded.filter(col(v).isNotNull && col(w) > 0)
        .select((parts.map(col) :+ col(v).as("__v") :+
          col(w).cast(LongType).as("__w")): _*),
      parts, qs, scale, bounded, countAs)
  }

  /** The sparse path's INPUT CONTRACT at build time: the OPTIMIZED
    * plan (where a pinned input is an InMemoryRelation leaf) holds no
    * join, aggregate, window, generator, sort or shuffle node.
    */
  private def requireOneScanInput(in: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.catalyst.plans.logical._
    // collectWithSubqueries: a scalar/EXISTS subquery inside a filter
    // is exactly as expensive to re-run three times as a top-level
    // join — it must not slip past the census by hiding in an
    // expression
    val offenders = in.queryExecution.optimizedPlan.collectWithSubqueries {
      case p: Join => p.nodeName
      case p: Aggregate => p.nodeName
      case p: logical.Window => p.nodeName
      case p: Generate => p.nodeName
      case p: Sort => p.nodeName
      case p: Expand => p.nodeName
      case p: RepartitionOperation => p.nodeName
    }
    require(offenders.isEmpty,
      "Pctl sparse-path input contract: the device scans its input " +
        s"THREE times, but this input's plan contains ${offenders.distinct.mkString(", ")} — " +
        "wrap the input in graft.plans.Checkpoint.pin(...) (the brownForsythe " +
        "pattern) so the subplan materializes once, or use " +
        "dist(..., bounded = true) if the value domain is corpus-size-independent")
  }

  /** The shared core of [[dist]] and [[distHist]] over `(parts, __v,
    * __w)` rows: each regime yields the tie-block histogram rows
    * `(parts, __v, __eq, __eq_lt, __eq_tot)` that can straddle a wanted
    * order statistic; the straddle filter and interpolation are common.
    */
  private def distW(in: DataFrame, parts: Seq[String],
                    qs: Seq[(String, Double)], scale: Int,
                    bounded: Boolean,
                    countAs: Option[String]): DataFrame = {
    require(qs.nonEmpty)
    val pc = parts.map(col)
    val qlits = array(qs.map { case (nm, q) =>
      struct(lit(nm).as("__qn"), lit(q).as("__q"))
    }: _*)
    val pre =
      if (bounded) {
        require(parts.nonEmpty, "the bounded regime is for grouped calls " +
          "(an unpartitioned window would sort the whole histogram on one " +
          "reducer); use the sparse default for global quantiles")
        val hist0 = in
          .groupBy((pc :+ col("__v")): _*)
          .agg(sum(col("__w")).as("__eq"))
        val wCum = Window.partitionBy(pc: _*).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy(pc: _*)
        hist0
          .withColumn("__eq_lt",
            coalesce(sum(col("__eq")).over(wCum), lit(0L)))
          .withColumn("__eq_tot", sum(col("__eq")).over(wTot))
      } else {
        requireOneScanInput(in)
        val (rows, carry) = DistRank.bucketed(in, parts, "__v", Seq("w" -> col("__w")))
        // candidate buckets: those whose [carry, carry + total) index
        // interval holds a wanted order statistic (inline literal
        // explode, no join)
        val candB = carry
          .select((pc :+ col("__b") :+ col("__carry_w").as("__blt") :+
            col("__tot_w").as("__bt") :+ col("__gtot_w").as("__n") :+
            explode(qlits).as("__f")): _*)
          .withColumn("__kpos",
            (col("__n") - 1L).cast(DoubleType) * col("__f.__q"))
          .filter(
            inSpan(floor(col("__kpos")).cast(LongType), col("__blt"), col("__bt")) ||
              inSpan(ceil(col("__kpos")).cast(LongType), col("__blt"), col("__bt")))
          .groupBy((pc :+ col("__b")): _*)
          .agg(min(col("__blt")).as("__blt"), min(col("__n")).as("__n"))
        // candB is ≤ 2·|qs|·|groups| rows by construction, but its plan
        // (windows/explode/aggregates) carries no row-count stats Spark
        // trusts at planning time — without the hint this join can plan
        // sort-merge and shuffle+sort the fact-sized probe side. AQE's
        // conversion would come only AFTER the probe-side shuffle
        // write; the hint keeps it broadcast from the first plan.
        rows.select((pc :+ col("__v") :+ col("__w") :+ col("__b")): _*)
          .join(broadcast(candB), parts :+ "__b")
          .groupBy((pc :+ col("__b") :+ col("__blt") :+ col("__n") :+
            col("__v")): _*)
          .agg(sum(col("__w")).as("__eq"))
          .withColumn("__eq_lt",
            col("__blt") + DistRank.inBucketLt(parts, "__v", "__eq"))
          .withColumn("__eq_tot", col("__n"))
      }
    // inline straddle: explode the fraction literals onto the
    // histogram (projection only), keep the rows whose 0-based sorted
    // index span [cnt_lt, cnt_lt + eq) covers ⌊q·(n−1)⌋ or ⌈q·(n−1)⌉
    val cand = pre
      .select((pc :+ col("__v") :+ col("__eq") :+ col("__eq_lt") :+
        col("__eq_tot") :+ explode(qlits).as("__f")): _*)
      .withColumn("__pos",
        (col("__eq_tot") - 1L).cast(DoubleType) * col("__f.__q"))
      .withColumn("__lo", floor(col("__pos")).cast(LongType))
      .withColumn("__hi", ceil(col("__pos")).cast(LongType))
      .withColumn("__isLo", inSpan(col("__lo"), col("__eq_lt"), col("__eq")))
      .withColumn("__isHi", inSpan(col("__hi"), col("__eq_lt"), col("__eq")))
      .filter(col("__isLo") || col("__isHi"))
    val interpolated = cand
      .groupBy((pc :+ col("__f.__qn").as("__qn") :+ col("__pos")): _*)
      .agg(min(when(col("__isLo"), col("__v"))).as("__vlo"),
        min(when(col("__isHi"), col("__v"))).as("__vhi"),
        min(col("__eq_tot")).as("__n"))
      // PercentileBase.getPercentile's own double expression ORDER
      // (Spark 4.1.2): integral position returns the lower key
      // directly; otherwise
      //   (higher − position)·lower + (position − lower)·higher
      // with lower = ⌊pos⌋, higher = ⌈pos⌉. The lerp form
      // lo + (hi−lo)·frac can differ from this by an ulp before the
      // round, so the device mirrors Spark's order exactly — the
      // PctlDistSpec bit-equality claim holds by construction, not by
      // luck. DuckDB quantile_cont lerps; round-`scale` keeps that
      // cross-engine ulp out of every oracle compare (repo float
      // policy, [[LlmCuration.dsirWeights]]).
      .withColumn("__val", round(
        when(ceil(col("__pos")) === floor(col("__pos")),
          col("__vlo").cast(DoubleType))
          .otherwise(
            (ceil(col("__pos")).cast(DoubleType) - col("__pos")) *
              col("__vlo").cast(DoubleType) +
              (col("__pos") - floor(col("__pos")).cast(DoubleType)) *
                col("__vhi").cast(DoubleType)), scale))
    val aggCols = qs.map { case (nm, _) =>
      min(when(col("__qn") === nm, col("__val"))).as(nm) } ++
      countAs.map(nm => min(col("__n")).as(nm))
    interpolated.groupBy(pc: _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** 0-based index `k` falls in the span [lo, lo + n). */
  private def inSpan(k: Column, lo: Column, n: Column): Column =
    k >= lo && k < lo + n
}
