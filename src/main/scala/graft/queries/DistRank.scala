package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared distributed-rank device: exact ranks,
  * midranks and cumulative counts WITHOUT a global ordered window.
  *
  * A `rank()/row_number() OVER (ORDER BY v)` on a fact-sized relation
  * plans as a single-partition WindowExec — one reducer sorts
  * everything, the scale-killer class behind WindowExec spill
  * warnings. This device is the
  * two-level prefix-sum decomposition [[StreamingGates.concurrency]]
  * already ships (per-day partitioned sums + day-level carry),
  * generalized: rows are assigned a BUCKET by a monotone function of
  * the sort key, per-bucket ordered windows compute local prefixes in
  * parallel, and a carry over the tiny (groups × ≤buckets) totals
  * relation stitches the global number back together. Every quantity
  * is an exact integer count, so the result is BIT-IDENTICAL to the
  * window form (DistRankSpec proves it on randomized data; the DuckDB
  * oracles of every migrated gate are unchanged).
  *
  * Monotonicity of the bucket function is the whole correctness
  * argument: equal keys land in one bucket and smaller keys never land
  * in a later bucket, so
  *   global_prefix(v) = carry(bucket(v)) + local_prefix(v).
  *  - integral keys: floor-division by an exact width derived from the
  *    group's [min, max] (exact integer arithmetic);
  *  - double keys: floor((v − lo) / (hi − lo) · B) clamped to B−1 —
  *    subtraction, division and multiplication by nonnegative values
  *    are monotone under IEEE round-to-nearest, and floor/least
  *    preserve monotonicity, so order can never invert across buckets.
  *
  * Scale shape: one exact min/max aggregate per group (map-combined),
  * broadcast back; per-bucket sorts touch |distinct|/B rows each; the
  * carry window runs over ≤ |groups|·B rows. At 100 TB nothing sorts
  * more than one bucket per task, and B is a knob.
  */
object DistRank {

  /** Number of range buckets. 1024 keeps the carry relation trivially
    * broadcastable (groups × 1024 rows) while dividing the largest
    * per-task sort by three orders of magnitude.
    */
  val Buckets = 1024

  /** Frees the calling thread's held intermediates. Kept for callers
    * that predate [[graft.plans.Checkpoint.release]], which owns the
    * lifecycle.
    */
  def release(): Unit = graft.plans.Checkpoint.release()

  /** Exact floor-division of nonnegative Longs: (a − a mod d) divides
    * exactly, and exact-integer double division is correctly rounded to
    * the exact integer quotient (the [[StatTests]] `r6posRat` device).
    * Exact for a < 2^53 — every key domain on this surface (cents,
    * micro-units, counts) is orders of magnitude below that.
    */
  private def idiv(a: Column, d: Column): Column =
    ((a - pmod(a, d)).cast(DoubleType) / d.cast(DoubleType)).cast(LongType)

  /** Monotone bucket id for `v` given the group's exact [lo, hi].
    * `private[queries]`: [[Pctl.dist]]'s sparse straddle device uses
    * the same bucket function so its bucket-level cumulative agrees
    * with this device's decomposition.
    */
  private[queries] def bucketOf(v: Column, lo: Column, hi: Column, dt: DataType): Column =
    dt match {
      case DoubleType | FloatType =>
        when(hi <= lo, lit(0L)).otherwise(
          least(lit(Buckets - 1L),
            floor((v.cast(DoubleType) - lo) / (hi - lo) * lit(Buckets.toDouble))
              .cast(LongType)))
      case _ =>
        // exact integer floor-division; width >= 1 so the id is total
        val width = greatest(lit(1L),
          idiv(hi.cast(LongType) - lo.cast(LongType), lit(Buckets.toLong)) + 1L)
        idiv(v.cast(LongType) - lo.cast(LongType), width)
    }

  /** For each row of `df` — REQUIRED distinct on (parts, v), i.e. a
    * value histogram — appends, for every listed Long column c, a
    * column `<c>_lt` = Σ c over rows of the same `parts` group with
    * STRICTLY SMALLER `v`. This is the exclusive prefix sum ordered by
    * v, computed with the bucketed two-level decomposition: no task
    * ever sorts more than one bucket.
    *
    * From `<c>_lt` of a count column the whole rank algebra follows
    * exactly: rank_min = cnt_lt + 1, and the doubled midrank
    * 2·rank_avg = 2·rank_min + ties − 1 = 2·cnt_lt + cnt_eq + 1
    * (the [[StatOps.spearman]] integer carry).
    */
  /** With `groupTotals = true`, additionally appends `<c>_tot` — the
    * per-group total of each sum column — computed inside the SAME
    * bounds aggregate and delivered by the SAME broadcast join, so
    * callers needing the group size (the [[Pctl.dist]] rank-position
    * arithmetic) pay zero extra jobs for it.
    */
  def prefixLt(df0: DataFrame, parts: Seq[String], v: String,
               sumCols: Seq[String], persist: Boolean = true,
               groupTotals: Boolean = false): DataFrame = {
    // the input histogram feeds three subplans (bounds, local windows,
    // bucket totals); persisting it keeps the device at ONE pass over
    // whatever fact relation produced it. Distinct-value-sized — the
    // cheapest relation in the query.
    // persist=false is for callers whose input is ALREADY cached (or
    // aggregate-cheap to recompute): the three subplans then re-read
    // the caller's cache instead of materializing a second copy.
    val df = if (persist) graft.plans.Checkpoint.pin(df0) else df0
    val pc = parts.map(col)
    val vType = df.schema(v).dataType
    val totAggs = if (groupTotals) sumCols.map(c => sum(col(c)).as(s"${c}_tot"))
                  else Nil
    val bounds = (if (parts.isEmpty) df.groupBy() else df.groupBy(pc: _*))
      .agg(min(col(v)).as("__lo"),
        (max(col(v)).as("__hi") +: totAggs): _*)
    // group bounds are a |groups|-row (or 1-row) aggregate — the
    // broadcast-1-row folding device
    val withB =
      (if (parts.isEmpty) df.crossJoin(broadcast(bounds))
       else df.join(broadcast(bounds), parts))
        .withColumn("__b", bucketOf(col(v), col("__lo"), col("__hi"), vType))
        .drop("__lo", "__hi")
    // level 1: per-bucket exclusive prefix — parallel ordered windows
    val wLoc = Window.partitionBy((pc :+ col("__b")): _*).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sumCols.foldLeft(withB)((d, c) =>
      d.withColumn(s"__loc_$c", coalesce(sum(col(c)).over(wLoc), lit(0L))))
    // level 2: bucket totals + carry over the tiny totals relation
    val totals = withB.groupBy((pc :+ col("__b")): _*)
      .agg(sum(col(sumCols.head)).as(s"__tot_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(c)).as(s"__tot_$c")): _*)
    // the carry window runs over the tiny totals relation; with no
    // parts a constant partition key keeps the plan single-partition
    // (≤ Buckets rows) WITHOUT the fact-sized-window warning class
    val carryParts = if (parts.isEmpty) Seq(lit(0)) else pc
    val wCarry = Window.partitionBy(carryParts: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = sumCols.foldLeft(totals)((d, c) =>
        d.withColumn(s"__carry_$c", coalesce(sum(col(s"__tot_$c")).over(wCarry), lit(0L))))
      .select((pc :+ col("__b")) ++ sumCols.map(c => col(s"__carry_$c")): _*)
    val joined = local.join(broadcast(carry), parts :+ "__b")
    val out = sumCols.foldLeft(joined)((d, c) =>
      d.withColumn(s"${c}_lt", col(s"__loc_$c") + col(s"__carry_$c")))
    out.drop("__b" +: sumCols.flatMap(c => Seq(s"__loc_$c", s"__carry_$c")): _*)
  }

  /** Value histogram of `rows` with the doubled-midrank carry: one row
    * per distinct (parts, v) carrying `eq` (count at v), any extra
    * per-value split sums, `eq_lt` (count strictly below), and
    * `r2` = 2·rank_min + ties − 1 — the exact integer that every
    * rank-statistic gate (spearman/mannwhitney/cliffs/kruskal/dunn/
    * auc) aggregates. Replaces the
    * `rank().over(orderBy(v))` + `count().over(partitionBy(v))` pair
    * with one map-combined hash aggregate + [[prefixLt]].
    */
  def midrank2(rows: DataFrame, parts: Seq[String], v: String,
               splits: Seq[(String, Column)] = Nil,
               persist: Boolean = true): DataFrame = {
    val gcols = parts.map(col) :+ col(v)
    val hist = rows.groupBy(gcols: _*)
      .agg(count(lit(1)).as("eq"),
        splits.map { case (n, c) => c.as(n) }: _*)
    prefixLt(hist, parts, v, Seq("eq"), persist)
      .withColumn("r2", lit(2L) * col("eq_lt") + col("eq") + lit(1L))
  }

  /** Exact `row_number() OVER (PARTITION BY parts ORDER BY v [DESC],
    * tieBreaks...)` as column `out`, bucketed on v: the per-bucket
    * window sorts (v, tieBreaks), the carry adds the count of rows in
    * earlier buckets. For DESC ordering the key is negated (exact for
    * the integral keys this device serves), so the bucket function
    * stays "ascending on the effective key".
    */
  def rowNumber(df: DataFrame, parts: Seq[String], v: String, desc: Boolean,
                tieBreaks: Seq[String], out: String): DataFrame = {
    val eff = if (desc) "__negv" else v
    // persisted for the same three-subplan reuse as [[prefixLt]]
    val base0 = graft.plans.Checkpoint.pin(
      if (desc) df.withColumn("__negv", -col(v)) else df)
    val pc = parts.map(col)
    val vType = base0.schema(eff).dataType
    val bounds = (if (parts.isEmpty) base0.groupBy() else base0.groupBy(pc: _*))
      .agg(min(col(eff)).as("__lo"), max(col(eff)).as("__hi"))
    val withB =
      (if (parts.isEmpty) base0.crossJoin(broadcast(bounds))
       else base0.join(broadcast(bounds), parts))
        .withColumn("__b", bucketOf(col(eff), col("__lo"), col("__hi"), vType))
        .drop("__lo", "__hi")
    val wLoc = Window.partitionBy((pc :+ col("__b")): _*)
      .orderBy(col(eff) +: tieBreaks.map(col): _*)
    val local = withB.withColumn("__lr", row_number().over(wLoc))
    val totals = withB.groupBy((pc :+ col("__b")): _*)
      .agg(count(lit(1)).as("__c"))
    val carryParts = if (parts.isEmpty) Seq(lit(0)) else pc
    val wCarry = Window.partitionBy(carryParts: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = totals
      .withColumn("__carry", coalesce(sum(col("__c")).over(wCarry), lit(0L)))
      .select((pc :+ col("__b")) :+ col("__carry"): _*)
    local.join(broadcast(carry), parts :+ "__b")
      .withColumn(out, col("__carry") + col("__lr"))
      .drop("__b", "__lr", "__carry", "__negv")
  }

  /** SQL-standard `ntile(k)` from a 1-based row_number `rn` and the
    * partition size `n`: the first n mod k tiles get ⌈n/k⌉ rows.
    * Pure integer arithmetic — bit-equal to the window function on
    * both engines. The `q = 0` degenerate branch (n < k) never
    * divides: every row satisfies rn ≤ r·(q+1).
    */
  def ntileOf(rn: Column, n: Column, k: Int): Column = {
    val q = idiv(n, lit(k.toLong))
    val r = pmod(n, lit(k.toLong))
    when(rn <= r * (q + 1L), idiv(rn - 1L, q + 1L) + 1L)
      .otherwise(r + idiv(rn - r * (q + 1L) - 1L, q) + 1L)
  }

  /** The per-tile boundary relation for `ntile(k)` over a partition of
    * size `n` (column on `sizes`, one row per group): k rows per group
    * with the 1-based rank interval [tile_lo, tile_hi] each tile
    * covers. Joined by interval overlap against [[prefixLt]] tie
    * blocks, this computes tile aggregates of any measure CONSTANT
    * within a tie block without materializing per-row tiles.
    */
  def tileBounds(sizes: DataFrame, n: String, k: Int): DataFrame = {
    val tiles = sizes.select(col("*"),
      explode(sequence(lit(1L), lit(k.toLong))).as("tile"))
    val q = idiv(col(n), lit(k.toLong))
    val r = pmod(col(n), lit(k.toLong))
    tiles
      .withColumn("tile_lo",
        (col("tile") - 1L) * q + least(col("tile") - 1L, r) + 1L)
      .withColumn("tile_hi", col("tile") * q + least(col("tile"), r))
  }
}
