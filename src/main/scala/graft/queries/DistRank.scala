package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The shared distributed-rank device: exact ranks, midranks,
  * cumulative counts and the order-statistic positions of
  * [[Pctl.dist]]'s sparse path, WITHOUT a global ordered window (a
  * `rank()/row_number() OVER (ORDER BY v)` on a fact-sized relation
  * plans as a single-partition WindowExec: one reducer sorts
  * everything). All of them are built on ONE skeleton, [[bucketed]],
  * the only code that knows the bucket function and the carry.
  *
  * The decomposition generalizes [[StreamingGates.concurrency]]'s
  * per-day sums + day-level carry: rows get a BUCKET by a monotone
  * function of the sort key, per-bucket ordered windows compute local
  * prefixes in parallel, and a carry over the tiny (groups × ≤ buckets)
  * totals relation stitches the global number back together. Every
  * quantity is an exact integer count, so the result is BIT-IDENTICAL
  * to the window form (DistRankSpec, on randomized data).
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
  * carry window runs over ≤ |groups|·B rows.
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

  /** Monotone bucket id for `v` given the group's exact [lo, hi]. */
  private def bucketOf(v: Column, lo: Column, hi: Column, dt: DataType): Column =
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

  /** The skeleton. For each named sum `c -> e` over `df`: one
    * aggregate per group computes [min v, max v] and the group's Σ e,
    * broadcast back to tag every row with `__b = bucketOf(v)`; one
    * aggregate per (parts, __b) computes the bucket's Σ e, and one
    * window over that small relation its exclusive carry.
    *
    * Returns `(rows, carry)`: `rows` is `df` plus `__b`; `carry` has one
    * row per (parts, __b) with `__tot_c` (the bucket's Σ e),
    * `__carry_c` (Σ e over the group's earlier buckets) and `__gtot_c`
    * (the group's Σ e). A consumer adds its own window over
    * [[inBucket]] and joins what it reads of `carry` back on
    * (parts, __b); the optimizer prunes every aggregate it does not
    * read.
    */
  private[queries] def bucketed(df: DataFrame, parts: Seq[String], v: String,
                                sums: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val pc = parts.map(col)
    val bounds = df.groupBy(pc: _*)
      .agg(min(col(v)).as("__lo"), (max(col(v)).as("__hi") +:
        sums.map { case (c, e) => sum(e).as(s"__gtot_$c") }): _*)
    // group bounds are a |groups|-row (or 1-row) aggregate — the
    // broadcast-1-row folding device
    val rows =
      (if (parts.isEmpty) df.crossJoin(broadcast(bounds))
       else df.join(broadcast(bounds), parts))
        .withColumn("__b", bucketOf(col(v), col("__lo"), col("__hi"), df.schema(v).dataType))
        .drop("__lo", "__hi")
    val totAggs = sums.flatMap { case (c, e) =>
      Seq(sum(e).as(s"__tot_$c"), min(col(s"__gtot_$c")).as(s"__gtot_$c")) }
    val totals = rows.groupBy((pc :+ col("__b")): _*).agg(totAggs.head, totAggs.tail: _*)
    // with no parts a constant partition key keeps the carry window
    // single-partition over ≤ Buckets rows, outside the fact-sized-
    // window class
    val carryParts = if (parts.isEmpty) Seq(lit(0)) else pc
    val wCarry = Window.partitionBy(carryParts: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = sums.foldLeft(totals) { case (d, (c, _)) =>
      d.withColumn(s"__carry_$c", coalesce(sum(col(s"__tot_$c")).over(wCarry), lit(0L))) }
    (rows.drop(sums.map { case (c, _) => s"__gtot_$c" }: _*), carry)
  }

  /** The window over one bucket of one group: no task sorts more. */
  private[queries] def inBucket(parts: Seq[String]): WindowSpec =
    Window.partitionBy((parts.map(col) :+ col("__b")): _*)

  /** Σ `c` over the same bucket's rows with STRICTLY SMALLER `v`. */
  private[queries] def inBucketLt(parts: Seq[String], v: String, c: String): Column =
    coalesce(sum(col(c)).over(inBucket(parts).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** For each row of `df` — REQUIRED distinct on (parts, v), i.e. a
    * value histogram — appends, for every listed Long column c, a
    * column `<c>_lt` = Σ c over rows of the same `parts` group with
    * STRICTLY SMALLER `v`: the exclusive prefix sum ordered by v, on
    * the [[bucketed]] skeleton.
    *
    * From `<c>_lt` of a count column the whole rank algebra follows
    * exactly: rank_min = cnt_lt + 1, and the doubled midrank
    * 2·rank_avg = 2·rank_min + ties − 1 = 2·cnt_lt + cnt_eq + 1
    * (the [[StatOps.spearman]] integer carry).
    *
    * The input feeds three subplans (bounds, local windows, bucket
    * totals), so it is pinned (distinct-value-sized) unless
    * `persist = false`: for inputs already pinned or cheap to rebuild.
    */
  def prefixLt(df0: DataFrame, parts: Seq[String], v: String,
               sumCols: Seq[String], persist: Boolean = true): DataFrame = {
    val df = if (persist) graft.plans.Checkpoint.pin(df0) else df0
    val (rows, carry) = bucketed(df, parts, v, sumCols.map(c => c -> col(c)))
    val local = sumCols.foldLeft(rows)((d, c) =>
      d.withColumn(s"__loc_$c", inBucketLt(parts, v, c)))
    val joined = local.join(
      broadcast(carry.select(((parts :+ "__b") ++ sumCols.map(c => s"__carry_$c")).map(col): _*)),
      parts :+ "__b")
    sumCols.foldLeft(joined)((d, c) =>
        d.withColumn(s"${c}_lt", col(s"__loc_$c") + col(s"__carry_$c")))
      .drop("__b" +: sumCols.flatMap(c => Seq(s"__loc_$c", s"__carry_$c")): _*)
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
    * tieBreaks...)` as column `out`, on the [[bucketed]] skeleton with a
    * unit weight: the per-bucket window numbers (v, tieBreaks), the
    * carry adds the count of rows in earlier buckets. For DESC ordering
    * the key is negated (exact for the integral keys this device
    * serves), so the bucket function stays "ascending on the effective
    * key". The input is pinned for the same three-subplan reuse as
    * [[prefixLt]].
    */
  def rowNumber(df: DataFrame, parts: Seq[String], v: String, desc: Boolean,
                tieBreaks: Seq[String], out: String): DataFrame = {
    val eff = if (desc) "__negv" else v
    val base = graft.plans.Checkpoint.pin(
      if (desc) df.withColumn("__negv", -col(v)) else df)
    val (rows, carry) = bucketed(base, parts, eff, Seq("n" -> lit(1L)))
    rows.withColumn("__lr",
        row_number().over(inBucket(parts).orderBy(col(eff) +: tieBreaks.map(col): _*)))
      .join(broadcast(carry.select((parts :+ "__b" :+ "__carry_n").map(col): _*)),
        parts :+ "__b")
      .withColumn(out, col("__carry_n") + col("__lr"))
      .drop("__b", "__lr", "__carry_n", "__negv")
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
