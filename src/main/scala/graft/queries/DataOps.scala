package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pipeline-operations surface: the profiling and data-quality checks
  * a production warehouse runs around the analytical queries — an
  * ANALYZE-style one-pass column profiler and a dbt-style
  * data-quality violations report. Both are ordinary oracle-gated
  * relational queries, built to the same scale discipline as the rest
  * of the engine.
  */
object DataOps {

  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Numeric column profile of `lineitem`: row count, null count,
    * exact distinct count, min and max per column — ONE scan: all
    * metrics aggregate together (the multi-column exact NDV compiles
    * to Catalyst's expand, a single pass with a 4-way row expansion,
    * not four scans), then the single wide row unpivots via a
    * generated struct array. At 100 TB swap the exact NDVs for
    * approx_count_distinct — same plan minus the expand.
    */
  def profileNumeric(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(lit(1)).as(s"n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        min(col(c)).cast(DoubleType).as(s"min_$c"),
        max(col(c)).cast(DoubleType).as(s"max_$c"))
    }
    li.agg(aggs.head, aggs.drop(1): _*)
      .select(explode(array(ProfileCols.map(c =>
        struct(lit(c).as("column"), col(s"n_$c").as("n_rows"),
          col(s"nulls_$c").as("n_nulls"), col(s"ndv_$c").as("n_distinct"),
          col(s"min_$c").as("min_value"), col(s"max_$c").as("max_value"))): _*))
        .as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }

  // DuckDB types a bare SUM(CASE …) as HUGEINT (int128); the Spark side
  // emits BIGINT, so the driver's typed hash needs the explicit cast.
  val profileNumericOracle: String = ProfileCols.map { c =>
    s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
       | CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       | COUNT(DISTINCT $c) AS n_distinct,
       | CAST(MIN($c) AS DOUBLE) AS min_value,
       | CAST(MAX($c) AS DOUBLE) AS max_value
       |FROM lineitem""".stripMargin
  }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")

  /** Data-quality violations report — the dbt-test shapes over the
    * warehouse relations, each check one aggregate, unioned into
    * (check, n_violations). Mixed by construction: referential and
    * uniqueness checks pass (0), the childless-orders and
    * duplicate-prefix checks flag real rows, so a green gate proves
    * the checks FIND violations, not just that the data is clean.
    *
    * Scale shape: pk-unique is one hash agg; the fk and childless
    * checks are anti joins on the order key; dup-prefix is the exact
    * dedup digest agg. Nothing scans twice.
    */
  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.t(s, dir, "orders")
    val li = Tables.t(s, dir, "lineitem")
    val docs = Tables.t(s, dir, "documents")
    def check(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check"), col("n_violations"))
    val pkDups = orders.groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
    val fkOrphans = li.join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
    val childless = orders.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
    val badStatus = orders.filter(!col("o_orderstatus").isin("P", "O", "F"))
    val dupPrefix = docs
      .select(lower(trim(array_join(slice(split(col("text"), " "), 1, 5), " "))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c")).filter(col("c") > 1)
    check("orders_pk_unique", pkDups)
      .unionByName(check("lineitem_fk_orders", fkOrphans))
      .unionByName(check("orders_childless", childless))
      .unionByName(check("orderstatus_domain", badStatus))
      .unionByName(check("docs_dup_prefix", dupPrefix))
      .orderBy(col("check"))
  }

  val dqChecksOracle: String =
    """SELECT * FROM (
      |SELECT 'orders_pk_unique' AS "check", COUNT(*) AS n_violations FROM (
      |  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT 'lineitem_fk_orders', COUNT(*) FROM lineitem
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'orders_childless', COUNT(*) FROM orders
      |  WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |UNION ALL
      |SELECT 'orderstatus_domain', COUNT(*) FROM orders
      |  WHERE o_orderstatus NOT IN ('P', 'O', 'F')
      |UNION ALL
      |SELECT 'docs_dup_prefix', COUNT(*) FROM (
      |  SELECT lower(trim(array_to_string(string_split(text, ' ')[1:5], ' '))) AS p
      |  FROM documents GROUP BY p HAVING COUNT(*) > 1)
      |) ORDER BY "check"""".stripMargin

  /** Robust outlier report per group: median/MAD bounds (the
    * median-absolute-deviation fence, robust where mean/stddev fences
    * are dragged by the outliers themselves) over events.value per
    * event type — bounds, outlier count, and share. Both statistics
    * round(,6) BEFORE the fence comparison so interpolation ulps
    * cannot flip boundary rows between engines.
    *
    * Scale shape (r18 — VERDICT r17 #1): ONE map-combined fact pass
    * to the (type, 2-dp value) histogram, pinned; the
    * median, the MAD (median of |v − med| over the |·|-folded
    * histogram, weights summed on the fold — [[Pctl.distHist]]'s
    * duplicate-row contract) and the fence count are all grid algebra
    * over it. The r16/r17 form paid three fact scans (med histogram,
    * MAD histogram after a broadcast med join, fence count); at any
    * corpus size this form pays one, and no task ever buffers a
    * group: the exact `percentile` aggregate would materialize every
    * fact value of a type in one aggregation buffer (VERDICT r15 #2).
    */
  def outlierBounds(s: SparkSession, dir: String): DataFrame = {
    // events.value is the testdata's one genuinely heavy-tailed column
    // (~11% beyond the 3-MAD fence) — a flat column would make this a
    // checks-pass-on-anything gate, which the house rules forbid
    val li = Tables.t(s, dir, "events")
      .select(col("event_type").as("grp"), col("value").as("v"))
    // events.value is a 2-dp domain: distinct values are corpus-size-
    // independent (the bounded-regime envelope), so the histogram is the
    // cheapest relation in the query — pinned: it feeds the median
    // device, the MAD fold and the fence count
    val hist = graft.plans.Checkpoint.pin(
      li.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c")))
    val med = Pctl.distHist(hist, Seq("grp"), "v", "c",
      Seq("med" -> 0.5), bounded = true)
    val mad = Pctl.distHist(
      hist.join(broadcast(med), "grp")
        .withColumn("d", abs(col("v") - col("med"))),
      Seq("grp", "med"), "d", "c", Seq("mad" -> 0.5), bounded = true)
    val lo = round(col("med") - lit(3) * col("mad"), 6)
    val hi = round(col("med") + lit(3) * col("mad"), 6)
    hist.join(broadcast(mad), "grp")
      .groupBy(col("grp"), col("med"), col("mad"))
      .agg(sum(col("c")).as("n_rows"),
        sum(when(col("v") < lo || col("v") > hi, col("c")).otherwise(0L)).as("n_outliers"))
      .select(col("grp"), col("med"), col("mad"),
        round(col("med") - lit(3) * col("mad"), 6).as("lo"),
        round(col("med") + lit(3) * col("mad"), 6).as("hi"),
        col("n_rows"), col("n_outliers"),
        round(col("n_outliers").cast(DoubleType) / col("n_rows"), 6).as("outlier_share"))
      .orderBy(col("grp"))
  }

  val outlierBoundsOracle: String =
    s"""WITH li AS (SELECT event_type AS grp, "value" AS v FROM events),
      |med AS (SELECT grp, ${Pctl.sql("v", 0.5)} AS med FROM li GROUP BY 1),
      |mad AS (SELECT li.grp, med.med,
      |    ${Pctl.sql("abs(li.v - med.med)", 0.5)} AS mad
      |  FROM li JOIN med ON li.grp = med.grp GROUP BY 1, 2)
      |SELECT li.grp, mad.med, mad.mad,
      |  round(mad.med - 3 * mad.mad, 6) AS lo,
      |  round(mad.med + 3 * mad.mad, 6) AS hi,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN li.v < round(mad.med - 3 * mad.mad, 6)
      |         OR li.v > round(mad.med + 3 * mad.mad, 6) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  round(CAST(SUM(CASE WHEN li.v < round(mad.med - 3 * mad.mad, 6)
      |         OR li.v > round(mad.med + 3 * mad.mad, 6) THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS outlier_share
      |FROM li JOIN mad ON li.grp = mad.grp
      |GROUP BY 1, 2, 3 ORDER BY li.grp""".stripMargin

  /** Equi-width histogram of `l_extendedprice` per return flag — the
    * distribution readout the one-row-per-column profiler
    * ([[profileNumeric]]) can't give. Bucketing is EXACT integer
    * arithmetic: prices are 2-decimal, so bucket = cents ÷ width_cents
    * in BIGINT — no floating boundary for engines to disagree on
    * (DuckDB lacks width_bucket; both engines share integer division).
    *
    * Scale shape: one scan, one (flag, bucket) hash aggregate with
    * map-side combine into ≤ flags × buckets cells — the wire carries
    * the histogram, never the rows.
    */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    val widthCents = 11000L * 100L // 10 buckets over [0, 110000.00)
    val cents = round(col("l_extendedprice") * 100).cast(LongType)
    Tables.t(s, dir, "lineitem")
      // integer `div`, not `/`: Column division evaluates in DOUBLE and
      // truncates back, which only coincides with the oracle's `//`
      // while cents stays under 2^53 — `div` IS the documented BIGINT
      // arithmetic at any magnitude
      .select(col("l_returnflag"),
        cents.as("cents"), col("l_extendedprice"))
      .select(col("l_returnflag"),
        expr(s"cents div $widthCents").as("bucket"), col("l_extendedprice"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_price"))
      .select(col("l_returnflag"), col("bucket"),
        (col("bucket") * lit(11000L)).cast(DoubleType).as("bucket_lo"),
        col("n_rows"), col("sum_price"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  val histogramOracle: String =
    """SELECT l_returnflag,
      |  CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 1100000 AS bucket,
      |  CAST((CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 1100000) * 11000
      |    AS DOUBLE) AS bucket_lo,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY 1, 2 ORDER BY l_returnflag, bucket""".stripMargin

  /** Blocked fuzzy record linkage over part names — the
    * entity-resolution primitive (candidate generation by BLOCKING,
    * verification by edit distance) that a pipeline needs wherever the
    * same real-world entity arrives under near-identical spellings.
    * Block key = the name's noun (second token: a stable attribute);
    * within a block, distinct name pairs whose adjectives sit within
    * levenshtein 2 are emitted with their distance.
    *
    * Scale shape: the quadratic is confined to blocks — the join key
    * is the noun, so candidate pairs are |block|² per noun instead of
    * n² over the catalog, and `a < b` halves them. Distinct-names
    * first: the pair space is over the VOCABULARY of names (catalog-
    * sized), never over row counts. Skewed blocks (one noun dominating
    * the catalog) fall under AQE's skew-join splitting like any other
    * key.
    */
  def fuzzyLink(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.t(s, dir, "part")
      .select(col("p_name")).distinct()
      // try_element_at: a single-token name has no noun — it must drop
      // out of the blocking join (null key), not crash the query under
      // ANSI mode; matches the oracle's NULL-returning list index
      .select(col("p_name"),
        try_element_at(split(col("p_name"), " "), lit(1)).as("adj"),
        try_element_at(split(col("p_name"), " "), lit(2)).as("noun"))
    val a = names.select(col("p_name").as("name_a"), col("adj").as("adj_a"),
      col("noun").as("block"))
    val b = names.select(col("p_name").as("name_b"), col("adj").as("adj_b"),
      col("noun").as("block"))
    a.join(b, "block")
      .filter(col("name_a") < col("name_b"))
      .select(col("block"), col("name_a"), col("name_b"),
        levenshtein(col("adj_a"), col("adj_b")).cast(LongType).as("dist"))
      .filter(col("dist") <= 2)
      .orderBy(col("block"), col("name_a"), col("name_b"))
  }

  val fuzzyLinkOracle: String =
    """WITH names AS (
      |  SELECT DISTINCT p_name,
      |    string_split(p_name, ' ')[1] AS adj,
      |    string_split(p_name, ' ')[2] AS noun
      |  FROM part)
      |SELECT a.noun AS block, a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.adj, b.adj) AS BIGINT) AS dist
      |FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
      |WHERE levenshtein(a.adj, b.adj) <= 2
      |ORDER BY block, name_a, name_b""".stripMargin

  /** RFM customer segmentation — recency / frequency / monetary
    * scoring over purchase events, the standard marketing segmentation.
    * Scores use FIXED business thresholds, not data quantiles: the
    * quantile variant needs a global ntile sort over all users, while
    * thresholds keep the whole query one hash aggregate per user — the
    * scale-honest form (threshold calibration is an offline step over
    * the profiler's output, not a per-query global sort). Recency is
    * exact integer days ((anchor − last) // 86400s in epoch micros —
    * no calendar-day engine divergence), the monetary sum is
    * DECIMAL-exact, and the anchor is the corpus max timestamp,
    * folded into the plan as a broadcast 1-row aggregate.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.t(s, dir, "events")
    // corpus-max anchor folded in as a broadcast 1-row relation
    // (VERDICT r13 #5) — one lazy plan, no extra driver job
    val anchor = events.agg(max(unix_micros(col("ts"))).as("anchor_us"))
    def score(c: org.apache.spark.sql.Column, hi: Long, mid: Long) =
      when(c >= hi, 3).when(c >= mid, 2).otherwise(1)
    val rScore = score(lit(30L) - col("recency_days"), 23L, 16L) // ≤7d → 3, ≤14d → 2
    val fScore = score(col("frequency"), 20L, 10L)
    val mScore = score(col("monetary"), 800L, 400L)
    events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("monetary"))
      .crossJoin(broadcast(anchor))
      // integer `div`, not `/`: double division rounded then truncated
      // can cross an integer boundary the oracle's floor `//` doesn't
      .withColumn("recency_days",
        expr("(anchor_us - last_us) div 86400000000"))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        concat(lit("R"), rScore, lit("F"), fScore, lit("M"), mScore).as("segment"))
      .orderBy(col("user_id"))
  }

  val rfmSegmentsOracle: String =
    """WITH anchor AS (SELECT MAX(epoch_us(ts)) AS a FROM events),
      |rfm AS (
      |  SELECT user_id,
      |    CAST((anchor.a - MAX(epoch_us(ts))) // 86400000000 AS BIGINT) AS recency_days,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM events CROSS JOIN anchor
      |  WHERE event_type = 'purchase'
      |  GROUP BY user_id, anchor.a)
      |SELECT user_id, recency_days, frequency, monetary,
      |  'R' || (CASE WHEN 30 - recency_days >= 23 THEN 3
      |               WHEN 30 - recency_days >= 16 THEN 2 ELSE 1 END)
      |  || 'F' || (CASE WHEN frequency >= 20 THEN 3
      |                  WHEN frequency >= 10 THEN 2 ELSE 1 END)
      |  || 'M' || (CASE WHEN monetary >= 800 THEN 3
      |                  WHEN monetary >= 400 THEN 2 ELSE 1 END) AS segment
      |FROM rfm ORDER BY user_id""".stripMargin

  /** Winsorization: clip `value` to its per-event_type [p5, p95]
    * band — the standard robust pre-processing before training on
    * heavy-tailed features (the MAD fences in [[outlierBounds]] FLAG
    * outliers; this APPLIES the repair row-level). Bounds are exact
    * interpolated percentiles rounded to 6 places BEFORE the
    * comparison, the same ulp-hardening as the outlier fences — a raw
    * value compares against identical rounded bounds on any engine.
    *
    * Scale shape: the [[Pctl.dist]] histogram device produces an
    * event_type-sized bounds relation (5 rows) that AQE broadcasts
    * back onto the fact; the clip is a pure projection. No window
    * over the fact, no sort, and no task buffers a group's values
    * (VERDICT r15 #2).
    */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val bounds = Pctl.dist(ev, Seq("event_type"), "value",
      Seq("p05" -> 0.05, "p95" -> 0.95), bounded = true)
    ev.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"),
        round(least(greatest(col("value"), col("p05")), col("p95")), 6)
          .as("winsorized"),
        (col("value") < col("p05") || col("value") > col("p95")).as("clipped"))
      .orderBy(col("event_id"))
  }

  val winsorizeOracle: String =
    s"""WITH b AS (SELECT event_type,
      |    ${Pctl.sql("\"value\"", 0.05)} AS p05,
      |    ${Pctl.sql("\"value\"", 0.95)} AS p95
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, e.event_type, round(e."value", 6) AS value,
      |  round(least(greatest(e."value", b.p05), b.p95), 6) AS winsorized,
      |  (e."value" < b.p05 OR e."value" > b.p95) AS clipped
      |FROM events e JOIN b USING (event_type)
      |ORDER BY e.event_id""".stripMargin

  private val NumShards = 8

  /** RENDEZVOUS (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998) — the stable-sharding primitive of a
    * distributed pipeline: doc → argmax over shards of
    * h(doc_id ":" shard). Unlike `hash(doc) % N`, changing the shard
    * count relocates ONLY the docs the new shard wins (≈ 1/(N+1) of
    * the corpus) instead of reshuffling nearly everything — the
    * property that keeps a 100 TB re-shard from rewriting the lake
    * (DataOpsShardSpec measures exactly this: 8→9 moves ~1/9, and
    * every mover lands on the NEW shard).
    *
    * Scale shape: the argmax is a higher-order `aggregate` fold over
    * `sequence(0, N-1)` INSIDE the projection — per-row pure compute,
    * no explode, no window, no shuffle; the plan is one scan + one
    * project at any corpus size. Hash is the engine-reproducible h60
    * (md5-folded 60-bit int, [[Sketches.h60]]); ties (2⁻⁶⁰) keep the
    * LOWER shard in both engines (strict-> fold here, w DESC, shard
    * ASC rank in the oracle).
    */
  def shardAssign(s: SparkSession, dir: String): DataFrame =
    shardAssignN(s, dir, NumShards)

  private[graft] def shardAssignN(s: SparkSession, dir: String, n: Int): DataFrame = {
    val w = (shard: org.apache.spark.sql.Column) => Sketches.h60(
      concat(col("doc_id").cast(StringType), lit(":"), shard.cast(StringType)))
    Tables.t(s, dir, "documents").select(col("doc_id"))
      .withColumn("best",
        aggregate(sequence(lit(0), lit(n - 1)),
          struct(lit(Long.MinValue).as("w"), lit(-1).as("shard")),
          (acc, i) => {
            val wi = w(i)
            when(wi > acc.getField("w"),
              struct(wi.as("w"), i.as("shard"))).otherwise(acc)
          }))
      .select(col("doc_id"), col("best.shard").as("shard"))
      .orderBy(col("doc_id"))
  }

  val shardAssignOracle: String =
    s"""WITH cand AS (
       |  SELECT doc_id, shard,
       |    ${Sketches.h60Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(shard AS VARCHAR)")} AS w
       |  FROM documents, (SELECT unnest(range(0, $NumShards)) AS shard)),
       |ranked AS (
       |  SELECT doc_id, shard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, shard) AS rn
       |  FROM cand)
       |SELECT doc_id, CAST(shard AS INT) AS shard FROM ranked
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Per-segment KOLMOGOROV–SMIRNOV drift: for each event type, the
    * two-sample KS distance between ITS value distribution and the
    * rest of the corpus — max over thresholds of |ECDF_s − ECDF_rest|
    * — the classic distribution-shift test behind segment-drift
    * monitoring (which segment no longer looks like the population).
    *
    * INTEGER-EXACT (float policy, [[LlmCuration.dsirWeights]]): values
    * bucket to exact centi-units (round(value·100) → BIGINT), ECDFs
    * are cumulative BIGINT counts over the bucket grid, and the max
    * compares the CROSS-SCALED form |cum_s·n_rest − cum_rest·n_s| —
    * no division until the single rounded output. The argmax bucket
    * (reported as `at_value`) ties to the smallest bucket.
    *
    * Scale shape: one fact hash-aggregate to (type × bucket) counts;
    * the grid completion is types × distinct buckets (bounded by the
    * 2-dp value domain, not the fact); cumulative windows sort the
    * grid per type. Nothing after the first aggregate is fact-sized.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("b"))
    val counts = e.groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
    val buckets = counts.select(col("b")).distinct()
    val types = counts.select(col("event_type")).distinct()
    val grid = types.crossJoin(buckets)
      .join(counts, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val allB = counts.groupBy(col("b")).agg(sum(col("c")).as("c_all"))
    val nS = counts.groupBy(col("event_type")).agg(sum(col("c")).as("n_s"))
    // total event count folded in as a broadcast 1-row aggregate
    // (VERDICT r13 #5) — one lazy plan, no extra driver job
    val nAll = counts.agg(sum(col("c")).as("n_all"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wa = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cums = grid
      .withColumn("cum_s", sum(col("c")).over(wc))
      .join(allB.withColumn("cum_all", sum(col("c_all")).over(wa)).select(col("b"), col("cum_all")), "b")
      .join(nS, "event_type")
      .crossJoin(broadcast(nAll))
      .withColumn("d_scaled",
        abs(col("cum_s") * (col("n_all") - col("n_s")) -
          (col("cum_all") - col("cum_s")) * col("n_s")))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("d_scaled").desc, col("b"))
    cums.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_s"),
        round(col("d_scaled").cast(DoubleType) /
          (col("n_s") * (col("n_all") - col("n_s"))).cast(DoubleType), 6).as("ks_stat"),
        round(col("b").cast(DoubleType) / 100, 6).as("at_value"))
      .orderBy(col("event_type"))
  }

  val ksDriftOracle: String =
    """WITH e AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS b FROM events),
      |counts AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, bk.b, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM counts) t
      |  CROSS JOIN (SELECT DISTINCT b FROM counts) bk
      |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.b = bk.b),
      |allb AS (SELECT b, SUM(c) AS c_all FROM counts GROUP BY 1),
      |ns AS (SELECT event_type, SUM(c) AS n_s FROM counts GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_all FROM e),
      |allc AS (SELECT b,
      |    SUM(c_all) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum_all
      |  FROM allb),
      |cums AS (
      |  SELECT g.event_type, g.b,
      |    SUM(g.c) OVER (PARTITION BY g.event_type ORDER BY g.b
      |      ROWS UNBOUNDED PRECEDING) AS cum_s,
      |    a.cum_all
      |  FROM grid g JOIN allc a ON g.b = a.b),
      |d AS (
      |  SELECT c.event_type, c.b, ns.n_s, n.n_all,
      |    abs(CAST(c.cum_s AS BIGINT) * (n.n_all - ns.n_s)
      |      - (CAST(c.cum_all AS BIGINT) - CAST(c.cum_s AS BIGINT)) * ns.n_s) AS d_scaled,
      |    ROW_NUMBER() OVER (PARTITION BY c.event_type
      |      ORDER BY abs(CAST(c.cum_s AS BIGINT) * (n.n_all - ns.n_s)
      |        - (CAST(c.cum_all AS BIGINT) - CAST(c.cum_s AS BIGINT)) * ns.n_s) DESC,
      |        c.b) AS rn
      |  FROM cums c JOIN ns ON c.event_type = ns.event_type CROSS JOIN n)
      |SELECT event_type, CAST(n_s AS BIGINT) AS n_s,
      |  round(CAST(d_scaled AS DOUBLE)
      |    / (CAST(n_s AS DOUBLE) * (n_all - n_s)), 6) AS ks_stat,
      |  round(CAST(b AS DOUBLE) / 100, 6) AS at_value
      |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Per-segment POPULATION STABILITY INDEX — the other industry drift
    * metric beside [[ksDrift]] (model-monitoring convention: PSI < 0.1
    * stable, > 0.25 action): bin each event type's values by the
    * DECILE fences of the rest-of-corpus distribution (reference-
    * quantile bins, the standard construction), then
    * PSI = Σ_bins (p_i − q_i)·ln(p_i / q_i) with add-one smoothing so
    * empty bins stay finite.
    *
    * Determinism: fences are the exact interpolated percentiles both
    * engines already agree on (`fn_percentile_suite` gates the
    * equivalence), ROUNDED to 6 dp before any comparison; binning is
    * an integer fold over the fence array; shares are single ordered
    * divisions of integers; the 10-term PSI sum aggregates as DECIMAL
    * (ln per the [[LlmCuration.dsirWeights]] policy).
    *
    * Scale shape: one fact pass for the per-(type,bucket) counts;
    * rest counts are grid algebra (pooled − own) on that
    * domain-bounded grid, fences ride the weighted-histogram
    * percentile device over it, binning is one grid pass, and the PSI
    * sum runs over types × 10 rows — nothing downstream of the first
    * aggregate is fact-sized.
    */
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    // r17 (VERDICT r16: the last named perf residual): the
    // rest-of-corpus relation is never materialized as rows at all —
    // rest counts are GRID ALGEBRA, c_rest(t, b) = l(b) − c_own(t, b)
    // over the (type × 2-dp bucket) counts grid, so the former
    // 4×-fact != fan (built twice: fences + binning) collapses to one
    // fact hash-aggregate plus domain-bounded grid passes. The decile
    // fences come from [[Pctl.distHist]] over the weighted rest
    // histogram — bit-equal to the row-multiset percentile, so the
    // oracle (which still writes the rest fan the readable way) is
    // unchanged.
    val counts = graft.plans.Checkpoint.pin(Tables.t(s, dir, "events")
      .select(col("event_type").as("t"),
        round(col("value") * 100).cast(LongType).as("b"))
      .groupBy(col("t"), col("b")).agg(count(lit(1)).as("c")))
    val allB = counts.groupBy(col("b")).agg(sum(col("c")).as("l"))
    val types = counts.select(col("t")).distinct()
    // completed (type × bucket) grid with own and rest counts — the
    // ops_ks_drift bounded-BNLJ grid shape; pinned: the fence device
    // and the binning pass both read it
    val grid0 = graft.plans.Checkpoint.pin(allB.crossJoin(broadcast(types))
      .join(counts, Seq("t", "b"), "left")
      .select(col("t"), col("b"),
        coalesce(col("c"), lit(0L)).as("c_own"),
        (col("l") - coalesce(col("c"), lit(0L))).as("c_rest")))
    val fences = graft.plans.Checkpoint.pin(
      Pctl.distHist(grid0, Seq("t"), "b", "c_rest",
          (1 to 9).map(i => s"f$i" -> i / 10.0),
          // bounded: the histogram IS the 2-dp bucket domain — a
          // per-type window over it is corpus-size-independent
          bounded = true)
        .select(col("t"), array((1 to 9).map(i => col(s"f$i")): _*).as("f")))
    val binOf = aggregate(col("f"), lit(0),
      (acc, x) => acc + when(col("b").cast(DoubleType) > x, 1).otherwise(0))
    // the fence relation is 5 rows but its device plan carries no
    // row-count stats AQE trusts — hint it (the r16 psi regression);
    // own and rest bin in ONE pass over the counts grid
    val binned = grid0.join(broadcast(fences), "t")
      .select(col("t"), binOf.as("bin"), col("c_own"), col("c_rest"))
      .groupBy(col("t"), col("bin"))
      .agg(sum(col("c_own")).as("c_own"), sum(col("c_rest")).as("c_rest"))
    val grid = types.crossJoin(
        s.range(0, 10).toDF("bin").select(col("bin").cast("int").as("bin")))
      .join(binned, Seq("t", "bin"), "left")
      .select(col("t"), col("bin"),
        coalesce(col("c_own"), lit(0L)).as("c_own"),
        coalesce(col("c_rest"), lit(0L)).as("c_rest"))
    val tot = grid.groupBy(col("t"))
      .agg(sum(col("c_own")).as("n_own"), sum(col("c_rest")).as("n_rest"))
    val p = (col("c_own") + 1).cast(DoubleType) / (col("n_own") + 10).cast(DoubleType)
    val q = (col("c_rest") + 1).cast(DoubleType) / (col("n_rest") + 10).cast(DoubleType)
    grid.join(tot, "t")
      .select(col("t"), ((p - q) * log(p / q)).as("term"))
      .groupBy(col("t"))
      .agg(round(sum(col("term").cast(DecimalType(38, 12))).cast(DoubleType), 6).as("psi"))
      .select(col("t").as("event_type"), col("psi"))
      .orderBy(col("event_type"))
  }

  val psiDriftOracle: String =
    s"""WITH e AS (SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS b FROM events),
      |types AS (SELECT DISTINCT event_type AS t FROM e),
      |rest AS (SELECT types.t, e.b FROM types JOIN e ON e.event_type <> types.t),
      |fences AS (SELECT t,
      |    ${Pctl.sqlArray("b", (1 to 9).map(_ / 10.0))} AS f
      |  FROM rest GROUP BY 1),
      |own AS (
      |  SELECT e.event_type AS t,
      |    list_sum(list_transform(fences.f,
      |      x -> CASE WHEN CAST(e.b AS DOUBLE) > x THEN 1 ELSE 0 END)) AS bin,
      |    COUNT(*) AS c_own
      |  FROM e JOIN fences ON e.event_type = fences.t GROUP BY 1, 2),
      |oth AS (
      |  SELECT rest.t,
      |    list_sum(list_transform(fences.f,
      |      x -> CASE WHEN CAST(rest.b AS DOUBLE) > x THEN 1 ELSE 0 END)) AS bin,
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
      |  SELECT g.t,
      |    (CAST(g.c_own + 1 AS DOUBLE) / (tot.n_own + 10)
      |      - CAST(g.c_rest + 1 AS DOUBLE) / (tot.n_rest + 10))
      |    * ln((CAST(g.c_own + 1 AS DOUBLE) / (tot.n_own + 10))
      |        / (CAST(g.c_rest + 1 AS DOUBLE) / (tot.n_rest + 10))) AS term
      |  FROM grid g JOIN tot ON g.t = tot.t)
      |SELECT t AS event_type,
      |  round(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Benford's-law first-digit conformance per `l_returnflag` — the
    * classic forensic data-quality screen (Benford 1938; Nigrini 2012)
    * run over `l_extendedprice`: observed first-significant-digit
    * frequencies against the log10(1+1/d) expectation, with the
    * per-digit chi-square contribution so a reviewer sees WHICH digit
    * drives any deviation. Synthetic uniform-ish prices are expected to
    * FAIL Benford — the gate proves the screen detects non-conformance,
    * not that the data conforms.
    *
    * Float policy ([[LlmCuration.dsirWeights]] scaladoc): the digit is
    * INTEGER-derived — round(price·100) → BIGINT → first character —
    * so bucketing is cross-engine exact; the nine expected frequencies
    * are hardcoded round-6 literals (no libm log10 at query time); the
    * two output doubles divide/multiply exact integers by those
    * literals in the same order on both engines and are rounded to 6.
    *
    * Scale shape: ONE fact scan → hash aggregate on (flag, digit) —
    * map-side combined, ≤ |flags|·9 groups — then the digit-domain
    * completion and totals run on the aggregate (a flags×9 grid), so
    * nothing after the first aggregate is fact-sized. At 100 TB this
    * is a pure map-combine aggregate: no window, no second scan.
    */
  private val BenfordExp: Seq[(Int, Double)] = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)

  def benford(s: SparkSession, dir: String): DataFrame = {
    val digit = substring(
      round(col("l_extendedprice") * 100).cast(LongType).cast(StringType), 1, 1)
      .cast(IntegerType)
    val counts = Tables.t(s, dir, "lineitem")
      .select(col("l_returnflag"), digit.as("digit"))
      .groupBy(col("l_returnflag"), col("digit")).agg(count(lit(1)).as("n"))
    val grid = counts.select(col("l_returnflag")).distinct()
      .crossJoin(s.range(1, 10).select(col("id").cast(IntegerType).as("digit")))
      .join(counts, Seq("l_returnflag", "digit"), "left")
      .select(col("l_returnflag"), col("digit"),
        coalesce(col("n"), lit(0L)).as("n"))
    val tot = counts.groupBy(col("l_returnflag")).agg(sum(col("n")).as("total_n"))
    val expFrac = BenfordExp.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc) }
    val expN = col("total_n").cast(DoubleType) * col("exp_frac")
    grid.join(tot, Seq("l_returnflag"))
      .withColumn("exp_frac", expFrac)
      .select(col("l_returnflag"), col("digit"), col("n"), col("total_n"),
        round(col("n").cast(DoubleType) / col("total_n"), 6).as("obs_frac"),
        col("exp_frac"),
        round((col("n").cast(DoubleType) - expN) * (col("n").cast(DoubleType) - expN)
          / expN, 6).as("chi2_part"))
      .orderBy(col("l_returnflag"), col("digit"))
  }

  val benfordOracle: String = {
    val expCase = BenfordExp.map { case (d, p) =>
      s"WHEN $d THEN CAST($p AS DOUBLE)" }.mkString(" ")
    s"""WITH counts AS (
       |  SELECT l_returnflag,
       |    CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
       |      1, 1) AS INT) AS digit,
       |    COUNT(*) AS n
       |  FROM lineitem GROUP BY 1, 2),
       |grid AS (
       |  SELECT f.l_returnflag, d.digit, COALESCE(c.n, 0) AS n
       |  FROM (SELECT DISTINCT l_returnflag FROM counts) f
       |  CROSS JOIN (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit) d
       |  LEFT JOIN counts c ON c.l_returnflag = f.l_returnflag AND c.digit = d.digit),
       |tot AS (SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS total_n
       |  FROM counts GROUP BY 1)
       |SELECT g.l_returnflag, g.digit, g.n, tot.total_n,
       |  round(CAST(g.n AS DOUBLE) / tot.total_n, 6) AS obs_frac,
       |  CASE g.digit $expCase END AS exp_frac,
       |  round((CAST(g.n AS DOUBLE) - CAST(tot.total_n AS DOUBLE) * (CASE g.digit $expCase END))
       |      * (CAST(g.n AS DOUBLE) - CAST(tot.total_n AS DOUBLE) * (CASE g.digit $expCase END))
       |    / (CAST(tot.total_n AS DOUBLE) * (CASE g.digit $expCase END)), 6) AS chi2_part
       |FROM grid g JOIN tot ON g.l_returnflag = tot.l_returnflag
       |ORDER BY g.l_returnflag, g.digit""".stripMargin
  }

  /** ABC/XYZ inventory classification — the supply-chain planner's
    * standard two-axis part segmentation (Pareto revenue classes ×
    * demand-variability classes, e.g. Silver, Pyke & Peterson 2016
    * ch.2): ABC from the CUMULATIVE revenue share with parts sorted
    * by revenue descending (A ≤ 80%, B ≤ 95%, else C), XYZ from the
    * coefficient of variation of per-order quantity (X < 0.5,
    * Y < 1.0, else Z). The classic skew readout: A-parts are the few
    * keys carrying most volume — the same keys a 100 TB join wants
    * salted.
    *
    * Determinism: revenue is exact cents, quantities exact integers,
    * moment sums DECIMAL(38,0); both class boundaries compare
    * ROUND-6 values against literal thresholds (a last-ulp share or
    * CV can't flip a class); the revenue sort ties on partkey.
    *
    * Scale shape: one fact hash aggregate to parts, one part-sized
    * cumulative window, class logic as projections. At 100 TB the
    * window sorts the part CATALOG, never the fact.
    */
  def abcXyz(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val parts = Tables.t(s, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
        col("l_quantity").cast(LongType).as("q"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("cents").cast(d)).as("rev"),
        sum(col("q").cast(d)).as("sq"),
        sum((col("q") * col("q")).cast(d)).as("sqq"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val cumShare = round(sum(col("rev")).over(wCum).cast(DoubleType) /
      sum(col("rev")).over(wAll).cast(DoubleType), 6)
    val mean = col("sq").cast(DoubleType) / col("n_lines").cast(DoubleType)
    val variance = (col("n_lines") * col("sqq") - col("sq") * col("sq"))
      .cast(DoubleType) /
      (col("n_lines") * (col("n_lines") - 1)).cast(DoubleType)
    val cv = round(sqrt(variance) / mean, 6)
    parts
      .filter(col("n_lines") >= 2)
      .withColumn("cum_share", cumShare)
      .withColumn("cv", cv)
      .select(col("l_partkey"), col("n_lines"),
        col("rev").cast(LongType).as("revenue_cents"), col("cum_share"),
        when(col("cum_share") <= 0.8, "A")
          .when(col("cum_share") <= 0.95, "B").otherwise("C").as("abc_class"),
        col("cv"),
        when(col("cv") < 0.5, "X").when(col("cv") < 1.0, "Y").otherwise("Z")
          .as("xyz_class"))
      .orderBy(col("l_partkey"))
  }

  val abcXyzOracle: String =
    """WITH parts AS (
      |  SELECT l_partkey, COUNT(*) AS n_lines,
      |    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
      |      AS DECIMAL(38,0))) AS rev,
      |    SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sq,
      |    SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
      |      AS DECIMAL(38,0))) AS sqq
      |  FROM lineitem GROUP BY 1),
      |f AS (SELECT * FROM parts WHERE n_lines >= 2),
      |cum AS (
      |  SELECT l_partkey, n_lines, rev, sq, sqq,
      |    round(CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / CAST(SUM(rev) OVER () AS DOUBLE), 6) AS cum_share,
      |    round(sqrt(CAST(n_lines * sqq - sq * sq AS DOUBLE)
      |        / CAST(n_lines * (n_lines - 1) AS DOUBLE))
      |      / (CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE)), 6) AS cv
      |  FROM f)
      |SELECT l_partkey, n_lines, CAST(rev AS BIGINT) AS revenue_cents,
      |  cum_share,
      |  CASE WHEN cum_share <= 0.8 THEN 'A'
      |    WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class,
      |  cv,
      |  CASE WHEN cv < 0.5 THEN 'X' WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END
      |    AS xyz_class
      |FROM cum ORDER BY l_partkey""".stripMargin

  /** Laspeyres / Paasche / Fisher PRICE INDICES by ship month (the
    * index-number trio every pricing and inflation dashboard carries
    * — Laspeyres weights by the BASE month's basket, Paasche by the
    * current month's, Fisher is their geometric mean): unit values
    * p_t(part) = effective cents (price × (1−discount)) over units,
    * per part-month; each index compares months over the COMMON
    * basket (parts traded in both the base and the current month) so
    * entry/exit never masquerades as inflation.
    *
    * Float policy: unit values are round-6 decimal ratios of exact
    * integers (the hourly-bar discipline), so both engines form the
    * p·q products from IDENTICAL doubles; the products ride an
    * order-independent DECIMAL(38,12) sum, each index is ONE division
    * of two such sums, and Fisher is one sqrt over their product (the
    * [[graft.queries.Graph.assortativity]] fixed-order shape).
    *
    * Scale shape: one fact pass to the (part × month) grid; the
    * common-basket join and the index aggregates run on grid-sized
    * relations. At 100 TB the grid is catalog × months — never the
    * fact.
    */
  def priceIndex(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.t(s, dir, "lineitem")
      .select(col("l_partkey").as("part"),
        date_trunc("month", col("l_shipdate")).cast(DateType).as("month"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast(LongType).as("ec"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("q"))
    val grid = li.groupBy(col("part"), col("month"))
      .agg(sum(col("ec")).as("ec"), sum(col("q")).as("q"))
      .withColumn("p", round(col("ec").cast(DoubleType) /
        col("q").cast(DoubleType), 6))
    val baseMonth = grid.agg(min(col("month")).as("base_month"))
    val base = grid.join(broadcast(baseMonth),
        col("month") === col("base_month"))
      .select(col("part"), col("p").as("p0"), col("q").as("q0"))
    val d = DecimalType(38, 12)
    val idx = grid.join(base, "part")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum((col("p") * col("q0")).cast(d)).as("ptq0"),
        sum((col("p0") * col("q0")).cast(d)).as("p0q0"),
        sum((col("p") * col("q")).cast(d)).as("ptqt"),
        sum((col("p0") * col("q")).cast(d)).as("p0qt"))
    val lasp = col("ptq0").cast(DoubleType) / col("p0q0").cast(DoubleType)
    val paas = col("ptqt").cast(DoubleType) / col("p0qt").cast(DoubleType)
    idx.select(col("month"), col("n_parts"),
        round(lasp, 6).as("laspeyres"),
        round(paas, 6).as("paasche"),
        round(sqrt(lasp * paas), 6).as("fisher"))
      .orderBy(col("month"))
  }

  val priceIndexOracle: String =
    """WITH li AS (
      |  SELECT l_partkey AS part,
      |    CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS DATE)
      |      AS month,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
      |      AS ec,
      |    CAST(round(l_quantity) AS BIGINT) AS q
      |  FROM lineitem),
      |grid AS (
      |  SELECT part, month, round(CAST(SUM(ec) AS DOUBLE)
      |      / CAST(SUM(q) AS DOUBLE), 6) AS p,
      |    CAST(SUM(q) AS BIGINT) AS q
      |  FROM li GROUP BY 1, 2),
      |base AS (
      |  SELECT part, p AS p0, q AS q0 FROM grid
      |  WHERE month = (SELECT MIN(month) FROM grid)),
      |idx AS (
      |  SELECT g.month, COUNT(*) AS n_parts,
      |    SUM(CAST(g.p * b.q0 AS DECIMAL(38,12))) AS ptq0,
      |    SUM(CAST(b.p0 * b.q0 AS DECIMAL(38,12))) AS p0q0,
      |    SUM(CAST(g.p * g.q AS DECIMAL(38,12))) AS ptqt,
      |    SUM(CAST(b.p0 * g.q AS DECIMAL(38,12))) AS p0qt
      |  FROM grid g JOIN base b USING (part)
      |  GROUP BY 1)
      |SELECT month, n_parts,
      |  round(CAST(ptq0 AS DOUBLE) / CAST(p0q0 AS DOUBLE), 6) AS laspeyres,
      |  round(CAST(ptqt AS DOUBLE) / CAST(p0qt AS DOUBLE), 6) AS paasche,
      |  round(sqrt((CAST(ptq0 AS DOUBLE) / CAST(p0q0 AS DOUBLE))
      |    * (CAST(ptqt AS DOUBLE) / CAST(p0qt AS DOUBLE))), 6) AS fisher
      |FROM idx ORDER BY month""".stripMargin

  /** k-anonymity / l-diversity privacy audit (Sweeney 2002; Machanavajjhala
    * et al. 2007) — the re-identification risk report a training-data
    * release runs before shipping: group records by quasi-identifiers
    * (nation × $100 account-balance band — the attributes an attacker
    * can link externally), measure each equivalence class's size k and
    * its l-diversity (distinct market segments — the sensitive
    * attribute) and report the k histogram with records-at-risk
    * percentages. A class of k = 1 is a unique, directly
    * re-identifiable record; small-l classes leak the sensitive value
    * even at large k. The balance band is floor(acctbal/100) — one
    * deterministic double floor, identical on both engines.
    *
    * Scale shape: two hash aggregates (records → QI classes → k
    * buckets) + the 1-row record total onto the ≤10-row bucket grid —
    * the privacy audit of a 100 TB release is literally two shuffles.
    */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.t(s, dir, "customer")
      .select(col("c_nationkey").cast(LongType).as("nk"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 100).cast(LongType).as("band"))
    val cls = c.groupBy(col("nk"), col("band"))
      .agg(count(lit(1)).as("k"), countDistinct(col("seg")).as("l"))
    val buckets = cls.groupBy(least(col("k"), lit(10L)).as("k_bucket"))
      .agg(count(lit(1)).as("n_classes"), sum(col("k")).as("n_records"),
        min(col("l")).as("min_l"), sum(col("l")).as("sum_l"))
    val tot = buckets.agg(sum(col("n_records")).as("n_tot"))
    buckets.crossJoin(broadcast(tot))
      .select(col("k_bucket"), col("n_classes"), col("n_records"),
        round(col("n_records").cast(DoubleType) /
          col("n_tot").cast(DoubleType), 6).as("pct_records"),
        col("min_l"),
        round(col("sum_l").cast(DoubleType) /
          col("n_classes").cast(DoubleType), 6).as("avg_l"))
      .orderBy(col("k_bucket"))
  }

  val kAnonymityOracle: String =
    """WITH c AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment AS seg,
      |    CAST(floor(c_acctbal / 100) AS BIGINT) AS band
      |  FROM customer),
      |cls AS (
      |  SELECT nk, band, COUNT(*) AS k, COUNT(DISTINCT seg) AS l
      |  FROM c GROUP BY 1, 2),
      |b AS (
      |  SELECT least(k, 10) AS k_bucket, COUNT(*) AS n_classes,
      |    CAST(SUM(k) AS BIGINT) AS n_records,
      |    CAST(MIN(l) AS BIGINT) AS min_l, CAST(SUM(l) AS BIGINT) AS sum_l
      |  FROM cls GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_records) AS BIGINT) AS n_tot FROM b)
      |SELECT CAST(b.k_bucket AS BIGINT) AS k_bucket,
      |  CAST(b.n_classes AS BIGINT) AS n_classes, b.n_records,
      |  round(CAST(b.n_records AS DOUBLE) / CAST(t.n_tot AS DOUBLE), 6)
      |    AS pct_records,
      |  b.min_l,
      |  round(CAST(b.sum_l AS DOUBLE) / CAST(b.n_classes AS DOUBLE), 6)
      |    AS avg_l
      |FROM b CROSS JOIN tot t
      |ORDER BY k_bucket""".stripMargin

  private val RakeIters = 3

  /** Iterative proportional fitting / raking (Deming & Stephan 1940)
    * — reweight the (segment × nation) order-count table so its
    * margins match the CUSTOMER BASE's distribution: the survey-
    * weighting / dataset-rebalancing primitive (domain mixing for
    * training data is exactly this operation). Targets are the
    * customer margins scaled to the order total, so both margin
    * vectors sum to the same mass; [[RakeIters]] fixed full
    * iterations (row step then column step), each a ratio update
    * against the current margin. Float discipline: the per-cell
    * ratio update is a fixed double expression, and every margin Σ
    * rides DECIMAL(38,12) so no partition row-order enters a float
    * sum (the dec12 device); both engines replay the identical
    * 6-step expression tree.
    *
    * Scale shape: one fact aggregate to the (seg × nation)
    * categorical grid (≤125 rows at ANY fact scale), dim-bounded
    * margin joins, then 2·[[RakeIters]] grid-sized windows.
    */
  def raking(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val cells = Tables.t(s, dir, "orders")
      .join(Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey").cast(LongType).as("nat")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("nat"))
      .agg(count(lit(1)).as("n"))
    val cust = Tables.t(s, dir, "customer")
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast(LongType).as("nat"))
    val custSeg = cust.groupBy(col("seg")).agg(count(lit(1)).as("cs"))
    val custNat = cust.groupBy(col("nat")).agg(count(lit(1)).as("cn"))
    val totals = cust.agg(count(lit(1)).as("n_cust"))
    val nOrd = cells.agg(sum(col("n")).as("n_ord"))
    def msum(c: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(c.cast(d12)).over(w).cast(DoubleType)
    val wSeg = Window.partitionBy(col("seg"))
    val wNat = Window.partitionBy(col("nat"))
    val base = cells
      .join(broadcast(custSeg), "seg")
      .join(broadcast(custNat), "nat")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(nOrd))
      .withColumn("r", col("cs").cast(DoubleType) *
        col("n_ord").cast(DoubleType) / col("n_cust").cast(DoubleType))
      .withColumn("c", col("cn").cast(DoubleType) *
        col("n_ord").cast(DoubleType) / col("n_cust").cast(DoubleType))
      .withColumn("w", col("n").cast(DoubleType))
    val raked = (1 to RakeIters).foldLeft(base) { (df, _) =>
      df.withColumn("w", col("w") * col("r") / msum(col("w"), wSeg))
        .withColumn("w", col("w") * col("c") / msum(col("w"), wNat))
    }
    raked.select(col("seg"), col("nat"), col("n"),
      round(col("w"), 6).as("weight"),
      round(col("w") / col("n").cast(DoubleType), 6).as("factor"))
      .orderBy(col("seg"), col("nat"))
  }

  val rakingOracle: String = {
    def msum(part: String) =
      s"CAST(SUM(CAST(w AS DECIMAL(38,12))) OVER (PARTITION BY $part) AS DOUBLE)"
    val steps = (1 to RakeIters).flatMap(i => Seq(
      s"s${i}a AS (SELECT seg, nat, n, r, c, w * r / ${msum("seg")} AS w FROM ${if (i == 1) "w0" else s"s${i - 1}b"})",
      s"s${i}b AS (SELECT seg, nat, n, r, c, w * c / ${msum("nat")} AS w FROM s${i}a)"))
      .mkString(",\n")
    s"""WITH cells AS (
       |  SELECT c.c_mktsegment AS seg, CAST(c.c_nationkey AS BIGINT) AS nat,
       |    COUNT(*) AS n
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1, 2),
       |cs AS (SELECT c_mktsegment AS seg, COUNT(*) AS cs FROM customer
       |  GROUP BY 1),
       |cn AS (SELECT CAST(c_nationkey AS BIGINT) AS nat, COUNT(*) AS cn
       |  FROM customer GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS n_cust FROM customer),
       |no AS (SELECT CAST(SUM(n) AS BIGINT) AS n_ord FROM cells),
       |w0 AS (
       |  SELECT cells.seg, cells.nat, cells.n,
       |    CAST(cs.cs AS DOUBLE) * CAST(no.n_ord AS DOUBLE)
       |      / CAST(tot.n_cust AS DOUBLE) AS r,
       |    CAST(cn.cn AS DOUBLE) * CAST(no.n_ord AS DOUBLE)
       |      / CAST(tot.n_cust AS DOUBLE) AS c,
       |    CAST(cells.n AS DOUBLE) AS w
       |  FROM cells JOIN cs ON cells.seg = cs.seg
       |  JOIN cn ON cells.nat = cn.nat
       |  CROSS JOIN tot CROSS JOIN no),
       |$steps
       |SELECT seg, nat, CAST(n AS BIGINT) AS n,
       |  round(w, 6) AS weight,
       |  round(w / CAST(n AS DOUBLE), 6) AS factor
       |FROM s${RakeIters}b ORDER BY seg, nat""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ops_price_index", priceIndex, Some(priceIndexOracle)),
    QueryDef("ops_raking", raking, Some(rakingOracle)),
    QueryDef("ops_k_anonymity", kAnonymity, Some(kAnonymityOracle)),
    QueryDef("ops_abc_xyz", abcXyz, Some(abcXyzOracle)),
    QueryDef("ops_benford", benford, Some(benfordOracle)),
    QueryDef("ops_psi_drift", psiDrift, Some(psiDriftOracle)),
    QueryDef("ops_ks_drift", ksDrift, Some(ksDriftOracle)),
    QueryDef("ops_shard_assign", shardAssign, Some(shardAssignOracle)),
    QueryDef("ops_winsorize", winsorize, Some(winsorizeOracle)),
    QueryDef("ops_profile_numeric", profileNumeric, Some(profileNumericOracle)),
    QueryDef("ops_rfm_segments", rfmSegments, Some(rfmSegmentsOracle)),
    QueryDef("ops_fuzzy_link", fuzzyLink, Some(fuzzyLinkOracle)),
    QueryDef("ops_histogram", histogram, Some(histogramOracle)),
    QueryDef("ops_dq_checks", dqChecks, Some(dqChecksOracle)),
    QueryDef("ops_outlier_bounds", outlierBounds, Some(outlierBoundsOracle)),
  )
}
