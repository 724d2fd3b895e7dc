package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DuckDB-gated batch executions of the streaming transforms: the same
  * logical operators [[graft.streaming.EventsStream]] runs as a stream
  * (event-time window bucketing, per-type aggregation) run here in
  * batch over `events.parquet`, so the driver's oracle gates the
  * streaming SEMANTICS — StreamingSpec covers the runtime behaviors
  * (watermark emission, state eviction, exactly-once) that batch can't.
  *
  * Sums go through DECIMAL so the cross-engine hash compare is exact
  * (the streaming job itself sums doubles; aggregation math is not the
  * property under test — bucketing is).
  */
object StreamingGates {

  import LlmCuration.dsum

  /** 5-minute event-time tumbling buckets per event_type — the exact
    * grouping expression of EventsStream.windowedCounts.
    */
  def windowedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  // time_bucket produces the same epoch-aligned 5-minute buckets as
  // Spark's window(); the oracle reconstructs start/end explicitly.
  val windowedAggOracle: String =
    """SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
      | time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) + INTERVAL '5 minutes' AS window_end,
      | event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** SLIDING event-time windows (10-min window, 5-min slide): every
    * event lands in window/slide = 2 overlapping buckets — the same
    * `window(ts, "10 minutes", "5 minutes")` expression the streaming
    * job would use. The oracle replicates the bucket set by unioning
    * the two slide offsets per event.
    */
  def slidingWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val slidingWindowAggOracle: String =
    """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
      |  time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b FROM events),
      |x AS (SELECT event_type, v,
      |  b - CAST(i AS INTEGER) * INTERVAL '5 minutes' AS window_start
      |  FROM e, unnest([0, 1]) AS t(i))
      |SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
      |  event_type, COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM x GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  private val GapUs = 30L * 60 * 1000000 // 30 minutes, microsecond-exact

  /** Gap-based sessionization in BATCH — the same session semantics as
    * [[graft.streaming.EventsStream.sessionize]] (an event whose
    * distance to the previous one exceeds the 30-min gap opens a new
    * session), derived relationally: lag → new-session flag →
    * running-sum session id → per-session aggregate.
    * EventsStreamSpec asserts stream/batch parity on the same fixture;
    * this gate proves the session DERIVATION against DuckDB.
    *
    * Scale shape: one window pass partitioned by user (per-user sorts,
    * never a global sort) feeding a hash aggregate — the standard
    * batch-sessionization plan at any corpus size.
    */
  def sessionizeEvents(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagTs = lag(col("ts"), 1).over(w)
    val newSession = when(
      lagTs.isNull || unix_micros(col("ts")) - unix_micros(lagTs) > GapUs, 1).otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("sid", sum(col("new_s")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"),
      )
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  def sessionizeBatch(s: SparkSession, dir: String): DataFrame =
    sessionizeEvents(Tables.t(s, dir, "events"))

  val sessionizeOracle: String =
    """WITH e AS (SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v,
      |  CAST(ts AS TIMESTAMP) AS ts FROM events),
      |l AS (SELECT user_id, event_id, v, ts,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |        OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
      |       THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, v, ts,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM l)
      |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Purchase→view attribution in batch — the relational semantics of
    * [[graft.streaming.EventsStream.attribution]]'s stream-stream
    * interval join: every (purchase, view) pair for the same user with
    * the view inside the preceding 30 minutes.
    *
    * Scale shape: an equi-join on user_id with a range residual — the
    * shuffle is keyed, per-user groups are bounded, and no interval
    * ever forces a sort beyond the per-key join.
    */
  def attributionBatch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    purchases.join(views,
      col("user_id") === col("p_user") &&
        col("view_ts") <= col("purchase_ts") &&
        unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")) <= GapUs)
      .select(col("user_id"), col("purchase_id"), col("view_id"))
      .orderBy(col("user_id"), col("purchase_id"), col("view_id"))
  }

  val attributionOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
      |SELECT p.user_id AS user_id, p.event_id AS purchase_id, v.event_id AS view_id
      |FROM e p JOIN e v
      |  ON p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.user_id = p.user_id AND v.ts <= p.ts
      | AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
      |ORDER BY p.user_id, purchase_id, view_id""".stripMargin

  /** Weekly COHORT RETENTION: assign each user to the ISO week of
    * their first event (the cohort), then count how many of each
    * cohort's users are active in every subsequent week — the
    * retention-matrix query behind every growth dashboard.
    *
    * Scale shape: (user, week) activity dedups map-side into a
    * user-keyed aggregate for the cohort, one join back on user_id,
    * and a (cohort, week) count — rows after the first distinct are
    * |users| × |active weeks|, far below event volume; no windows.
    */
  def retentionBatch(s: SparkSession, dir: String): DataFrame = {
    val wk = date_trunc("week", col("ts")).cast(DateType)
    val act = Tables.t(s, dir, "events")
      .select(col("user_id"), wk.as("wk")).distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    act.join(first, "user_id")
      // act is distinct per (user, wk), so count(*) counts USERS
      .groupBy(col("cohort_week"), col("wk"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort_week"), col("wk").as("active_week"), col("n_users"))
      .orderBy(col("cohort_week"), col("active_week"))
  }

  val retentionOracle: String =
    """WITH act AS (SELECT DISTINCT user_id,
      |  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk FROM events),
      |first AS (SELECT user_id, MIN(wk) AS cohort_week FROM act GROUP BY user_id)
      |SELECT f.cohort_week, a.wk AS active_week, COUNT(*) AS n_users
      |FROM act a JOIN first f USING (user_id)
      |GROUP BY f.cohort_week, a.wk
      |ORDER BY cohort_week, active_week""".stripMargin

  /** Cohort LTV curve — [[retentionBatch]]'s value-sided complement
    * (retention answers "do they come back", LTV answers "what are
    * they worth by age"): users cohort on their first active week,
    * and each (cohort, age-in-weeks) row reports the cohort's
    * CUMULATIVE purchase value per cohort user up to that age — the
    * curve whose plateau is the LTV a marketing model discounts.
    * Rows exist only at ages with ≥ 1 purchase (the running sum
    * carries across gaps). Micro-cents fixed point throughout; the
    * per-user division is the single rounded double.
    *
    * Scale shape: one events pass for first-weeks (min-aggregate,
    * map-side combine), one purchase-filtered pass joined to it
    * (user-sized dim join), a (cohort × age) hash aggregate — the
    * calendar-bounded grid — and a window sum over ≤ weeks rows per
    * cohort.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val first = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast(DateType).as("cohort_week"))
    val sizes = first.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(DateType).as("wk"),
        round(col("value") * 1000000).cast(LongType).as("vm"))
    val byAge = buys.join(first, "user_id")
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) DIV 7").as("age_weeks"), col("vm"))
      .groupBy(col("cohort_week"), col("age_weeks"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("vm")).as("wk_vm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
    byAge
      .withColumn("cum_vm", sum(col("wk_vm")).over(w))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
        col("n_purchases"),
        round(col("cum_vm").cast(DoubleType) /
          col("cohort_users").cast(DoubleType) / 1000000.0, 6)
          .as("ltv_per_user"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  val cohortLtvOracle: String =
    """WITH first AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS DATE)
      |      AS cohort_week
      |  FROM events GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_week, COUNT(*) AS cohort_users FROM first GROUP BY 1),
      |buys AS (
      |  SELECT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk,
      |    CAST(round(value * 1000000) AS BIGINT) AS vm
      |  FROM events WHERE event_type = 'purchase'),
      |byage AS (
      |  SELECT f.cohort_week,
      |    date_diff('day', f.cohort_week, b.wk) // 7 AS age_weeks,
      |    COUNT(*) AS n_purchases, SUM(b.vm) AS wk_vm
      |  FROM buys b JOIN first f USING (user_id)
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT cohort_week, age_weeks, n_purchases,
      |    SUM(wk_vm) OVER (PARTITION BY cohort_week ORDER BY age_weeks)
      |      AS cum_vm
      |  FROM byage)
      |SELECT c.cohort_week, CAST(c.age_weeks AS BIGINT) AS age_weeks,
      |  CAST(s.cohort_users AS BIGINT) AS cohort_users,
      |  CAST(c.n_purchases AS BIGINT) AS n_purchases,
      |  round(CAST(c.cum_vm AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
      |    / 1000000.0, 6) AS ltv_per_user
      |FROM cum c JOIN sizes s USING (cohort_week)
      |ORDER BY cohort_week, age_weeks""".stripMargin

  /** Time-series RESAMPLE with gap fill: the 5-minute bucket aggregate
    * re-gridded onto the complete (event_type × calendar bucket) frame,
    * empty buckets zero-filled and flagged — the step that makes event
    * aggregates chartable/joinable as a dense series (feature pipelines
    * and monitoring both need it; sparse aggregates silently drop the
    * "nothing happened" signal).
    *
    * Scale shape: the dense grid is GENERATED (sequence over the
    * min/max bounds × distinct types), never shuffled out of the event
    * log — its size is span/5min × |types|, calendar-bounded and
    * independent of event volume; the only data-sized operations are
    * the bucket hash aggregate and one keyed left join. The 1-row
    * bounds relation broadcast is constant-bounded by construction
    * (PlanAuditSpec whitelist).
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type"),
        window(col("ts"), "5 minutes").getField("start").as("b"),
        col("value").cast(DecimalType(18, 2)).as("v"))
    val agg = ev.groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("tv"))
    val bounds = ev.agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(bounds.select(explode(
        sequence(col("lo"), col("hi"), expr("INTERVAL 5 MINUTES"))).as("b")))
    grid.join(agg, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b").as("bucket_start"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("tv").cast(DoubleType), lit(0.0)).as("total_value"),
        col("n").isNull.as("filled"))
      .orderBy(col("event_type"), col("bucket_start"))
  }

  val gapFillOracle: String =
    """WITH e AS (SELECT event_type,
      |  time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b,
      |  CAST(value AS DECIMAL(18,2)) AS v FROM events),
      |agg AS (SELECT event_type, b, COUNT(*) AS n, SUM(v) AS tv FROM e GROUP BY 1, 2),
      |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM e),
      |grid0 AS (SELECT unnest(generate_series(lo, hi, INTERVAL '5 minutes')) AS b FROM bounds),
      |grid AS (SELECT t.event_type, g.b
      |  FROM (SELECT DISTINCT event_type FROM e) t CROSS JOIN grid0 g)
      |SELECT grid.event_type, grid.b AS bucket_start,
      |  COALESCE(agg.n, 0) AS n_events,
      |  COALESCE(CAST(agg.tv AS DOUBLE), CAST(0 AS DOUBLE)) AS total_value,
      |  agg.n IS NULL AS filled
      |FROM grid LEFT JOIN agg USING (event_type, b)
      |ORDER BY event_type, bucket_start""".stripMargin

  /** Ordered-funnel analysis (view → click → purchase): per user, the
    * first occurrence of each step STRICTLY after the previous step's
    * time, and the resulting funnel depth — the sequential-pattern
    * operator (ClickHouse's windowFunnel / MATCH_RECOGNIZE-lite)
    * derived relationally: one conditional min-aggregate per step,
    * chained through user-keyed joins.
    *
    * Scale shape: three user-keyed hash aggregates over progressively
    * SHRINKING inputs (step k only scans candidates that passed step
    * k-1 via an equi-join), then left-joins back to the user dimension.
    * Every shuffle is on user_id — co-partitioned end to end, no
    * window over the full event log, no per-user event list ever
    * collected.
    */
  def funnelBatch(s: SparkSession, dir: String): DataFrame =
    funnelEvents(Tables.t(s, dir, "events"))

  /** Core of [[funnelBatch]] over any (user_id, event_type, ts) frame —
    * EventsStreamSpec asserts parity with the streaming
    * [[graft.streaming.EventsStream.funnel]] on the same fixture.
    */
  def funnelEvents(e: DataFrame): DataFrame = {
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    e.select(col("user_id")).distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0).as("funnel_depth"))
      .orderBy(col("user_id"))
  }

  val funnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |t1 AS (SELECT user_id, MIN(ts) AS t_view FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM e JOIN t1 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > t1.t_view GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM e JOIN t2 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click GROUP BY e.user_id)
      |SELECT u.user_id, t1.t_view, t2.t_click, t3.t_purchase,
      |  CASE WHEN t3.t_purchase IS NOT NULL THEN 3
      |       WHEN t2.t_click IS NOT NULL THEN 2
      |       WHEN t1.t_view IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
      |FROM (SELECT DISTINCT user_id FROM e) u
      |LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
      |LEFT JOIN t3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Spark's NATIVE session_window operator (the same SessionWindow
    * aggregation Structured Streaming's session state uses) gated
    * against a lag-based islands oracle. Semantics pinned exactly:
    * session end = last event + gap (half-open), an event exactly
    * `gap` after its predecessor starts a NEW session (merge iff
    * strictly less), so the oracle breaks on `diff >= gap`. The
    * lag+cumsum [[sessionizeBatch]] twin keeps its own (closed-bound)
    * convention — both are gated, the conventions are documented.
    *
    * Scale shape: one shuffle on user_id, then per-key in-memory
    * session merge — no window SORT over the whole fact, which is what
    * makes the native operator preferable at 100 TB.
    */
  def sessionWindowNative(s: SparkSession, dir: String): DataFrame = {
    Tables.t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val sessionWindowNativeOracle: String =
    """WITH e AS (SELECT user_id, event_id, CAST(value AS DECIMAL(18,2)) AS v,
      |  CAST(ts AS TIMESTAMP) AS ts FROM events),
      |l AS (SELECT user_id, event_id, v, ts,
      |  CASE WHEN LAG(ts) OVER w IS NULL
      |        OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
      |       THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, v, ts,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid FROM l)
      |SELECT user_id, MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events, CAST(SUM(v) AS DOUBLE) AS total_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** OHLC downsampling: per event_type per hour, open/high/low/close
    * of `value` plus count and DECIMAL-exact total — the time-series
    * compaction (candlestick bars, metric rollups) every monitoring or
    * market pipeline runs as its first stage. ONE aggregate:
    * open/close are `min_by`/`max_by` over the deterministic
    * (ts, event_id) ordering key — (ts, event_id) is globally unique,
    * so the pick is exact, the same A1-argMax discipline the engine
    * uses everywhere — computed in the SAME aggregate as
    * high/low/count/sum.
    *
    * Scale shape: the r8 version shuffled the FULL fact onto
    * (type, hour) and ran two window passes before aggregating; this
    * shape partial-aggregates below the exchange, so the wire carries
    * bars, not events — the dominant cost at 100 TB. Spark plans the
    * struct-keyed min_by as a SortAggregate (a struct aggregation
    * buffer is not hash-aggregable), so a per-partition sort on the
    * two GROUP columns remains — cheaper than the window's
    * four-column sort, with no per-row window-frame evaluation, and
    * no Window node (SkewGraphSpec pins both properties plus the
    * bars-on-the-wire exchange position). The streaming twin is the
    * same groupBy under a watermark with the same min_by/max_by state.
    */
  def ohlcBars(s: SparkSession, dir: String): DataFrame = {
    val ordKey = struct(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bar_start"),
        col("value").as("v"), col("ts"), col("event_id"))
      .groupBy(col("event_type"), col("bar_start"))
      .agg(min_by(col("v"), ordKey).as("open"), max(col("v")).as("high"),
        min(col("v")).as("low"), max_by(col("v"), ordKey).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("v").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .orderBy(col("event_type"), col("bar_start"))
  }

  val ohlcBarsOracle: String =
    """WITH e AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar_start,
      |    "value" AS v, ts, event_id FROM events),
      |ww AS (SELECT event_type, bar_start, v,
      |    FIRST_VALUE(v) OVER w AS open,
      |    LAST_VALUE(v) OVER (PARTITION BY event_type, bar_start
      |      ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
      |  FROM e WINDOW w AS (PARTITION BY event_type, bar_start ORDER BY ts, event_id))
      |SELECT event_type, bar_start, MIN(open) AS open, MAX(v) AS high,
      |  MIN(v) AS low, MIN(close) AS close, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM ww GROUP BY event_type, bar_start
      |ORDER BY event_type, bar_start""".stripMargin

  /** First-order Markov transition matrix over per-user event
    * sequences: for each (from, to) event-type pair, the transition
    * count and probability — the session-flow model behind next-action
    * prediction, anomaly scoring, and product funnels beyond a fixed
    * step list. `lead` over the deterministic (ts, event_id) per-user
    * order pairs each event with its successor; the probability
    * denominator counts transitions LEAVING each type.
    *
    * Scale shape: one shuffle on user_id for the lead, one 5×5-cell
    * hash aggregate with map-side combine; the per-from totals ride a
    * window over the 25-row aggregate, not the fact.
    */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))
    counts
      .withColumn("p", round(col("n").cast(DoubleType) / sum(col("n")).over(wt), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  val transitionMatrixOracle: String =
    """WITH p AS (SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Top 3-step event paths: the most frequent (e₁ → e₂ → e₃)
    * type sequences across user histories — second-order sequence
    * mining one rung above [[transitionMatrix]]'s first-order pairs.
    * Two leads over the same per-user (ts, event_id) window produce
    * each consecutive triple in ONE window pass (no self-joins); the
    * top-10 is a TakeOrderedAndProject, never a global sort.
    */
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("step1"))
      .withColumn("step2", lead(col("step1"), 1).over(w))
      .withColumn("step3", lead(col("step1"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(10)
  }

  val topPathsOracle: String =
    """WITH t AS (SELECT event_type AS step1,
      |    LEAD(event_type, 1) OVER w AS step2,
      |    LEAD(event_type, 2) OVER w AS step3
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT step1, step2, step3, COUNT(*) AS n
      |FROM t WHERE step3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, step1, step2, step3 LIMIT 10""".stripMargin

  /** round(0.9^k * 1e6) for k = 0..7 — INTEGER literals, so both
    * engines weight with exactly the same constants (a float pow(0.9,k)
    * could differ in the last ulp and shift a rounded output).
    */
  private[graft] val EwmaWeights = Seq(1000000L, 900000L, 810000L, 729000L,
    656100L, 590490L, 531441L, 478297L)

  /** Exponentially-weighted moving average of `value` per user over
    * the deterministic (ts, event_id) order — the classic time-series
    * smoother (α = 0.1), in its FINITE-LOOKBACK form: the weight tail
    * beyond 8 steps is < 5% of the mass, and truncating it turns the
    * unbounded recurrence (which no engine-portable SQL can express
    * deterministically) into a fixed linear combination of lags with
    * integer weights — bit-stable across engines, and at the stream
    * head the normalizer shrinks to the available terms, so early rows
    * are true averages of what exists rather than biased toward zero.
    *
    * Scale shape: one shuffle on user_id, ONE window pass for all
    * eight lags (same frame), then a pure projection — no state
    * beyond the 8-row window, no second pass.
    *
    * ==Cross-engine float determinism policy (VERDICT r9 #7)==
    * This gate relies on NO cross-engine libm agreement at all: the
    * weights are integer literals (never `pow(0.9, k)`), and the
    * numerator/denominator are FIXED-ARITY, FIXED-ORDER chains of
    * double `*`/`+` — IEEE-754 requires both engines to produce the
    * identical bit pattern for the same operation sequence, and the
    * textual `w0*v + w1*l1 + ...` shape pins the same left-fold order
    * in Spark and DuckDB. `round(_, 6)` then makes even a hypothetical
    * ulp leak (e.g. an engine fusing into FMA) a measure-zero event:
    * a flip needs ~5e-7 relative disagreement vs ~1e-16 available.
    * The full recipe for float operators (decimal partials for
    * variable-arity sums, round-6 outputs, rank-over-rounded) is
    * documented at [[graft.queries.LlmCuration.dsirWeights]].
    */
  /** The EWMA projection over any (user_id, ts, event_id, v) relation —
    * shared by the batch gate and the streaming twin's parity spec.
    */
  private[graft] def ewmaOver(base: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagged = EwmaWeights.indices.tail.foldLeft(base)((df, k) =>
      df.withColumn(s"__l$k", lag(col("v"), k).over(w)))
    def term(k: Int) = if (k == 0) col("v") else col(s"__l$k")
    val num = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      when(term(k).isNotNull, term(k) * lit(wt.toDouble)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      when(term(k).isNotNull, lit(wt.toDouble)).otherwise(lit(0.0))
    }.reduce(_ + _)
    lagged.select(col("user_id"), col("ts"), col("event_id"),
      round(col("v"), 6).as("value"), round(num / den, 6).as("ewma"))
  }

  def ewmaSmooth(s: SparkSession, dir: String): DataFrame =
    ewmaOver(Tables.t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value").as("v")))
      .orderBy(col("user_id"), col("ts"), col("event_id"))

  val ewmaSmoothOracle: String = {
    val terms = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      val t = if (k == 0) "v" else s"lag(v, $k) OVER w"
      s"(CASE WHEN $t IS NOT NULL THEN $t * $wt.0 ELSE 0.0 END)"
    }
    val dens = EwmaWeights.zipWithIndex.map { case (wt, k) =>
      val t = if (k == 0) "v" else s"lag(v, $k) OVER w"
      s"(CASE WHEN $t IS NOT NULL THEN $wt.0 ELSE 0.0 END)"
    }
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
       |    "value" AS v FROM events)
       |SELECT user_id, ts, event_id, round(v, 6) AS value,
       |  round((${terms.mkString(" + ")}) /
       |        (${dens.mkString(" + ")}), 6) AS ewma
       |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, ts, event_id""".stripMargin
  }

  /** Seasonal-naive forecast evaluation per event type (the standard
    * forecasting baseline and the denominator of MASE, Hyndman &
    * Koehler 2006): hourly mean-value bars; forecast(t) = bar(t−24h)
    * (CALENDAR lag via a self-join on hour − 24h, not a row lag — a
    * missing hour must not shift the season); the naive baseline is
    * bar(t−1h). Per type: MAE of both forecasts over the hours where
    * both exist, and their ratio (MASE-style skill score — < 1 means
    * daily seasonality beats persistence). Bars are decimal-summed
    * means rounded to 6 dp BEFORE differencing, so every downstream
    * abs-difference is an exact operation on identical inputs in both
    * engines ([[LlmCuration.dsirWeights]] float policy).
    *
    * Scale shape: ONE hash aggregate collapses the fact to
    * types×hours bars; the two lag joins and the final aggregate run
    * on the bar relation (720 rows per type-month regardless of event
    * volume) — the fact is never touched again.
    */
  /** Hourly decimal-mean bars — the fact-collapsing first stage shared
    * by [[seasonalNaive]], [[cusumShift]], and [[lagAutocorr]].
    */
  private[graft] def hourlyBars(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(round(sum(col("value").cast(DecimalType(38, 12))).cast(DoubleType) /
        count(lit(1)), 6).as("bar"))

  def seasonalNaive(s: SparkSession, dir: String): DataFrame =
    seasonalNaiveRaw(s, dir)
      .select(col("event_type"), col("n_eval"),
        round(col("mn"), 6).as("mae_naive"),
        round(col("ms"), 6).as("mae_seasonal"),
        when(col("sum_m") > lit(0), round(col("mase0"), 6)).as("mase"))
      .orderBy(col("event_type"))

  /** Pre-round doubles — RoundingAuditSpec's probe surface. `mase0` is
    * the EXACT-sum ratio Σ|b−s| / Σ|b−n₁| (the shared n_eval cancels),
    * ONE double division from two exact decimals instead of the
    * division-of-divisions it replaced; the guard compares the exact
    * decimal `sum_m`, not a float.
    */
  private[graft] def seasonalNaiveRaw(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    // self-join of the bar relation: rename EVERY column on the lag
    // sides — shared attribute ids from the common `bars` plan make
    // qualified drops ambiguous
    val prev = bars.select(col("event_type").as("p_type"),
      col("hour").as("p_hour"), col("bar").as("naive"))
    val season = bars.select(col("event_type").as("s_type"),
      col("hour").as("s_hour"), col("bar").as("seasonal"))
    val joined = bars
      .join(prev, col("p_type") === col("event_type") &&
        col("p_hour") === col("hour") - expr("INTERVAL 1 HOUR"))
      .join(season, col("s_type") === col("event_type") &&
        col("s_hour") === col("hour") - expr("INTERVAL 24 HOURS"))
    val dsumAbs = (c: org.apache.spark.sql.Column) =>
      sum(abs(col("bar") - c).cast(DecimalType(38, 12)))
    joined.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        dsumAbs(col("naive")).as("sum_m"), dsumAbs(col("seasonal")).as("sum_s"))
      .select(col("event_type"), col("n_eval"), col("sum_m"),
        (col("sum_m").cast(DoubleType) / col("n_eval")).as("mn"),
        (col("sum_s").cast(DoubleType) / col("n_eval")).as("ms"),
        (col("sum_s").cast(DoubleType) / col("sum_m").cast(DoubleType)).as("mase0"))
  }

  /** Forecast-evaluation suite (Hyndman & Koehler 2006, "Another look
    * at measures of forecast accuracy") for the 24-hour seasonal
    * forecast of [[seasonalNaive]]: RMSE, MAPE (over nonzero-actual
    * bars, with its n reported), and sMAPE — the three accuracy
    * numbers an ops forecasting dashboard shows next to MASE (which
    * [[seasonalNaive]] already gates). Inputs are the round-6 bar
    * doubles (deterministic), per-bar terms cross identically in both
    * engines and sum through DECIMAL(38,12); a zero |b|+|s| sMAPE
    * denominator contributes an explicit 0 term (the Hyndman
    * convention, stated).
    *
    * Scale shape: [[hourlyBars]]'s calendar-bounded grid self-joined
    * on the 24-hour lag — everything downstream of one fact aggregate
    * is grid-sized.
    */
  def forecastEval(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val bars = hourlyBars(s, dir)
    val season = bars.select(col("event_type").as("s_type"),
      col("hour").as("s_hour"), col("bar").as("fc"))
    val joined = bars
      .join(season, col("s_type") === col("event_type") &&
        col("s_hour") === col("hour") - expr("INTERVAL 24 HOURS"))
    val err = col("bar") - col("fc")
    val smapeT = when(abs(col("bar")) + abs(col("fc")) > 0.0,
      lit(2.0) * abs(err) / (abs(col("bar")) + abs(col("fc"))))
      .otherwise(lit(0.0))
    joined.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum((err * err).cast(d12)).as("sse"),
        sum(when(abs(col("bar")) > 0.0, (abs(err) / abs(col("bar"))).cast(d12))
          .otherwise(lit(0.0).cast(d12))).as("sape"),
        sum(when(abs(col("bar")) > 0.0, 1L).otherwise(0L)).as("n_nz"),
        sum(smapeT.cast(d12)).as("ssmape"))
      .select(col("event_type"), col("n_eval"), col("n_nz"),
        round(sqrt(col("sse").cast(DoubleType) / col("n_eval")), 6).as("rmse"),
        round(col("sape").cast(DoubleType) / col("n_nz"), 6).as("mape"),
        round(col("ssmape").cast(DoubleType) / col("n_eval"), 6).as("smape"))
      .orderBy(col("event_type"))
  }

  val forecastEvalOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT b.event_type, b.bar, s.bar AS fc
      |  FROM bars b
      |  JOIN bars s ON s.event_type = b.event_type
      |    AND s.hour = b.hour - INTERVAL 24 HOUR),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_eval,
      |    SUM(CAST((bar - fc) * (bar - fc) AS DECIMAL(38,12))) AS sse,
      |    SUM(CASE WHEN abs(bar) > 0.0
      |      THEN CAST(abs(bar - fc) / abs(bar) AS DECIMAL(38,12))
      |      ELSE CAST(0.0 AS DECIMAL(38,12)) END) AS sape,
      |    SUM(CASE WHEN abs(bar) > 0.0 THEN 1 ELSE 0 END) AS n_nz,
      |    SUM(CAST(CASE WHEN abs(bar) + abs(fc) > 0.0
      |      THEN 2.0 * abs(bar - fc) / (abs(bar) + abs(fc))
      |      ELSE 0.0 END AS DECIMAL(38,12))) AS ssmape
      |  FROM j GROUP BY 1)
      |SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
      |  CAST(n_nz AS BIGINT) AS n_nz,
      |  round(sqrt(CAST(sse AS DOUBLE) / n_eval), 6) AS rmse,
      |  round(CAST(sape AS DOUBLE) / n_nz, 6) AS mape,
      |  round(CAST(ssmape AS DOUBLE) / n_eval, 6) AS smape
      |FROM m ORDER BY event_type""".stripMargin

  val seasonalNaiveOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT b.event_type, b.bar, p.bar AS naive, s.bar AS seasonal
      |  FROM bars b
      |  JOIN bars p ON p.event_type = b.event_type
      |    AND p.hour = b.hour - INTERVAL 1 HOUR
      |  JOIN bars s ON s.event_type = b.event_type
      |    AND s.hour = b.hour - INTERVAL 24 HOUR),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_eval,
      |    SUM(CAST(abs(bar - naive) AS DECIMAL(38,12))) AS sum_m,
      |    SUM(CAST(abs(bar - seasonal) AS DECIMAL(38,12))) AS sum_s
      |  FROM j GROUP BY 1)
      |SELECT event_type, n_eval,
      |  round(CAST(sum_m AS DOUBLE) / n_eval, 6) AS mae_naive,
      |  round(CAST(sum_s AS DOUBLE) / n_eval, 6) AS mae_seasonal,
      |  CASE WHEN sum_m > 0
      |    THEN round(CAST(sum_s AS DOUBLE) / CAST(sum_m AS DOUBLE), 6) END AS mase
      |FROM m ORDER BY event_type""".stripMargin

  /** CUSUM mean-shift LOCATOR per event type (Page 1954's cumulative
    * sum, in its retrospective change-point-estimation form): over the
    * hourly bar series, the hour t* maximizing |Σ_{i≤t}(b_i − mean)|
    * is the classic estimator of where a level shift happened, with
    * the normalized magnitude as the drift score — the batch audit
    * behind data-drift monitoring.
    *
    * INTEGER-EXACT throughout (float policy, [[LlmCuration.dsirWeights]]):
    * bars are fixed to micro-units (round(bar·1e6) → BIGINT), and the
    * deviation is scaled by the per-type bar count — dev_i = n·b6_i −
    * Σb6 — so the cumulative sum is a BIGINT fold with no division
    * before the final rounded magnitude. Cumulative double summation
    * would be summation-ORDER-dependent across engines; BIGINT isn't.
    *
    * Scale shape: one fact-collapsing aggregate to bars, one window
    * pass over the bar relation (types×hours rows), one rank —
    * nothing after the first aggregate touches the fact.
    */
  def cusumShift(s: SparkSession, dir: String): DataFrame =
    cusumOverBars(hourlyBars(s, dir))

  /** The locator over any (event_type, hour, bar) relation — shared by
    * the gate and the constructed-shift spec (CorpusOpsSpec plants a
    * known level shift and asserts the located hour).
    */
  private[graft] def cusumOverBars(barsIn: DataFrame): DataFrame = {
    val bars = barsIn.withColumn("b6", round(col("bar") * 1e6).cast(LongType))
    val tot = bars.groupBy(col("event_type").as("t_type"))
      .agg(sum(col("b6")).as("s6"), count(lit(1)).as("n"))
    val wcs = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cs = bars.join(tot, col("t_type") === col("event_type")).drop("t_type")
      .withColumn("dev", col("b6") * col("n") - col("s6"))
      .withColumn("cusum", sum(col("dev")).over(wcs))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(abs(col("cusum")).desc, col("hour"))
    cs.withColumn("rn", row_number().over(wr))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("hour").as("shift_hour"),
        round(abs(col("cusum")).cast(DoubleType) / (col("n") * 1e6), 6)
          .as("drift_mag"))
      .orderBy(col("event_type"))
  }

  val cusumShiftOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(round(round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) * 1e6) AS BIGINT) AS b6
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, SUM(b6) AS s6, COUNT(*) AS n
      |  FROM bars GROUP BY 1),
      |cs AS (
      |  SELECT b.event_type, b.hour,
      |    SUM(b.b6 * t.n - t.s6) OVER (PARTITION BY b.event_type
      |      ORDER BY b.hour ROWS UNBOUNDED PRECEDING) AS cusum, t.n
      |  FROM bars b JOIN tot t USING (event_type)),
      |r AS (
      |  SELECT event_type, hour, cusum, n,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(cusum) DESC, hour) AS rn
      |  FROM cs)
      |SELECT event_type, hour AS shift_hour,
      |  round(CAST(abs(cusum) AS DOUBLE) / (n * 1e6), 6) AS drift_mag
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** Page–Hinkley drift detector (Page 1954; Hinkley 1971) over the
    * hourly bar series per event type — the ONLINE mean-shift alarm
    * beside [[cusumShift]]'s offline locator: cusum centers on the
    * FULL-series mean (you must already have all the data); PH
    * centers each deviation on the RUNNING mean, which is what a
    * streaming monitor can actually compute at hour t. m_t =
    * Σ_{i≤t}(x_i − x̄_{1..i}); the alarm statistic PH_t = m_t −
    * min_{s≤t} m_s; this gate reports each type's peak PH and when
    * it occurred. Numeric discipline: x̄ is the only fractional term
    * — each per-row deviation is ONE fixed double expression cast to
    * DECIMAL(38,12), and the running Σ/min/argmax all happen in
    * exact decimal, so no float ordering ever enters a comparison
    * (the peak row is chosen by DECIMAL sort, not double).
    *
    * Scale shape: the hourly bar aggregate (one fact pass,
    * map-combined) then calendar-grid-sized windows per type — the
    * [[cusumShift]] regime exactly.
    */
  def pageHinkley(s: SparkSession, dir: String): DataFrame = {
    val t2 = pageHinkleyFrame(s, dir)
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("ph").desc, col("hour"))
    t2.withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_hours"),
        col("hour").as("ph_peak_hour"),
        round(col("ph").cast(DoubleType) / lit(1e6), 6).as("ph_bar"),
        round(col("ph").cast(DoubleType) * col("n").cast(DoubleType) /
          col("s6").cast(DoubleType), 6).as("ph_rel"))
      .orderBy(col("event_type"))
  }

  /** The per-hour PH frame the gate picks its peak from — shared with
    * [[pageHinkleyHours]], the streaming twin's parity target.
    */
  private[graft] def pageHinkleyFrame(s: SparkSession, dir: String): DataFrame = {
    val d12 = DecimalType(38, 12)
    val bars = hourlyBars(s, dir)
      .withColumn("b6", round(col("bar") * 1e6).cast(LongType))
    val tot = bars.groupBy(col("event_type").as("t_type"))
      .agg(sum(col("b6")).as("s6"), count(lit(1)).as("n"))
      .filter(col("s6") > 0)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val t1 = bars.join(tot, col("t_type") === col("event_type"))
      .drop("t_type")
      .withColumn("i", row_number().over(wOrd))
      .withColumn("sc", sum(col("b6")).over(wCum))
    val dev = (col("b6").cast(DoubleType) -
      col("sc").cast(DoubleType) / col("i").cast(DoubleType)).cast(d12)
    t1.withColumn("m", sum(dev).over(wCum))
      .withColumn("runmin", min(col("m")).over(wCum))
      .withColumn("ph", col("m") - col("runmin"))
  }

  /** Per-closed-hour PH emissions — what the streaming twin
    * ([[graft.streaming.EventsStream.pageHinkley]]) must reproduce
    * bit-for-bit on an AvailableNow replay (EventsStreamSpec parity).
    */
  private[graft] def pageHinkleyHours(s: SparkSession, dir: String): DataFrame =
    pageHinkleyFrame(s, dir)
      .select(col("event_type"), col("hour"), col("bar"),
        round(col("ph").cast(DoubleType) / lit(1e6), 6).as("ph_bar"))

  val pageHinkleyOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(round(round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) * 1e6) AS BIGINT) AS b6
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(b6) AS BIGINT) AS s6,
      |    COUNT(*) AS n
      |  FROM bars GROUP BY 1 HAVING SUM(b6) > 0),
      |t1 AS (
      |  SELECT b.event_type, b.hour, b.b6, t.s6, t.n,
      |    ROW_NUMBER() OVER w AS i,
      |    CAST(SUM(b.b6) OVER (PARTITION BY b.event_type ORDER BY b.hour
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sc
      |  FROM bars b JOIN tot t USING (event_type)
      |  WINDOW w AS (PARTITION BY b.event_type ORDER BY b.hour)),
      |t2 AS (
      |  SELECT *,
      |    SUM(CAST(CAST(b6 AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(i AS DOUBLE)
      |      AS DECIMAL(38,12))) OVER cum AS m
      |  FROM t1
      |  WINDOW cum AS (PARTITION BY event_type ORDER BY hour
      |    ROWS UNBOUNDED PRECEDING)),
      |t3 AS (
      |  SELECT *, m - MIN(m) OVER cum AS ph
      |  FROM t2
      |  WINDOW cum AS (PARTITION BY event_type ORDER BY hour
      |    ROWS UNBOUNDED PRECEDING)),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY ph DESC, hour) AS rn
      |  FROM t3)
      |SELECT event_type, CAST(n AS BIGINT) AS n_hours,
      |  hour AS ph_peak_hour,
      |  round(CAST(ph AS DOUBLE) / 1e6, 6) AS ph_bar,
      |  round(CAST(ph AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s6 AS DOUBLE), 6)
      |    AS ph_rel
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin

  private val AutocorrLags = Seq(1, 24)

  /** Lag-k AUTOCORRELATION of the hourly bar series per event type
    * (k = 1 and 24 — persistence and daily seasonality, the two
    * structure tests behind [[seasonalNaive]]'s skill score): Pearson
    * correlation of bar(t) with bar(t−k) over CALENDAR-lag pairs
    * (self-join on hour − k, as seasonalNaive — a missing hour must
    * not shift the alignment). The moments (Σx, Σy, Σxy, Σx², Σy²)
    * aggregate as DECIMAL — summation-order-independent — and r is
    * then one fixed-order double formula over the exact sums, the
    * same deterministic-OLS recipe as [[LlmCuration.zipfFit]]
    * (Spark's built-in `corr` accumulates doubles in partition order
    * and could not be cross-engine-gated).
    */
  def lagAutocorr(s: SparkSession, dir: String): DataFrame =
    lagAutocorrRaw(s, dir)
      .select(col("event_type"), col("lag"), col("n_pairs"),
        round(col("ac0"), 6).as("autocorr"))
      .orderBy(col("event_type"), col("lag"))

  /** Pre-round doubles — RoundingAuditSpec's probe surface. */
  private[graft] def lagAutocorrRaw(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    val lagged = bars.select(col("event_type").as("l_type"),
      col("hour").as("l_hour"), col("bar").as("y"))
    val pairs = AutocorrLags.map { k =>
      bars.join(lagged, col("l_type") === col("event_type") &&
          col("l_hour") === col("hour") - expr(s"INTERVAL $k HOURS"))
        .select(col("event_type"), lit(k).as("lag"), col("bar").as("x"), col("y"))
    }.reduce(_ unionByName _)
    val m = pairs.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("event_type"), col("lag"), col("n").cast("long").as("n_pairs"),
      (cov / sqrt(vx * vy)).as("ac0"))
  }

  val lagAutocorrOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT b.event_type, k.lag, b.bar AS x, l.bar AS y
      |  FROM (SELECT unnest([1, 24]) AS lag) k, bars b, bars l
      |  WHERE l.event_type = b.event_type
      |    AND l.hour = b.hour - CAST(k.lag AS INTEGER) * INTERVAL 1 HOUR),
      |m AS (SELECT event_type, lag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
      |  round((n * sxy - sx * sy)
      |    / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS autocorr
      |FROM m ORDER BY event_type, lag""".stripMargin

  /** Hourly QUANTILE bars per event type — the latency-percentile
    * downsample every observability pipeline runs (p50/p95/p99 per
    * bucket) beside [[ohlcBars]]' extremes: three exact interpolated
    * percentiles on the [[Pctl.dist]] histogram device, each ROUNDED
    * to 6 dp (rounding keeps interpolation ulps out of the hash
    * compare). The device's state is the per-bucket distinct-value
    * histogram — exact at any hourly volume, where the exact
    * `percentile` aggregate would buffer every value of the hour.
    */
  def hourlyQuantiles(s: SparkSession, dir: String): DataFrame = {
    // histogram-device percentiles (VERDICT r15 #2): a (type, hour)
    // group is unbounded at 100 TB/hour — exactly the group shape the
    // buffer-everything percentile aggregate must never see
    val e = Tables.t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("value"))
    Pctl.dist(e, Seq("event_type", "hour"), "value",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99),
        bounded = true, countAs = Some("n_events"))
      .select(col("event_type"), col("hour"), col("n_events"),
        col("p50"), col("p95"), col("p99"))
      .orderBy(col("event_type"), col("hour"))
  }

  val hourlyQuantilesOracle: String =
    s"""SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |  COUNT("value") AS n_events,
      |  ${Pctl.sql("\"value\"", 0.5)} AS p50,
      |  ${Pctl.sql("\"value\"", 0.95)} AS p95,
      |  ${Pctl.sql("\"value\"", 0.99)} AS p99
      |FROM events GROUP BY 1, 2
      |ORDER BY event_type, hour""".stripMargin

  /** Median/MAD ANOMALY SCREEN per event type (Hampel's robust outlier
    * identifier — Leys et al. 2013's recommended default over the
    * mean±kσ rule, which outliers themselves corrupt): per-type median
    * and median-absolute-deviation of the hourly bars, every bar
    * scored |bar − median| / MAD, flagged when the deviation exceeds
    * 3·MAD. All bars are emitted with their score (not just the
    * flagged ones) so downstream alerting can re-threshold without a
    * second pass, and so the gate is non-degenerate even on a quiet
    * series.
    *
    * Float policy ([[LlmCuration.dsirWeights]]): bars are round-6
    * means; the median of ≤744 rounded bars and the MAD are each
    * rounded to 6 before ANY comparison, so the flag and the score
    * compare identical doubles on both engines (exact interpolated
    * percentile parity is already gated by `fn_percentile_suite`).
    *
    * Scale shape: one fact-collapsing hash aggregate to bars; both
    * percentile aggregates and the scoring join run on the bar
    * relation (types × hours), never the fact. At 100 TB the medians
    * swap to approx_percentile — same two-aggregate shape, sketch
    * state.
    */
  def madAnomaly(s: SparkSession, dir: String): DataFrame = {
    // r17: both medians ride the bounded percentile device (the bar
    // relation is calendar-bounded — ≤744 rows/type at any corpus
    // size), so the buffering `percentile` aggregate is gone from
    // this gate too; same round-6 values by PctlDistSpec bit-equality.
    // DELIBERATELY NOT pinned (measured): the three
    // bars consumers repeat the IDENTICAL hourly aggregate, whose
    // shuffle ReuseExchange already deduplicates within the one
    // action — the fact is scanned once as-is, and adding the persist
    // measured 1.9× slower (0.82 → 1.53 s). Contrast outlierBounds,
    // whose three fact passes are structurally DIFFERENT subplans
    // (post-join aggregates) that ReuseExchange cannot unify — there
    // the pinned histogram IS the one-fact-pass repair.
    val bars = hourlyBars(s, dir)
    val med = Pctl.dist(
      bars.select(col("event_type").as("m_type"), col("bar")),
      Seq("m_type"), "bar", Seq("med" -> 0.5), bounded = true)
    val dev = bars.join(med, col("m_type") === col("event_type")).drop("m_type")
      .withColumn("dev", round(abs(col("bar") - col("med")), 6))
    val mad = Pctl.dist(
      dev.select(col("event_type").as("d_type"), col("dev")),
      Seq("d_type"), "dev", Seq("mad" -> 0.5), bounded = true)
    dev.join(mad, col("d_type") === col("event_type")).drop("d_type")
      .select(col("event_type"), col("hour"), col("bar"), col("med"), col("mad"),
        when(col("mad") > 0, round(col("dev") / col("mad"), 6)).as("score"),
        (col("dev") > col("mad") * 3).as("is_anomaly"))
      .orderBy(col("event_type"), col("hour"))
  }

  val madAnomalyOracle: String =
    s"""WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |med AS (SELECT event_type, ${Pctl.sql("bar", 0.5)} AS med
      |  FROM bars GROUP BY 1),
      |dev AS (
      |  SELECT b.event_type, b.hour, b.bar, m.med,
      |    round(abs(b.bar - m.med), 6) AS dev
      |  FROM bars b JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, ${Pctl.sql("dev", 0.5)} AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, d.hour, d.bar, d.med, a.mad,
      |  CASE WHEN a.mad > 0 THEN round(d.dev / a.mad, 6) END AS score,
      |  (d.dev > a.mad * 3) AS is_anomaly
      |FROM dev d JOIN mad a USING (event_type)
      |ORDER BY d.event_type, d.hour""".stripMargin

  /** Per-user-day TIME-WEIGHTED average value (TWAP — the standard
    * market-data bar statistic, and the correct mean whenever samples
    * arrive irregularly: an arithmetic mean over-weights bursts; the
    * time-weighted one weights each observation by how long it was
    * "in force", i.e. until the next observation). Each event's weight
    * is the integer microsecond gap to the user's next event that day
    * (lead over (ts, event_id) — the id breaks timestamp ties
    * identically on both engines); the day's last event has no
    * successor and drops out, exactly the bar-close convention.
    *
    * Float policy ([[graft.queries.LlmCuration.dsirWeights]]): values
    * are exact micro-units (round(value·1e6) → BIGINT), weights exact
    * micros; the weighted sum multiplies DECIMAL(38,0)×BIGINT (a
    * BIGINT product can overflow at day-scale gaps: 8.6e10 µs × 4.9e8
    * micro-units ≈ 4e19 > 2^63) and divides once in double.
    * Degenerate all-zero-span days (every event at the same µs) are
    * filtered relationally on both engines, so the ANSI division
    * can't trap.
    *
    * Scale shape: one fact-sized window partitioned by (user, day) —
    * the streaming-friendly partitioning: state per key is one lag —
    * then a map-combined hash aggregate to user-days. No global sort,
    * no second fact pass. The streaming twin of this shape is a
    * flatMapGroupsWithState carrying the previous event per user
    * ([[graft.streaming.EventsStream]] EWMA pattern).
    */
  def twap(s: SparkSession, dir: String): DataFrame =
    twapOver(Tables.t(s, dir, "events"))

  /** [[twap]] body over any (user_id, ts, event_id, value) relation —
    * the shared projection the streaming twin replays
    * ([[graft.streaming.EventsStream]] twapDaily; EventsStreamSpec
    * parity).
    */
  private[graft] def twapOver(ev: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    ev
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), round(col("value") * 1000000).cast(LongType).as("vm"))
      .withColumn("dur_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur_us").cast(DecimalType(38, 0))).cast(LongType).as("span_us"),
        sum(col("vm").cast(DecimalType(38, 0)) * col("dur_us")).as("wsum"))
      .filter(col("span_us") > 0)
      .select(col("user_id"), col("day"), col("n_intervals"), col("span_us"),
        round(col("wsum").cast(DoubleType) / col("span_us").cast(DoubleType)
          / 1000000.0, 6).as("twap"))
      .orderBy(col("user_id"), col("day"))
  }

  val twapOracle: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
      |    CAST(round("value" * 1000000) AS BIGINT) AS vm
      |  FROM events),
      |gaps AS (
      |  SELECT user_id, day, vm,
      |    epoch_us(lead(ts) OVER (PARTITION BY user_id, day
      |      ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
      |  FROM e),
      |agg AS (
      |  SELECT user_id, day, COUNT(*) AS n_intervals,
      |    CAST(SUM(dur_us) AS BIGINT) AS span_us,
      |    SUM(CAST(vm AS DECIMAL(38,0)) * dur_us) AS wsum
      |  FROM gaps WHERE dur_us IS NOT NULL GROUP BY 1, 2)
      |SELECT user_id, day, n_intervals, span_us,
      |  round(CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE)
      |    / 1000000.0, 6) AS twap
      |FROM agg WHERE span_us > 0
      |ORDER BY user_id, day""".stripMargin

  private val CorrMaxLag = 48

  /** Full correlogram + dominant-period detection per event type —
    * [[lagAutocorr]]'s two spot-checked lags generalized to the whole
    * ACF over lags 2..[[CorrMaxLag]] in ONE range self-join of the
    * hourly-bar relation (lag = the integer hour difference, so 47
    * per-lag joins collapse into one equi-join-on-type + band
    * filter), with the dominant seasonality read off as the argmax
    * lag (rank over round-9 autocorrelation, smallest lag on ties —
    * the Box–Jenkins period-identification step, lag 1 excluded as
    * trivially autocorrelated). Moment sums per (type, lag) ride
    * DECIMAL(38,12) over the round-6 bars; one double crossing per
    * coefficient (the lagAutocorr float discipline).
    *
    * Scale shape: the fact collapses to calendar-bounded bars first;
    * the self-join fans each bar to ≤ [[CorrMaxLag]] pairs (grid ×
    * 48, never fact-sized), one hash aggregate to the (type, lag)
    * grid, and the argmax is a per-type WindowGroupLimit over ≤47
    * rows.
    */
  def correlogram(s: SparkSession, dir: String): DataFrame = {
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(round(col("ac0"), 9).desc, col("lag"))
    correlogramRaw(s, dir)
      .withColumn("best_rank", row_number().over(wBest))
      .select(col("event_type"), col("lag").cast(LongType).as("lag"),
        col("n").cast(LongType).as("n_pairs"),
        round(col("ac0"), 6).as("autocorr"),
        (col("best_rank") === 1).as("is_dominant_period"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Pre-round doubles (`ac0` feeds BOTH the round-6 output and the
    * round-9 dominant-period rank) — RoundingAuditSpec's probe surface.
    */
  private[graft] def correlogramRaw(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    val lagged = bars.select(col("event_type").as("l_type"),
      col("hour").as("l_hour"), col("bar").as("y"))
    val lag = ((unix_micros(col("l_hour")) - unix_micros(col("hour")))
      / lit(3600000000L)).cast(IntegerType)
    val pairs = bars.join(lagged,
        col("l_type") === col("event_type") &&
          col("l_hour") > col("hour") &&
          col("l_hour") <= col("hour") + expr(s"INTERVAL $CorrMaxLag HOURS"))
      .select(col("event_type"), lag.as("lag"), col("bar").as("x"), col("y"))
      .filter(col("lag") >= 2)
    val m = pairs.groupBy(col("event_type"), col("lag")).agg(
      count(lit(1)).cast(DoubleType).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("y") * col("y")).as("syy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.withColumn("ac0", cov / sqrt(vx * vy))
  }

  val correlogramOracle: String =
    s"""WITH bars AS (
       |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
       |      / COUNT(*), 6) AS bar
       |  FROM events GROUP BY 1, 2),
       |pairs AS (
       |  SELECT b.event_type,
       |    CAST((epoch_us(l.hour) - epoch_us(b.hour)) / 3600000000 AS INT) AS lag,
       |    b.bar AS x, l.bar AS y
       |  FROM bars b JOIN bars l ON l.event_type = b.event_type
       |    AND l.hour > b.hour
       |    AND l.hour <= b.hour + INTERVAL $CorrMaxLag HOUR),
       |fp AS (SELECT * FROM pairs WHERE lag >= 2),
       |m AS (
       |  SELECT event_type, lag, CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
       |  FROM fp GROUP BY 1, 2),
       |acf AS (
       |  SELECT event_type, lag, n,
       |    (n * sxy - sx * sy)
       |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS ac0
       |  FROM m)
       |SELECT event_type, CAST(lag AS BIGINT) AS lag,
       |  CAST(n AS BIGINT) AS n_pairs, round(ac0, 6) AS autocorr,
       |  (ROW_NUMBER() OVER (PARTITION BY event_type
       |    ORDER BY round(ac0, 9) DESC, lag) = 1) AS is_dominant_period
       |FROM acf ORDER BY event_type, lag""".stripMargin

  /** XmR individuals control chart (Shewhart 1931; Wheeler's
    * process-behaviour chart — the SPC screen an ops team keeps on
    * every hourly metric): per event type, the natural process limits
    * are mean(bar) ± 2.66·mean(moving range), where the moving range
    * is |bar_t − bar_{t−1}| over consecutive hours and 2.66 is the
    * standard d₂-derived constant for n=2 subgroups (a round-6
    * literal — no query-time lookup table). Every bar is emitted with
    * its range, both limits, and the out-of-control flag, so alerting
    * can re-threshold without a second pass ([[madAnomaly]]'s
    * convention; this is its MEMORYFUL sibling — MAD flags level
    * outliers, XmR flags jumps relative to recent hour-to-hour
    * variation).
    *
    * Determinism: bars are round-6; the lag window orders by the
    * hour key; both means ride DECIMAL(38,12) sums with one double
    * crossing; limits are rounded to 6 BEFORE the flag comparison so
    * a last-ulp disagreement can't flip a boundary bar.
    *
    * Scale shape: fact → calendar-bounded bars, one per-type lag
    * window + two window means on the bar grid. Nothing after the
    * first aggregate is fact-sized.
    */
  def controlChart(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    def dmean(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(38, 12))).over(wAll).cast(DoubleType) /
        n.cast(DoubleType)
    val withMr = hourlyBars(s, dir)
      .withColumn("mr", round(abs(col("bar") - lag(col("bar"), 1).over(w)), 6))
    val mean = dmean(col("bar"), count(lit(1)).over(wAll))
    val meanMr = dmean(col("mr"), count(col("mr")).over(wAll))
    withMr
      .withColumn("ucl", round(mean + lit(2.66) * meanMr, 6))
      .withColumn("lcl", round(mean - lit(2.66) * meanMr, 6))
      .select(col("event_type"), col("hour"), col("bar"), col("mr"),
        col("ucl"), col("lcl"),
        (col("bar") > col("ucl") || col("bar") < col("lcl"))
          .as("out_of_control"))
      .orderBy(col("event_type"), col("hour"))
  }

  val controlChartOracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |mr AS (
      |  SELECT event_type, hour, bar,
      |    round(abs(bar - lag(bar) OVER (PARTITION BY event_type
      |      ORDER BY hour)), 6) AS mr
      |  FROM bars),
      |lim AS (
      |  SELECT event_type, hour, bar, mr,
      |    round(CAST(SUM(CAST(bar AS DECIMAL(38,12)))
      |        OVER (PARTITION BY event_type) AS DOUBLE)
      |      / CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE)
      |      + 2.66 * (CAST(SUM(CAST(mr AS DECIMAL(38,12)))
      |          OVER (PARTITION BY event_type) AS DOUBLE)
      |        / CAST(COUNT(mr) OVER (PARTITION BY event_type) AS DOUBLE)),
      |      6) AS ucl,
      |    round(CAST(SUM(CAST(bar AS DECIMAL(38,12)))
      |        OVER (PARTITION BY event_type) AS DOUBLE)
      |      / CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE)
      |      - 2.66 * (CAST(SUM(CAST(mr AS DECIMAL(38,12)))
      |          OVER (PARTITION BY event_type) AS DOUBLE)
      |        / CAST(COUNT(mr) OVER (PARTITION BY event_type) AS DOUBLE)),
      |      6) AS lcl
      |  FROM mr)
      |SELECT event_type, hour, bar, mr, ucl, lcl,
      |  (bar > ucl OR bar < lcl) AS out_of_control
      |FROM lim ORDER BY event_type, hour""".stripMargin

  /** Mann–Kendall trend test + Theil–Sen slope per event type (Mann
    * 1945 / Kendall 1975; Sen 1968 — the standard nonparametric
    * "is this metric drifting" pair in environmental/ops monitoring,
    * robust where OLS-on-time is outlier-dominated): over the hourly
    * bars, S = Σ_{i<j} sign(bar_j − bar_i) is an exact INTEGER; the
    * variance carries the value-tie correction
    * (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18 with the numerator exact and
    * ONE /18.0 double division; z applies the ±1 continuity
    * correction relationally. The Sen slope is the exact median of
    * the pairwise slopes (percentile parity between the engines is
    * already gated by `fn_percentile_suite`).
    *
    * Scale shape: the fact collapses to calendar-bounded bars; the
    * i<j self-join is bar-grid-quadratic (≤ 720²/2 per type at ANY
    * corpus size — time-bounded, not data-bounded), one aggregate to
    * the per-type row. At 100 TB nothing here grows except the first
    * aggregate.
    */
  def trendMk(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
      .withColumn("h", expr("unix_micros(hour) DIV 3600000000"))
    val rhs = bars.select(col("event_type").as("r_type"),
      col("h").as("rh"), col("bar").as("rb"))
    // branch-guarded division (the ops_sen_slope ANSI lesson): the
    // device's not-null filter can merge into the join residual ahead
    // of rh > h, and ANSI float division by zero throws
    // the pair join is keyed ONLY by event_type (|types| partitions,
    // AQE-coalesced further on the tiny bar grid), so the calendar²
    // pair fan AND the percentile partial buffering it feeds ran in
    // 1-4 tasks (r18 profile: a 1.4 s one-task partial-aggregate
    // stage). Respread on (type, rh) — grid-sized keys — so the
    // buffering parallelizes; Percentile merges partial buffers
    // order-independently, so results are unchanged.
    val pairs = bars.join(rhs,
        col("r_type") === col("event_type") && col("rh") > col("h"))
      .transform(d => graft.operators.Spread.byKey(d, concat_ws(":", col("event_type"), col("rh"))))
      .select(col("event_type"),
        signum(col("rb") - col("bar")).cast(LongType).as("sgn"),
        when(col("rh") =!= col("h"),
          (col("rb") - col("bar")) / (col("rh") - col("h")).cast(DoubleType))
          .as("slope"))
    // the buffering `percentile` aggregate is the RIGHT device here
    // and stays (r17 measured the histogram devices ~1.8× slower on
    // this shape): the pair relation is calendar²-bounded (≤ 744²/2
    // per type at ANY corpus size), so the buffer is grid-sized —
    // exactly the class the PlanAuditSpec census pins
    val sAgg = pairs.groupBy(col("event_type"))
      .agg(sum(col("sgn")).as("s_stat"),
        Pctl.p("slope", 0.5).as("sen_slope"))
    val ties = hourlyBars(s, dir).groupBy(col("event_type"), col("bar"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(LongType).as("n_distinct"),
        sum(col("t")).as("n_bars"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    val n = col("n_bars")
    val varNum = (n * (n - 1) * (lit(2) * n + 5) - col("tie_term"))
      .cast(DoubleType)
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1).cast(DoubleType) / sqrt(varNum / 18.0))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1).cast(DoubleType) / sqrt(varNum / 18.0))
      .otherwise(lit(0.0))
    sAgg.join(ties, "event_type")
      .select(col("event_type"), col("n_bars"), col("s_stat"),
        round(z, 6).as("z_score"), col("sen_slope"))
      .orderBy(col("event_type"))
  }

  val trendMkOracle: String =
    s"""WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) AS bar
      |  FROM events GROUP BY 1, 2),
      |hb AS (SELECT event_type, epoch_us(hour) // 3600000000 AS h, bar
      |  FROM bars),
      |pairs AS (
      |  SELECT a.event_type,
      |    CAST(sign(b.bar - a.bar) AS BIGINT) AS sgn,
      |    (b.bar - a.bar) / CAST(b.h - a.h AS DOUBLE) AS slope
      |  FROM hb a JOIN hb b ON b.event_type = a.event_type AND b.h > a.h),
      |sagg AS (
      |  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat,
      |    ${Pctl.sql("slope", 0.5)} AS sen_slope
      |  FROM pairs GROUP BY 1),
      |ties AS (
      |  SELECT event_type, CAST(SUM(t) AS BIGINT) AS n_bars,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, bar, COUNT(*) AS t FROM hb GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT s.event_type, t.n_bars, s.s_stat,
      |  round(CASE
      |    WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE)
      |      / sqrt(CAST(t.n_bars * (t.n_bars - 1) * (2 * t.n_bars + 5)
      |          - t.tie_term AS DOUBLE) / 18.0)
      |    WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE)
      |      / sqrt(CAST(t.n_bars * (t.n_bars - 1) * (2 * t.n_bars + 5)
      |          - t.tie_term AS DOUBLE) / 18.0)
      |    ELSE 0.0 END, 6) AS z_score,
      |  s.sen_slope
      |FROM sagg s JOIN ties t USING (event_type)
      |ORDER BY s.event_type""".stripMargin

  /** Peak concurrent sessions per day — the capacity-planning sweep
    * (the classic interval-scheduling +1/−1 boundary walk): each
    * gap-session ([[sessionizeEvents]]'s 30-min construction)
    * contributes a +1 at its start and a −1 at its end; the running
    * sum over the boundary stream IS the live concurrency, and the
    * per-day maximum (with the earliest timestamp attaining it) is
    * what an on-call dashboard shows. Sessions are CLOSED intervals
    * (the end is the last event's timestamp, when the session is
    * still live), so simultaneous boundaries order starts before
    * ends — a zero-length single-event session registers concurrency
    * 1 at its instant and the running sum never dips negative.
    *
    * Scale shape — the part that matters at 100 TB: a naive running
    * sum is ONE global ordered window (single reducer). This
    * implementation uses the two-level PREFIX-SUM decomposition
    * instead: a per-day ordered running sum (partitioned window) plus
    * a day-level carry (the cumulative sum of per-day boundary
    * totals, a window over the tiny day relation joined back) — the
    * standard scalable scan shape, exactly reproduced by the oracle.
    */
  def concurrency(s: SparkSession, dir: String): DataFrame = {
    val sessions = sessionizeEvents(Tables.t(s, dir, "events"))
    val bounds = sessions
      .select(col("user_id"), col("session_start").as("bts"), lit(1L).as("delta"))
      .unionByName(sessions.select(col("user_id"),
        col("session_end").as("bts"), lit(-1L).as("delta")))
      .withColumn("day", to_date(col("bts")))
    val wDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day"))
      .orderBy(col("bts"), col("delta").desc, col("user_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val dayTotals = bounds.groupBy(col("day")).agg(sum(col("delta")).as("dtot"))
    val wCarry = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val carry = dayTotals
      .withColumn("carry", coalesce(sum(col("dtot")).over(wCarry), lit(0L)))
      .select(col("day"), col("carry"))
    bounds
      .withColumn("prefix", sum(col("delta")).over(wDay))
      .join(carry, "day")
      .withColumn("running", col("carry") + col("prefix"))
      .withColumn("pk", max(col("running")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
      .groupBy(col("day"))
      .agg(max(col("running")).as("peak_concurrency"),
        min(when(col("running") === col("pk"), col("bts"))).as("peak_ts"),
        sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_sessions_started"))
      .orderBy(col("day"))
  }

  val concurrencyOracle: String =
    s"""WITH w AS (
       |  SELECT user_id, ts, event_id, "value",
       |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      IS NULL OR epoch_us(ts) - epoch_us(lag(ts)
       |        OVER (PARTITION BY user_id ORDER BY ts, event_id)) > $GapUs
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM events),
       |sid AS (
       |  SELECT user_id, ts,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM w),
       |sessions AS (
       |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
       |  FROM sid GROUP BY user_id, sid),
       |bounds AS (
       |  SELECT user_id, session_start AS bts, CAST(1 AS BIGINT) AS delta,
       |    CAST(session_start AS DATE) AS day FROM sessions
       |  UNION ALL
       |  SELECT user_id, session_end AS bts, CAST(-1 AS BIGINT) AS delta,
       |    CAST(session_end AS DATE) AS day FROM sessions),
       |daytot AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS dtot
       |  FROM bounds GROUP BY 1),
       |carry AS (
       |  SELECT day, CAST(COALESCE(SUM(dtot) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS carry
       |  FROM daytot),
       |run AS (
       |  SELECT b.day, b.bts, b.delta,
       |    c.carry + CAST(SUM(b.delta) OVER (PARTITION BY b.day
       |      ORDER BY b.bts, b.delta DESC, b.user_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS running
       |  FROM bounds b JOIN carry c USING (day)),
       |peaks AS (
       |  SELECT day, MAX(running) OVER (PARTITION BY day) AS pk,
       |    running, bts, delta
       |  FROM run)
       |SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrency,
       |  MIN(CASE WHEN running = pk THEN bts END) AS peak_ts,
       |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sessions_started
       |FROM peaks GROUP BY day ORDER BY day""".stripMargin

  /** Wald–Wolfowitz runs test on the hourly bars per event type (the
    * classic one-sample randomness screen, the memoryless complement
    * of [[trendMk]]: MK detects monotone drift, the runs test detects
    * clustering/oscillation of ANY shape): bars dichotomize against
    * the per-type round-6 median (ties-with-median dropped, the
    * standard treatment), R = number of sign runs in hour order, and
    * the normal approximation z = (R − E[R]) / √Var[R] with
    * E[R] = 2·n₁·n₂/n + 1 and the Wald–Wolfowitz variance.
    *
    * Float policy: R, n₁, n₂ are exact integers; E's and Var's
    * numerators/denominators are exact BIGINT products, each crossing
    * to double in ONE division; z composes those with one sqrt and one
    * division (the [[graft.queries.Graph.assortativity]] shape — no
    * a−b·c fusion hazard). The z numerator R·n − 2n₁n₂ − n is carried
    * as an exact integer.
    *
    * Scale shape: fact → calendar-bounded bars, one percentile + one
    * lag window + one aggregate on the bar grid. Nothing after the
    * first aggregate is fact-sized.
    */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    // r17: the median rides the bounded percentile device (calendar-
    // bounded bar relation) — see madAnomaly
    val bars = hourlyBars(s, dir)
    val med = Pctl.dist(
      bars.select(col("event_type").as("m_type"), col("bar")),
      Seq("m_type"), "bar", Seq("med" -> 0.5), bounded = true)
    val signed = bars.join(med, col("m_type") === col("event_type"))
      .filter(col("bar") =!= col("med"))
      .select(col("event_type"), col("hour"),
        when(col("bar") > col("med"), 1L).otherwise(0L).as("sgn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    val m = signed
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(w).isNull, 1L)
          .when(col("sgn") =!= lag(col("sgn"), 1).over(w), 1L)
          .otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("chg")).as("n_runs"), sum(col("sgn")).as("n_above"),
        (count(lit(1)) - sum(col("sgn"))).as("n_below"),
        count(lit(1)).as("n"))
    val two = col("n_above") * col("n_below") * 2L
    val eNum = two + col("n")                        // E[R]·n, exact
    val varNum = two * (two - col("n"))              // Var·n²(n−1), exact
    val varDen = col("n") * col("n") * (col("n") - 1L)
    val zNum = (col("n_runs") * col("n") - eNum).cast(DoubleType)
    val z = zNum / (col("n").cast(DoubleType) *
      sqrt(varNum.cast(DoubleType) / varDen.cast(DoubleType)))
    m.filter(col("n_above") > 0 && col("n_below") > 0)
      .select(col("event_type"), col("n_runs"), col("n_above"), col("n_below"),
        round(eNum.cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("expected_runs"),
        round(z, 6).as("z_score"))
      .orderBy(col("event_type"))
  }

  val runsTestOracle: String =
    s"""WITH bars AS (
       |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
       |      / COUNT(*), 6) AS bar
       |  FROM events GROUP BY 1, 2),
       |med AS (SELECT event_type, ${Pctl.sql("bar", 0.5)} AS med
       |  FROM bars GROUP BY 1),
       |signed AS (
       |  SELECT b.event_type, b.hour,
       |    CASE WHEN b.bar > m.med THEN 1 ELSE 0 END AS sgn
       |  FROM bars b JOIN med m USING (event_type)
       |  WHERE b.bar <> m.med),
       |chg AS (
       |  SELECT event_type, sgn,
       |    CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY hour)
       |        IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS chg
       |  FROM signed),
       |m AS (
       |  SELECT event_type, CAST(SUM(chg) AS BIGINT) AS n_runs,
       |    CAST(SUM(sgn) AS BIGINT) AS n_above,
       |    CAST(COUNT(*) - SUM(sgn) AS BIGINT) AS n_below,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM chg GROUP BY 1)
       |SELECT event_type, n_runs, n_above, n_below,
       |  round(CAST(2 * n_above * n_below + n AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS expected_runs,
       |  round(CAST(n_runs * n - (2 * n_above * n_below + n) AS DOUBLE)
       |    / (CAST(n AS DOUBLE)
       |      * sqrt(CAST(2 * n_above * n_below
       |            * (2 * n_above * n_below - n) AS DOUBLE)
       |          / CAST(n * n * (n - 1) AS DOUBLE))), 6) AS z_score
       |FROM m WHERE n_above > 0 AND n_below > 0
       |ORDER BY event_type""".stripMargin

  private val RollWindowH = 24

  /** Rolling trailing-24h p95 of the hourly bars per event type — the
    * SLO-burn baseline every alerting stack keeps beside the static
    * [[hourlyQuantiles]]: each hour's threshold adapts to the last day
    * of behaviour. The window is a CALENDAR range (bars b ⋈ bars l on
    * (b.hour−23h, b.hour]) so missing hours never stretch the window —
    * the [[seasonalNaive]] calendar-lag discipline, generalized from
    * one lag to a band. Percentiles via [[Pctl]]; also emits the
    * window's actual row count so downstream can discount thin
    * windows at the stream head.
    *
    * Scale shape: the fact collapses to bars first; the band self-join
    * fans each bar to ≤ [[RollWindowH]] rows (grid × 24, never
    * fact-sized) and one hash aggregate lands back on the grid.
    */
  /** Round-13 exactness rewrite (the sf0.1 verify sweep caught two
    * one-ulp flips): the windowed bars are exact 6-dp values, so the
    * percentile interpolation runs ENTIRELY in micro-unit BIGINT —
    * pos = (n−1)·0.95 scaled to hundredths, two integer products, and
    * the `(2v + 100) DIV 200` HALF_UP round — instead of Spark's
    * double two-product form, whose last-ulp could straddle a HALF
    * boundary differently per engine. The interpolated rational is
    * identical ((100−rem)·lo + rem·hi over 100·10⁶); only its
    * representation changed. The streaming twin mirrors the same
    * integer arithmetic, keeping the bit-parity replay contract.
    */
  def rollingP95(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
    val lagged = bars.select(col("event_type").as("l_type"),
      col("hour").as("l_hour"),
      round(col("bar") * 1000000).cast(LongType).as("l_m"))
    bars.join(lagged,
        col("l_type") === col("event_type") &&
          col("l_hour") <= col("hour") &&
          col("l_hour") > col("hour") - expr(s"INTERVAL $RollWindowH HOURS"))
      .groupBy(col("event_type"), col("hour"), col("bar"))
      .agg(count(lit(1)).as("n_window"),
        sort_array(collect_list(col("l_m"))).as("arr"))
      .withColumn("n", size(col("arr")))
      .withColumn("p", (col("n") - 1) * 95)
      .withColumn("lw", expr("p DIV 100").cast(IntegerType))
      .withColumn("rem", (col("p") - col("lw") * 100).cast(LongType))
      .withColumn("lo", element_at(col("arr"), col("lw") + 1))
      .withColumn("hi", element_at(col("arr"),
        least(col("lw") + lit(2), col("n"))))
      .withColumn("v", col("lo") * (lit(100L) - col("rem")) +
        col("hi") * col("rem"))
      .select(col("event_type"), col("hour"), col("bar"), col("n_window"),
        (expr("(2 * v + 100) DIV 200").cast(DoubleType) / 1000000.0)
          .as("p95_24h"))
      .orderBy(col("event_type"), col("hour"))
  }

  val rollingP95Oracle: String =
    s"""WITH bars AS (
       |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |    round(CAST(SUM(CAST("value" AS DECIMAL(38,12))) AS DOUBLE)
       |      / COUNT(*), 6) AS bar
       |  FROM events GROUP BY 1, 2),
       |w AS (
       |  SELECT b.event_type, b.hour, b.bar, COUNT(*) AS n_window,
       |    list(CAST(round(l.bar * 1000000) AS BIGINT)
       |      ORDER BY round(l.bar * 1000000)) AS arr
       |  FROM bars b JOIN bars l ON l.event_type = b.event_type
       |    AND l.hour <= b.hour AND l.hour > b.hour - INTERVAL $RollWindowH HOUR
       |  GROUP BY 1, 2, 3),
       |c AS (
       |  SELECT *, len(arr) AS n, (len(arr) - 1) * 95 AS p FROM w),
       |d AS (
       |  SELECT *, p // 100 AS lw, p - (p // 100) * 100 AS rem FROM c)
       |SELECT event_type, hour, bar, n_window,
       |  CAST((2 * (arr[lw + 1] * (100 - rem)
       |    + arr[LEAST(lw + 2, n)] * rem) + 100) // 200 AS DOUBLE)
       |    / 1000000.0 AS p95_24h
       |FROM d ORDER BY event_type, hour""".stripMargin

  /** POSITION-BASED (U-shaped) multi-touch attribution over the
    * view→purchase touchpoints [[attributionBatch]] emits raw: the
    * first and last touch in the 30-minute window earn 40% each, the
    * middles split the remaining 20% — the standard marketing-science
    * compromise between first-touch and last-touch bias (k = 1 → 100%,
    * k = 2 → 50/50). Credits are EXACT integer ratios — numerator 2
    * over 5 for the ends, 1 over 5·(k−2) for middles — rounded once at
    * 6 dp (a single integer division; the repo float policy).
    *
    * Scale shape: the touch join is [[attributionBatch]]'s interval
    * join; position/count ride one window over the per-purchase touch
    * list (≤ window-bounded touches per purchase), and the credit is a
    * projection. Nothing beyond the touch relation is materialized.
    */
  // Shapley channels and their bitmask values — view/click/signup/error
  // touches; purchase is the OUTCOME, not a player
  private val ShapChannels = Seq(("view", 1L), ("click", 2L),
    ("signup", 4L), ("error", 8L))
  // |S|!·(n−1−|S|)! for n = 4 players, |S| = 0..3; denominator n! = 24
  private val ShapW = Seq(6L, 2L, 2L, 6L)

  /** Exact Shapley-value channel attribution (Shapley 1953; the
    * data-driven attribution model ad platforms ship as the principled
    * alternative to last-touch/U-shaped — see [[attributionBatch]] /
    * [[attribPosition]] for those baselines): players are the four
    * touch channels, a user's journey is the SET of channels they
    * touched, and the coalition value v(S) counts conversions whose
    * journey is covered by S (v is monotone; v(∅) counts users who
    * converted with no touches). With n = 4 players the 2⁴ = 16
    * coalition values are computed EXACTLY from the per-mask
    * conversion counts — no sampling, the textbook factorial-weighted
    * sum: φᵢ = Σ_{S∌i} |S|!(n−1−|S|)!·(v(S∪i)−v(S)) / n!.
    * Efficiency axiom Σφᵢ = v(full)−v(∅) rides along as output
    * columns. Weighted deltas are exact integers; ONE double division
    * (by 24) per channel at the end.
    *
    * Scale shape: one map-combined fact aggregate to users, one hash
    * aggregate to ≤16 mask rows, then literal-bounded grids (16-row
    * coalition × 4-row channel, 16-row subset-containment join) — the
    * exponential lives in 2^n literal rows, never in data, which is
    * why exact Shapley is tractable for channel counts ≤ ~20.
    */
  def shapleyAttrib(s: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(38, 0)
    val chanBit = ShapChannels.foldRight(lit(0L): org.apache.spark.sql.Column) {
      case ((name, bit), rest) =>
        when(col("event_type") === name, bit).otherwise(rest)
    }
    import s.implicits._
    val users = Tables.t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          get_json_object(col("props"), "$.k").cast(IntegerType) >= 95, 1L)
        .otherwise(0L)).as("conv"))
    // per-user channel mask: OR of touched channel bits = sum of
    // DISTINCT bits (bits are power-of-two, each counted once)
    val masks = Tables.t(s, dir, "events")
      .select(col("user_id"), chanBit.as("bit"))
      .distinct()
      .groupBy(col("user_id"))
      .agg(sum(col("bit")).as("mask"))
    val mconv = users.join(masks, "user_id")
      .groupBy(col("mask")).agg(sum(col("conv")).as("conv_cnt"))
    val grid = s.range(16).toDF("coal")
    // v(S) = conversions whose journey mask ⊆ S
    val v = grid
      .join(broadcast(mconv),
        col("mask").bitwiseAND(col("coal")) === col("mask"), "left")
      .groupBy(col("coal"))
      .agg(coalesce(sum(col("conv_cnt")), lit(0L)).as("v"))
    val chans = ShapChannels.toDF("channel", "bit")
    val wCase = ShapW.zipWithIndex.foldRight(lit(0L): org.apache.spark.sql.Column) {
      case ((w, size), rest) =>
        when(bit_count(col("coal")) === size, w).otherwise(rest)
    }
    val pairs = v.select(col("coal"), col("v"))
      .crossJoin(broadcast(chans))
      .filter(col("coal").bitwiseAND(col("bit")) === 0)
      .join(broadcast(v.select(col("coal").as("coal2"), col("v").as("v2"))),
        col("coal2") === col("coal").bitwiseOR(col("bit")))
      .select(col("channel"), (wCase * (col("v2") - col("v"))).as("wd"))
    val tot = v.agg(
      max(when(col("coal") === 15, col("v"))).as("v_full"),
      max(when(col("coal") === 0, col("v"))).as("v_empty"))
    pairs.groupBy(col("channel"))
      .agg(sum(col("wd").cast(d)).as("swd"))
      .crossJoin(broadcast(tot))
      .select(col("channel"),
        round(col("swd").cast(DoubleType) / 24.0, 6).as("phi"),
        col("v_full"), col("v_empty"))
      .orderBy(col("channel"))
  }

  val shapleyAttribOracle: String = {
    val chanCase = ShapChannels
      .map { case (n, b) => s"WHEN event_type = '$n' THEN $b" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val chanRows = ShapChannels
      .map { case (n, b) => s"('$n', $b)" }.mkString(", ")
    s"""WITH conv AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase'
       |      AND CAST(json_extract_string(props, '$$.k') AS INTEGER) >= 95
       |      THEN 1 ELSE 0 END) AS conv
       |  FROM events GROUP BY user_id),
       |bits AS (
       |  SELECT DISTINCT user_id, $chanCase AS bit FROM events),
       |masks AS (
       |  SELECT user_id, CAST(SUM(bit) AS BIGINT) AS mask
       |  FROM bits GROUP BY user_id),
       |mconv AS (
       |  SELECT mask, CAST(SUM(conv) AS BIGINT) AS conv_cnt
       |  FROM conv JOIN masks USING (user_id) GROUP BY mask),
       |grid AS (SELECT unnest(range(0, 16)) AS coal),
       |v AS (
       |  SELECT coal, CAST(COALESCE(SUM(conv_cnt), 0) AS BIGINT) AS v
       |  FROM grid LEFT JOIN mconv ON (mask & coal) = mask
       |  GROUP BY coal),
       |chans AS (SELECT * FROM (VALUES $chanRows) AS t(channel, bit)),
       |pairs AS (
       |  SELECT c.channel,
       |    (CASE WHEN bit_count(v.coal) = 0 THEN ${ShapW(0)}
       |          WHEN bit_count(v.coal) = 1 THEN ${ShapW(1)}
       |          WHEN bit_count(v.coal) = 2 THEN ${ShapW(2)}
       |          WHEN bit_count(v.coal) = 3 THEN ${ShapW(3)}
       |          ELSE 0 END) * (v2.v - v.v) AS wd
       |  FROM v CROSS JOIN chans c
       |  JOIN v v2 ON v2.coal = (v.coal | c.bit)
       |  WHERE (v.coal & c.bit) = 0),
       |tot AS (
       |  SELECT MAX(CASE WHEN coal = 15 THEN v END) AS v_full,
       |    MAX(CASE WHEN coal = 0 THEN v END) AS v_empty
       |  FROM v)
       |SELECT channel,
       |  round(CAST(SUM(CAST(wd AS DECIMAL(38,0))) AS DOUBLE) / 24.0, 6)
       |    + 0.0 AS phi,
       |  CAST(v_full AS BIGINT) AS v_full, CAST(v_empty AS BIGINT) AS v_empty
       |FROM pairs CROSS JOIN tot
       |GROUP BY channel, v_full, v_empty
       |ORDER BY channel""".stripMargin
  }

  def attribPosition(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val touches = purchases.join(views,
      col("user_id") === col("p_user") &&
        col("view_ts") <= col("purchase_ts") &&
        unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")) <= GapUs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
      .orderBy(col("view_ts"), col("view_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("purchase_id"))
    val pos = touches
      .withColumn("pos", row_number().over(w))
      .withColumn("k", count(lit(1)).over(wAll))
    val cn = when(col("k") === 1, 1L)
      .when(col("pos") === 1 || col("pos") === col("k"),
        when(col("k") === 2, 1L).otherwise(2L))
      .otherwise(1L)
    val cd = when(col("k") === 1, 1L)
      .when(col("pos") === 1 || col("pos") === col("k"),
        when(col("k") === 2, 2L).otherwise(5L))
      .otherwise(lit(5L) * (col("k") - 2))
    pos.select(col("user_id"), col("purchase_id"), col("view_id"),
        col("pos"), col("k").as("n_touch"),
        round(cn.cast(DoubleType) / cd.cast(DoubleType), 6).as("credit"))
      .orderBy(col("user_id"), col("purchase_id"), col("pos"))
  }

  val attribPositionOracle: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |    CAST(ts AS TIMESTAMP) AS ts FROM events),
       |touch AS (
       |  SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       |    v.ts AS view_ts
       |  FROM e p JOIN e v
       |    ON p.event_type = 'purchase' AND v.event_type = 'view'
       |   AND v.user_id = p.user_id AND v.ts <= p.ts
       |   AND epoch_us(p.ts) - epoch_us(v.ts) <= $GapUs),
       |pos AS (
       |  SELECT user_id, purchase_id, view_id,
       |    ROW_NUMBER() OVER (PARTITION BY purchase_id
       |      ORDER BY view_ts, view_id) AS pos,
       |    COUNT(*) OVER (PARTITION BY purchase_id) AS k
       |  FROM touch)
       |SELECT user_id, purchase_id, view_id, pos, k AS n_touch,
       |  round(CAST(CASE WHEN k = 1 THEN 1
       |      WHEN pos = 1 OR pos = k THEN (CASE WHEN k = 2 THEN 1 ELSE 2 END)
       |      ELSE 1 END AS DOUBLE)
       |    / CAST(CASE WHEN k = 1 THEN 1
       |      WHEN pos = 1 OR pos = k THEN (CASE WHEN k = 2 THEN 2 ELSE 5 END)
       |      ELSE 5 * (k - 2) END AS DOUBLE), 6) AS credit
       |FROM pos ORDER BY user_id, purchase_id, pos""".stripMargin

  /** TWO-LEVEL BINARY SEGMENTATION over the hourly bars (Scott &
    * Knott 1974's recursive device applied to the [[cusumShift]]
    * locator — the standard escalation when one changepoint isn't the
    * whole story): level 1 locates the global argmax-|CUSUM| hour per
    * type; level 2 re-runs the SAME integer-exact locator on the two
    * halves it induces. Reported per (type, level, segment) with the
    * segment-relative drift magnitude, so a reviewer sees whether the
    * secondary shifts are comparable to the primary or noise.
    *
    * Float policy: the [[cusumShift]] discipline verbatim — micro-unit
    * BIGINT bars, count-scaled integer deviations, BIGINT cumulative
    * fold, ONE division at the end per row.
    *
    * Scale shape: two window passes over the bar grid (types×hours),
    * one small join between them. The fact is touched once, by
    * [[hourlyBars]].
    */
  def cusum2(s: SparkSession, dir: String): DataFrame = {
    val bars = hourlyBars(s, dir)
      .withColumn("b6", round(col("bar") * 1e6).cast(LongType))
    def locate(in: DataFrame): DataFrame = {
      val tot = in.groupBy(col("event_type").as("t_type"), col("seg").as("t_seg"))
        .agg(sum(col("b6")).as("s6"), count(lit(1)).as("n"))
      val wcs = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("seg")).orderBy(col("hour"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("seg"))
        .orderBy(abs(col("cusum")).desc, col("hour"))
      in.join(tot, col("t_type") === col("event_type") && col("t_seg") === col("seg"))
        .drop("t_type", "t_seg")
        .withColumn("dev", col("b6") * col("n") - col("s6"))
        .withColumn("cusum", sum(col("dev")).over(wcs))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("seg"), col("hour").as("shift_hour"),
          round(abs(col("cusum")).cast(DoubleType) / (col("n") * 1e6), 6)
            .as("drift_mag"))
    }
    val l1 = locate(bars.withColumn("seg", lit("all")))
    val l2 = locate(bars
      .join(l1.select(col("event_type").as("s_type"), col("shift_hour")),
        col("s_type") === col("event_type")).drop("s_type")
      .withColumn("seg",
        when(col("hour") <= col("shift_hour"), "left").otherwise("right"))
      .drop("shift_hour"))
    l1.withColumn("level", lit(1))
      .unionByName(l2.withColumn("level", lit(2)))
      .select(col("event_type"), col("level"), col("seg").as("segment"),
        col("shift_hour"), col("drift_mag"))
      .orderBy(col("event_type"), col("level"), col("segment"))
  }

  val cusum2Oracle: String =
    """WITH bars AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(round(round(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
      |      / COUNT(*), 6) * 1e6) AS BIGINT) AS b6
      |  FROM events GROUP BY 1, 2),
      |l1 AS (
      |  SELECT event_type, hour AS shift_hour,
      |    round(CAST(abs(cusum) AS DOUBLE) / (n * 1e6), 6) AS drift_mag
      |  FROM (
      |    SELECT event_type, hour, cusum, n,
      |      ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY abs(cusum) DESC, hour) AS rn
      |    FROM (
      |      SELECT b.event_type, b.hour, t.n,
      |        SUM(b.b6 * t.n - t.s6) OVER (PARTITION BY b.event_type
      |          ORDER BY b.hour ROWS UNBOUNDED PRECEDING) AS cusum
      |      FROM bars b JOIN (SELECT event_type, SUM(b6) AS s6, COUNT(*) AS n
      |        FROM bars GROUP BY 1) t USING (event_type)))
      |  WHERE rn = 1),
      |seg AS (
      |  SELECT b.event_type, b.hour, b.b6,
      |    CASE WHEN b.hour <= l1.shift_hour THEN 'left' ELSE 'right' END AS seg
      |  FROM bars b JOIN l1 USING (event_type)),
      |l2 AS (
      |  SELECT event_type, seg, hour AS shift_hour,
      |    round(CAST(abs(cusum) AS DOUBLE) / (n * 1e6), 6) AS drift_mag
      |  FROM (
      |    SELECT event_type, seg, hour, cusum, n,
      |      ROW_NUMBER() OVER (PARTITION BY event_type, seg
      |        ORDER BY abs(cusum) DESC, hour) AS rn
      |    FROM (
      |      SELECT s.event_type, s.seg, s.hour, t.n,
      |        SUM(s.b6 * t.n - t.s6) OVER (PARTITION BY s.event_type, s.seg
      |          ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS cusum
      |      FROM seg s JOIN (SELECT event_type, seg, SUM(b6) AS s6,
      |          COUNT(*) AS n FROM seg GROUP BY 1, 2) t
      |        USING (event_type, seg)))
      |  WHERE rn = 1)
      |SELECT event_type, 1 AS level, 'all' AS segment, shift_hour, drift_mag
      |FROM l1
      |UNION ALL
      |SELECT event_type, 2 AS level, seg AS segment, shift_hour, drift_mag
      |FROM l2
      |ORDER BY event_type, level, segment""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("st_cohort_ltv", cohortLtv, Some(cohortLtvOracle)),
    QueryDef("st_cusum2", cusum2, Some(cusum2Oracle)),
    QueryDef("st_rolling_p95", rollingP95, Some(rollingP95Oracle)),
    QueryDef("st_attrib_position", attribPosition, Some(attribPositionOracle)),
    QueryDef("st_shapley_attrib", shapleyAttrib, Some(shapleyAttribOracle)),
    QueryDef("st_runs_test", runsTest, Some(runsTestOracle)),
    QueryDef("st_concurrency", concurrency, Some(concurrencyOracle)),
    QueryDef("st_trend_mk", trendMk, Some(trendMkOracle)),
    QueryDef("st_control_chart", controlChart, Some(controlChartOracle)),
    QueryDef("st_correlogram", correlogram, Some(correlogramOracle)),
    QueryDef("st_twap", twap, Some(twapOracle)),
    QueryDef("st_mad_anomaly", madAnomaly, Some(madAnomalyOracle)),
    QueryDef("st_hourly_quantiles", hourlyQuantiles, Some(hourlyQuantilesOracle)),
    QueryDef("st_lag_autocorr", lagAutocorr, Some(lagAutocorrOracle)),
    QueryDef("st_cusum_shift", cusumShift, Some(cusumShiftOracle)),
    QueryDef("st_page_hinkley", pageHinkley, Some(pageHinkleyOracle)),
    QueryDef("st_seasonal_naive", seasonalNaive, Some(seasonalNaiveOracle)),
    QueryDef("st_forecast_eval", forecastEval, Some(forecastEvalOracle)),
    QueryDef("st_ewma", ewmaSmooth, Some(ewmaSmoothOracle)),
    QueryDef("st_windowed_agg", windowedAgg, Some(windowedAggOracle)),
    QueryDef("st_ohlc_bars", ohlcBars, Some(ohlcBarsOracle)),
    QueryDef("st_transitions", transitionMatrix, Some(transitionMatrixOracle)),
    QueryDef("st_top_paths", topPaths, Some(topPathsOracle)),
    QueryDef("st_session_window", sessionWindowNative, Some(sessionWindowNativeOracle)),
    QueryDef("st_sliding_window", slidingWindowAgg, Some(slidingWindowAggOracle)),
    QueryDef("st_funnel", funnelBatch, Some(funnelOracle)),
    QueryDef("st_gap_fill", gapFill, Some(gapFillOracle)),
    QueryDef("st_retention", retentionBatch, Some(retentionOracle)),
    QueryDef("st_sessionize", sessionizeBatch, Some(sessionizeOracle)),
    QueryDef("st_attribution", attributionBatch, Some(attributionOracle)),
  )
}
