package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Open-session accumulator for [[EventsStream.sessionize]] — top-level
  * (not nested/private) so the state encoder's generated code links.
  */
final case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** Last-seen event per user for the streaming transition emitter. */
final case class TransState(lastTs: Long, lastId: Long, lastType: String)

/** Last ≤8 points per user (parallel lists, oldest first) for the
  * streaming EWMA emitter — top-level for the state encoder.
  */
final case class EwmaBuf(ts: List[Long], ids: List[Long], vs: List[Double])

/** Open TWAP day per user for the streaming time-weighted-average
  * emitter — top-level for the state encoder. `wsum` carries the exact
  * Σ value_µunits × gap_µs as a decimal string (the product exceeds
  * Long at day-scale gaps, mirroring the batch DECIMAL(38,0) column).
  */
final case class TwapBuf(dayMs: Long, lastUs: Long, lastId: Long,
    lastVm: Long, wsum: String, spanUs: Long, nIntervals: Long)

/** Recent view touchpoints (ids + their event-time micros, parallel
  * lists) for [[EventsStream.attribPosition]] — pruned to the
  * attribution window on every event, so state is bounded by the
  * window duration × per-user view rate.
  */
final case class AttribBuf(viewIds: List[Long], viewUs: List[Long],
    lastUs: Long)

/** Per-type rolling-percentile state for [[EventsStream.rollingP95]]:
  * the OPEN hour's exact decimal accumulator (sum carried as a string
  * of the DECIMAL(38,12) value) plus the trailing CLOSED hourly bars
  * (≤ window size, pruned on every close) — O(window) state per type
  * forever.
  */
final case class RollBuf(openHourMs: Long, openSum: String, openN: Long,
    barHourMs: List[Long], barVals: List[Double])

/** Per-type Page–Hinkley detector state for
  * [[EventsStream.pageHinkley]]: the OPEN hour's exact decimal
  * accumulator plus the running detector registers — closed-hour
  * count `i`, Σb6 `sc`, and the exact decimal `m`/`runmin` carried as
  * strings. O(1) state per type forever — the whole point of PH over
  * the offline cusum.
  */
final case class PhBuf(openHourMs: Long, openSum: String, openN: Long,
    i: Long, sc: Long, m: String, runmin: String)

/** Buffered step timestamps (epoch ms) + last-activity time for
  * [[EventsStream.funnel]] — top-level for the state encoder, like
  * [[SessionState]].
  */
final case class FunnelBuf(views: List[Long], clicks: List[Long],
    purchases: List[Long], last: Long) {

  /** Watermark-driven compaction, so that state stays bounded for a
    * continuously-active user (bot / hot key): the raw buffers grow with
    * every step event and would otherwise hold the episode's whole
    * lifetime.
    * Everything droppable under the re-qualification semantics is
    * dropped; the result is exact w.r.t. [[EventsStream.funnel]]'s
    * `close` (property-tested in EventsStreamSpec):
    *
    *  - views: only `min(views)` is ever read (t_view), so the buffer
    *    collapses to its min unconditionally — lossless.
    *  - clicks: t_view only DECREASES (new views can only lower a min),
    *    so a click already `> t_view` stays qualified forever — only
    *    the smallest such click can ever be t_click, keep just it. An
    *    unqualified click c (`<= t_view`, or no view yet) can only
    *    qualify via a future view v with v < c; future events are above
    *    the watermark (v > W), so c <= W can never qualify — dropped.
    *    Residual undecided clicks (unqualified but > W) are retained.
    *  - purchases: same one level down. The current min qualified click
    *    is an upper bound on the final t_click (which only decreases),
    *    so purchases above it are qualified forever (keep the min);
    *    an unqualified purchase p <= W would need a final t_click < p,
    *    and any click that could lower t_click below the current bound
    *    is > W >= p — so p never ends up strictly above it. Dropped.
    *
    * Safety valve: residual (undecided) lists are capped at the
    * `residualCap` SMALLEST values — the min-semantics candidates. The
    * cap only truncates a key holding >4096 undecided in-horizon steps
    * (a bot by construction); state stays bounded either way.
    */
  def compacted(watermarkMs: Long): FunnelBuf = {
    val residualCap = 4096
    val tv = views.minOption
    val (cq, cu) = clicks.partition(c => tv.exists(_ < c))
    val cqMin = cq.minOption
    val clicks2 = cqMin.toList :::
      cu.filter(_ > watermarkMs).sorted.take(residualCap)
    val (pq, pu) = purchases.partition(p => cqMin.exists(_ < p))
    val purchases2 = pq.minOption.toList :::
      pu.filter(_ > watermarkMs).sorted.take(residualCap)
    FunnelBuf(tv.toList, clicks2, purchases2, last)
  }
}

/** One funnel outcome per user per inactivity episode. */
final case class FunnelRow(user_id: Long, t_view: Option[Timestamp],
    t_click: Option[Timestamp], t_purchase: Option[Timestamp], funnel_depth: Int)

/** KMV sketch state for [[EventsStream.kmvDistinctUsers]]: the ≤k
  * smallest distinct 60-bit hashes seen so far (ascending). Top-level
  * for the state encoder, like [[SessionState]].
  */
final case class KmvStreamState(hashes: List[Long])

/** Bloom state for [[EventsStream.noveltyFilter]]: one m-bit filter
  * (as a fixed-size long array) per key-space bucket. Top-level for
  * the state encoder.
  */
final case class BloomBucketState(words: Array[Long])

/** One cardinality estimate per event type per quiesce. */
final case class KmvUserEstimate(event_type: String, k_seen: Int, n_est: Double)

/** Two bounded KMV hash lists (≤k longs each, forever) — the streaming
  * theta-sketch pair ([[EventsStream.thetaOverlapUsers]]).
  */
final case class ThetaStreamState(keptA: List[Long], keptB: List[Long])

/** One set-overlap estimate per quiesce. */
final case class ThetaOverlap(k_a: Int, k_b: Int, theta: Long,
    kept_union: Int, kept_inter: Int, est_union: Double, est_inter: Double)

/** 64 HLL registers per group — 64 longs of state, forever, whatever
  * the stream's cardinality ([[EventsStream.hllDistinctUsers]]).
  */
final case class HllStreamState(regs: Seq[Long])

final case class HllUserEstimate(event_type: String, v_zero: Int, n_est: Double)

/** Stateful streaming over an event feed — the capabilities a
  * training-data/analytics pipeline needs beyond the reference's
  * stateless MV (SURVEY §2.8 maps the reference; these are the
  * engine-level extensions: event-time windows with watermarks, and
  * custom per-key state).
  *
  * Scale notes:
  *  - the windowed aggregate is a streaming partial→final hash agg keyed
  *    by (window, event_type): state size is O(open windows × types),
  *    bounded by the watermark, and shuffles only group deltas;
  *  - sessionization state is per-user and evicted by event-time
  *    timeout, so state growth is O(active users in gap window), not
  *    O(stream length);
  *  - both run identically under Trigger.AvailableNow (batch-equivalent
  *    catch-up) and a continuous trigger.
  *
  * ==The keyed event-time fold==
  * Every per-key operator with custom state (transitions, TWAP,
  * attribution, rolling p95, Page–Hinkley, EWMA, sessions, funnel and
  * the KMV/theta/HLL sketches) is a `step` and an `expire` on one
  * shared fold, `keyedFold`, which owns the state lifecycle:
  *  - key: rows are watermarked on `ts` by `Lateness` (every
  *    watermark in this file uses it) and grouped by the operator's
  *    key — user, event type, or set;
  *  - ordering: a micro-batch's rows arrive unordered; operators that
  *    fold in order sort them by (ts, event_id) (`inOrder`), the
  *    batch twins' order, so replay is deterministic;
  *  - stragglers: an event behind what the state has already folded
  *    (at or before its newest (ts, event_id) point, `newer`; or in
  *    a day or hour already closed) is dropped, never retro-inserted —
  *    every output is append-only, so a late event cannot invalidate
  *    a row already emitted;
  *  - timeout: `step` returns the next state with its deadline, and the
  *    timeout is armed at max(deadline, watermark + 1). The clamp is
  *    needed because the engine rejects a timeout at or before the
  *    current watermark (and fails the query), which a straggler inside
  *    the lateness bound would otherwise compute. No next state removes
  *    the key's state;
  *  - expiry: `expire` runs once the watermark passes the deadline.
  *    The per-key emitters close the key's open episode and REMOVE the
  *    state; the sketches emit their estimate-so-far and KEEP the state
  *    without re-arming (cardinality is monotone), so a quiet key emits
  *    once and a later burst re-arms it through `step`.
  *
  * The module is Serializable because the operators' closures call its
  * exact helpers, which ties them to the module instance (it
  * serializes as a proxy that resolves to the executor's singleton).
  */
object EventsStream extends Serializable {

  val eventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts", StringType), // ISO instant in the feed
  ))

  final case class Event(user_id: Long, event_id: Long, event_type: String,
      value: Double, ts: Timestamp)

  final case class SessionSummary(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** value:String JSON lines → typed events (malformed rows dropped —
    * unlike the track MV, an analytics feed wants dirty rows OUT, and
    * the filter is the explicit, tested policy).
    */
  def parse(values: DataFrame): Dataset[Event] = {
    val spark = values.sparkSession
    import spark.implicits._
    values
      .select(from_json(col("value"), eventSchema).as("e"))
      .select(col("e.user_id"), col("e.event_id"), col("e.event_type"),
        col("e.value"), col("e.ts").try_cast(TimestampType).as("ts"))
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .as[Event]
  }

  /** The lateness bound of every watermark here: an event more than
    * this behind the newest event time seen is late.
    */
  private val Lateness = "10 minutes"

  // Exact scalar helpers: the batch twins' HALF_UP decimal roundings
  // and µs timestamps, replayed on the JVM for bit-parity
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dec12(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
  private def micro(v: Double): Long =
    BigDecimal(v * 1000000.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  private def us(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000L

  /** A micro-batch's rows in (ts, event_id) order, ts read at the
    * resolution the operator compares event times in (ms unless given).
    */
  private def inOrder(rows: Iterator[Event],
      time: Timestamp => Long = _.getTime): Seq[Event] =
    rows.toSeq.sortBy(e => (time(e.ts), e.event_id))

  /** The straggler test: is (t, id) strictly after the state's newest
    * point (lastT, lastId)?
    */
  private def newer(t: Long, id: Long, lastT: Long, lastId: Long): Boolean =
    t > lastT || (t == lastT && id > lastId)

  /** The keyed event-time fold (contract in the object scaladoc):
    * `step(key, state, rows, watermarkMs)` returns the next state with
    * its timeout deadline (None removes the state) and the rows to
    * emit; `expire(key, state)` returns the state to keep (None
    * removes it) and the rows to emit.
    */
  private def keyedFold[T, K: Encoder, S: Encoder, O: Encoder](in: Dataset[T])(key: T => K)(
      step: (K, Option[S], Iterator[T], Long) => (Option[(S, Long)], Seq[O]))(
      expire: (K, S) => (Option[S], Seq[O])): Dataset[O] = {
    def fn(k: K, rows: Iterator[T], state: GroupState[S]): Iterator[O] =
      if (state.hasTimedOut) {
        val (kept, out) = expire(k, state.get)
        kept match {
          case Some(s) => state.update(s) // kept, not re-armed
          case None => state.remove()
        }
        out.iterator
      } else {
        val wm = state.getCurrentWatermarkMs()
        val (next, out) = step(k, state.getOption, rows, wm)
        next match {
          case Some((s, deadline)) =>
            state.update(s)
            state.setTimeoutTimestamp(math.max(deadline, wm + 1))
          case None => if (state.exists) state.remove()
        }
        out.iterator
      }
    in.withWatermark("ts", Lateness)
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** The sketches' salted 60-bit user hash: the same engine-reproducible
    * [[graft.queries.Sketches.h60]] expression in the streams and their
    * batch twins, so parity is a column-for-column replay.
    */
  private def userHash(salt: String): Column =
    graft.queries.Sketches.h60(concat_ws(":", col("user_id"), lit(salt)))

  /** `(event_type, h, ts)` rows for a streaming sketch: the hash is a
    * column computed before the typed state op, so the state code only
    * maintains longs.
    */
  private def userHashes(events: Dataset[Event],
      salt: String): Dataset[(String, Long, Timestamp)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), userHash(salt).as("h"), col("ts"))
      .as[(String, Long, Timestamp)]
  }

  /** Event-time tumbling-window aggregate with a watermark: 5-minute
    * windows per event_type, 10-minute lateness bound. Append mode —
    * a window row is emitted exactly once, when the watermark passes
    * its end (deterministic, replayable).
    */
  def windowedCounts(events: Dataset[Event]): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** OHLC bars as a stream — the streaming twin of the batch
    * `st_ohlc_bars` gate ([[graft.queries.StreamingGates.ohlcBars]]):
    * per event_type per 1-hour event-time window, open/close via
    * min_by/max_by on the deterministic (ts, event_id) key —
    * COMMUTATIVE aggregates, so they fold into streaming state in any
    * arrival order, where the batch twin's first/last-over-window
    * formulation could not stream. High/low/count/total are plain
    * aggregates. Append mode: a bar emits exactly once when the
    * watermark passes the hour.
    */
  def ohlcBars(events: Dataset[Event]): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("bar_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("total_value"))

  /** Spark's NATIVE session-window aggregation as the streaming twin
    * of [[sessionize]]: the built-in SessionWindow state merges
    * per-user sessions on the same 30-minute gap (half-open — an event
    * exactly `gap` after its predecessor starts a new session), and a
    * session row emits exactly once when the watermark passes its end
    * (= last event + gap). Same operator family the batch
    * `st_session_window` gate pins against DuckDB; the spec asserts
    * parity with the custom [[sessionize]] engine (native end ==
    * custom last-event end + gap).
    */
  def sessionWindowCounts(events: Dataset[Event]): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))

  /** Stream-STATIC dimension enrichment — the bread-and-butter
    * streaming pattern the rest of this file's stateful operators sit
    * on top of: each micro-batch of the event stream joins a static
    * dimension (event_type → category, weight), then aggregates the
    * weighted value per category in watermarked tumbling windows.
    *
    * Semantics Spark gives this for free (and the spec pins): the
    * static side is planned per micro-batch as an ordinary broadcast
    * equi-join — no state store involvement, no watermark on the dim —
    * and the stateful windowed agg downstream behaves exactly as in
    * [[windowedCounts]]. An INNER join, so events missing from the dim
    * drop (the tested policy, mirroring [[parse]]'s dirty-row filter).
    *
    * At scale: the dim is the small side by construction (a category
    * table), so every micro-batch pays one broadcast probe — never a
    * shuffle of the stream.
    */
  def enrichedWindowedValue(events: Dataset[Event], dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", Lateness)
      .join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value") * col("weight")).as("weighted_value"))
      .select(col("w.start").as("window_start"), col("category"),
        col("n_events"), col("weighted_value"))

  final case class TransPair(user_id: Long, from_type: String,
      to_type: String, ts: Timestamp)

  /** Streaming twin of the batch `st_transitions` gate's PAIR layer:
    * per user, each event is paired with its predecessor and the
    * (from → to) transition emits incrementally — O(1) state per user
    * (the last seen event), evicted [[horizonMinutes]] after the last
    * event. Downstream, the same groupBy that the batch gate runs
    * turns pairs into the transition matrix.
    * Ordering and stragglers follow the keyed fold's policy (object
    * scaladoc).
    */
  def transitionPairs(events: Dataset[Event],
      horizonMinutes: Int = 1440): Dataset[TransPair] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold(events)(_.user_id) { (userId, st: Option[TransState], rows, _) =>
      var last = st
      val out = inOrder(rows).flatMap { e =>
        last match {
          case Some(s) if !newer(e.ts.getTime, e.event_id, s.lastTs, s.lastId) =>
            None // straggler: dropped by policy
          case prev =>
            last = Some(TransState(e.ts.getTime, e.event_id, e.event_type))
            prev.map(s => TransPair(userId, s.lastType, e.event_type, e.ts))
        }
      }
      (last.map(s => s -> (s.lastTs + horizonMinutes * 60000L)), out)
    } { (_, _) => (None, Nil) }
  }

  final case class TwapRow(user_id: Long, day: java.time.LocalDate,
      n_intervals: Long, span_us: Long, twap: Double)

  /** Streaming twin of the batch `st_twap` gate: per-user-day
    * time-weighted average emitted when the day CLOSES — either a
    * later-day event arrives for the user, or the event-time timeout
    * fires once the watermark passes the day boundary. State is one
    * [[TwapBuf]] per user (the open day's last point + exact running
    * sums) — O(1) forever. The arithmetic replays the batch column
    * exactly: value micro-units via HALF_UP, exact BigInt Σ vm·gap_µs
    * (the batch DECIMAL(38,0) column), one double division, HALF_UP
    * round-6 — so an `AvailableNow` replay emits rows bit-equal to the
    * batch aggregate for every closed day (EventsStreamSpec parity).
    */
  def twapDaily(events: Dataset[Event], graceMinutes: Int = 60): Dataset[TwapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val DayMs = 86400000L
    def closesAt(dayMs: Long): Long = dayMs + DayMs + graceMinutes * 60000L
    def open(dayMs: Long, u: Long, e: Event): TwapBuf =
      TwapBuf(dayMs, u, e.event_id, micro(e.value), "0", 0L, 0L)
    def close(userId: Long, b: TwapBuf): Option[TwapRow] =
      if (b.spanUs > 0)
        // LocalDate.ofEpochDay is timezone-independent: java.sql.Date
        // here would round-trip through the JVM default zone in the
        // encoder and shift the day label on any non-UTC host,
        // breaking the bit-parity contract with the UTC batch twin.
        Some(TwapRow(userId, java.time.LocalDate.ofEpochDay(b.dayMs / DayMs),
          b.nIntervals, b.spanUs,
          round6(BigInt(b.wsum).toDouble / b.spanUs.toDouble / 1000000.0)))
      else None

    keyedFold(events)(_.user_id) { (userId, st: Option[TwapBuf], rows, wm) =>
      var buf = st.orNull
      val out = Seq.newBuilder[TwapRow]
      // A day that closes at or before the current watermark may ALREADY
      // have been emitted by a timeout that then removed the state —
      // opening a fresh buffer for it would emit a second partial row
      // for the same (user_id, day). Such sub-watermark stragglers are
      // dropped, so a closed day can never be reopened.
      inOrder(rows, us).foreach { e =>
        val d = Math.floorDiv(e.ts.getTime, DayMs) * DayMs
        val u = us(e.ts)
        if (buf == null) {
          if (closesAt(d) > wm) buf = open(d, u, e)
        } else if (d > buf.dayMs) {
          out ++= close(userId, buf)
          buf = if (closesAt(d) <= wm) null else open(d, u, e)
        } else if (d == buf.dayMs && newer(u, e.event_id, buf.lastUs, buf.lastId)) {
          val dur = u - buf.lastUs
          buf = TwapBuf(d, u, e.event_id, micro(e.value),
            (BigInt(buf.wsum) + BigInt(buf.lastVm) * BigInt(dur)).toString,
            buf.spanUs + dur, buf.nIntervals + 1)
        } // closed-day or out-of-order straggler: dropped by policy
      }
      // None when the held day closed inline and its successor was
      // dropped: the state goes, or its pending timeout would emit the
      // closed day a second time
      (Option(buf).map(b => b -> closesAt(b.dayMs)), out.result())
    } { (userId, b) => (None, close(userId, b).toSeq) }
  }

  final case class TouchRow(user_id: Long, purchase_id: Long, view_id: Long,
      pos: Int, n_touch: Long, credit: Double)

  /** Streaming twin of the batch `st_attrib_position` gate: U-shaped
    * multi-touch credits emitted AT the purchase, from an
    * [[AttribBuf]] of the user's views inside the 30-minute window —
    * state is pruned on every event, so it holds at most one window's
    * views per user. The credit arithmetic replays the batch column
    * exactly (same integer ratios, same HALF_UP round-6), and
    * same-timestamp views sort BEFORE purchases (the batch join's
    * inclusive view_ts ≤ purchase_ts), so an `AvailableNow` replay is
    * bit-equal to the batch gate (EventsStreamSpec parity). An event
    * older than the buffer's newest point is dropped; one at the same
    * µs is kept, since a purchase may share its views' timestamp.
    */
  def attribPosition(events: Dataset[Event],
      windowMinutes: Int = 30, graceMinutes: Int = 60): Dataset[TouchRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val WindowUs = windowMinutes * 60000000L
    def credit(pos: Int, k: Int): Double = {
      val (cn, cd) =
        if (k == 1) (1L, 1L)
        else if (pos == 1 || pos == k) { if (k == 2) (1L, 2L) else (2L, 5L) }
        else (1L, 5L * (k - 2))
      round6(cn.toDouble / cd.toDouble)
    }

    val touchEvents = events.filter(e => e.event_type == "view" || e.event_type == "purchase")
    keyedFold(touchEvents)(_.user_id) { (userId, st: Option[AttribBuf], rows, _) =>
      // same-ts views order before purchases: the batch join is
      // inclusive on view_ts <= purchase_ts
      val sorted = rows.toSeq.sortBy(e =>
        (us(e.ts), if (e.event_type == "purchase") 1 else 0, e.event_id))
      var buf = st.getOrElse(AttribBuf(Nil, Nil, Long.MinValue))
      val out = Seq.newBuilder[TouchRow]
      sorted.foreach { e =>
        val u = us(e.ts)
        if (u >= buf.lastUs || buf.lastUs == Long.MinValue) {
          val keep = buf.viewUs.zip(buf.viewIds).filter(_._1 >= u - WindowUs)
          buf = AttribBuf(keep.map(_._2), keep.map(_._1), math.max(u, buf.lastUs))
          e.event_type match {
            case "view" =>
              buf = AttribBuf(buf.viewIds :+ e.event_id,
                buf.viewUs :+ u, buf.lastUs)
            case "purchase" =>
              val touches = buf.viewUs.zip(buf.viewIds)
                .filter(t => t._1 >= u - WindowUs && t._1 <= u)
                .sortBy(identity)
              val k = touches.length
              touches.zipWithIndex.foreach { case ((_, vid), i) =>
                out += TouchRow(userId, e.event_id, vid, i + 1, k.toLong,
                  credit(i + 1, k))
              }
            case _ => ()
          }
        } // sub-buffer straggler: dropped by policy
      }
      (Some(buf -> (buf.lastUs / 1000L + (windowMinutes + graceMinutes) * 60000L)),
        out.result())
    } { (_, _) => (None, Nil) }
  }

  final case class RollRow(event_type: String, hour: Timestamp, bar: Double,
      n_window: Long, p95_24h: Double)

  /** Streaming twin of the batch `st_rolling_p95` gate: per type, the
    * trailing-24h p95 of the hourly bars, emitted when each hour
    * CLOSES (a later-hour event arrives, or the event-time timeout
    * fires past the hour boundary). State is one [[RollBuf]] per type
    * — the open hour's exact decimal accumulator plus ≤ 24 closed
    * bars — O(window) forever. The arithmetic replays the batch
    * columns exactly: per-value DECIMAL(38,12) HALF_UP quantization
    * and exact decimal sums for the bar mean, and the batch gate's
    * integer micro-unit interpolation ((100−rem)·lo + rem·hi with a
    * (2v+100) DIV 200 HALF_UP round) for the percentile — so an `AvailableNow`
    * replay emits rows bit-equal to the batch gate for every closed
    * hour (EventsStreamSpec parity). Stragglers into closed hours are
    * dropped.
    */
  def rollingP95(events: Dataset[Event], windowHours: Int = 24,
      graceMinutes: Int = 60): Dataset[RollRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourMs = 3600000L
    val WindowMs = windowHours * HourMs
    // the batch gate's exact integer interpolation: bars are exact 6-dp
    // values → micro BIGINTs, pos scaled to hundredths, (2v + 100) DIV
    // 200 HALF_UP — bit-parity by identical integer arithmetic, which
    // a double interpolation could only match to the last ulp
    def p95(sortedBars: IndexedSeq[Double]): Double = {
      val m = sortedBars.map(b => math.round(b * 1000000))
      val n = m.length
      val p = (n - 1) * 95
      val lw = p / 100
      val rem = p - lw * 100
      val v = m(lw) * (100L - rem) + m(math.min(lw + 1, n - 1)) * rem
      ((2 * v + 100) / 200).toDouble / 1000000.0
    }
    def closeHour(typ: String, b: RollBuf): (RollBuf, Option[RollRow]) = {
      if (b.openN == 0) (b, None)
      else {
        val bar = round6(BigDecimal(b.openSum).toDouble / b.openN)
        val keptH = (b.barHourMs :+ b.openHourMs)
          .zip(b.barVals :+ bar)
          .filter(_._1 > b.openHourMs - WindowMs)
        val nb = RollBuf(b.openHourMs, "0", 0L, keptH.map(_._1), keptH.map(_._2))
        val window = keptH.sortBy(_._1).map(_._2)
        val row = RollRow(typ, new Timestamp(b.openHourMs), bar,
          window.length.toLong, p95(window.sorted.toIndexedSeq))
        (nb, Some(row))
      }
    }

    keyedFold(events)(_.event_type) { (typ, st: Option[RollBuf], rows, _) =>
      var buf = st.orNull
      val out = Seq.newBuilder[RollRow]
      inOrder(rows).foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, HourMs) * HourMs
        if (buf == null)
          buf = RollBuf(h, dec12(e.value).toString, 1L, Nil, Nil)
        else if (h > buf.openHourMs) {
          val (nb, row) = closeHour(typ, buf)
          out ++= row
          buf = RollBuf(h, dec12(e.value).toString, 1L,
            nb.barHourMs, nb.barVals)
        } else if (h == buf.openHourMs) {
          buf = buf.copy(
            openSum = (BigDecimal(buf.openSum) + dec12(e.value)).toString,
            openN = buf.openN + 1)
        } // straggler into a closed hour: dropped by policy
      }
      (Option(buf).map(b => b -> (b.openHourMs + HourMs + graceMinutes * 60000L)),
        out.result())
    } { (typ, b) => (None, closeHour(typ, b)._2.toSeq) }
  }

  final case class PhRow(event_type: String, hour: Timestamp, bar: Double,
      ph_bar: Double)

  /** Streaming twin of the batch `st_page_hinkley` gate's per-hour
    * frame ([[graft.queries.StreamingGates.pageHinkleyHours]]): per
    * type, the PH statistic after each hour CLOSES (a later-hour
    * event arrives, or the event-time timeout fires). This is the
    * detector the batch gate models — state is the open hour's exact
    * decimal accumulator plus FOUR running registers ([[PhBuf]]),
    * O(1) per type forever. The arithmetic replays the batch columns
    * exactly: bar = round-6 exact-decimal mean, b6 = round(bar·10⁶),
    * dev = dec12(b6 − sc/i) in one double crossing, and m / runmin /
    * ph all in exact BigDecimal — so an `AvailableNow` replay emits
    * rows bit-equal to the batch frame for every closed hour
    * (EventsStreamSpec parity). Stragglers into closed hours are
    * dropped; a type evicted by timeout RESETS its detector (the
    * standard online-monitor restart; the parity fixture closes every
    * hour by arrival or one final timeout).
    */
  def pageHinkley(events: Dataset[Event],
      graceMinutes: Int = 60): Dataset[PhRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val HourMs = 3600000L

    def closeHour(typ: String, b: PhBuf): (PhBuf, Option[PhRow]) = {
      if (b.openN == 0) (b, None)
      else {
        val bar = round6(BigDecimal(b.openSum).toDouble / b.openN)
        val b6 = math.round(bar * 1000000)
        val i = b.i + 1
        val sc = b.sc + b6
        val dev = dec12(b6.toDouble - sc.toDouble / i)
        val m = (if (b.i == 0) BigDecimal(0) else BigDecimal(b.m)) + dev
        val runmin = if (b.i == 0) m else BigDecimal(b.runmin).min(m)
        val ph = m - runmin
        val nb = PhBuf(b.openHourMs, "0", 0L, i, sc,
          m.toString, runmin.toString)
        val row = PhRow(typ, new Timestamp(b.openHourMs), bar,
          round6((ph / BigDecimal(1000000)).toDouble))
        (nb, Some(row))
      }
    }

    keyedFold(events)(_.event_type) { (typ, st: Option[PhBuf], rows, _) =>
      var buf = st.orNull
      val out = Seq.newBuilder[PhRow]
      inOrder(rows).foreach { e =>
        val h = Math.floorDiv(e.ts.getTime, HourMs) * HourMs
        if (buf == null)
          buf = PhBuf(h, dec12(e.value).toString, 1L, 0L, 0L, "0", "0")
        else if (h > buf.openHourMs) {
          val (nb, row) = closeHour(typ, buf)
          out ++= row
          buf = nb.copy(openHourMs = h, openSum = dec12(e.value).toString,
            openN = 1L)
        } else if (h == buf.openHourMs) {
          buf = buf.copy(
            openSum = (BigDecimal(buf.openSum) + dec12(e.value)).toString,
            openN = buf.openN + 1)
        } // straggler into a closed hour: dropped by policy
      }
      (Option(buf).map(b => b -> (b.openHourMs + HourMs + graceMinutes * 60000L)),
        out.result())
    } { (typ, b) => (None, closeHour(typ, b)._2.toSeq) }
  }

  final case class EwmaPoint(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double, ewma: Double)

  /** Streaming twin of the batch `st_ewma` gate: per-user
    * finite-lookback EWMA emitted per event, with the last ≤8 points
    * held in [[EwmaBuf]] state — O(1) state per user forever, evicted
    * by event-time timeout after `horizonMinutes` of silence. The
    * arithmetic REPLAYS the batch expression exactly (same integer
    * weights, same k-ascending double summation order, same HALF_UP
    * rounding), so under `AvailableNow` replay the emitted points are
    * bit-equal to the batch projection (EventsStreamSpec parity). At
    * a live source the smoothed sequence is arrival-order across
    * batches, since the fold drops stragglers.
    */
  def ewma(events: Dataset[Event], horizonMinutes: Int = 1440): Dataset[EwmaPoint] = {
    val spark = events.sparkSession
    import spark.implicits._
    val weights = graft.queries.StreamingGates.EwmaWeights

    keyedFold(events)(_.user_id) { (userId, st: Option[EwmaBuf], rows, _) =>
      var buf = st.getOrElse(EwmaBuf(Nil, Nil, Nil))
      val out = inOrder(rows).flatMap { e =>
        val t = e.ts.getTime
        if (buf.ts.isEmpty || newer(t, e.event_id, buf.ts.last, buf.ids.last)) {
          buf = EwmaBuf((buf.ts :+ t).takeRight(weights.length),
            (buf.ids :+ e.event_id).takeRight(weights.length),
            (buf.vs :+ e.value).takeRight(weights.length))
          // mirror the batch column's summation: k = 0 (current)
          // ascending, zero contribution where no lag exists
          var num = 0.0
          var den = 0.0
          val n = buf.vs.length
          for (k <- weights.indices) {
            if (k < n) {
              num += buf.vs(n - 1 - k) * weights(k).toDouble
              den += weights(k).toDouble
            } else {
              num += 0.0
              den += 0.0
            }
          }
          Some(EwmaPoint(userId, e.ts, e.event_id, round6(e.value), round6(num / den)))
        } else None // out-of-order straggler: dropped by policy
      }
      (Option.when(buf.ts.nonEmpty)(buf -> (buf.ts.last + horizonMinutes * 60000L)), out)
    } { (_, _) => (None, Nil) }
  }

  /** Custom session state: per-user sessions closed by a 30-minute
    * event-time gap. State expires when the watermark passes
    * last-event + gap, emitting the closed session.
    *
    * `gapMinutes` must be >= the watermark delay: an event later than
    * the gap but inside the watermark would otherwise merge into a
    * session that a gap-first ordering would have closed.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    def summary(userId: Long, s: SessionState): SessionSummary =
      SessionSummary(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)

    keyedFold(events)(_.user_id) { (userId, st: Option[SessionState], rows, _) =>
      // fold the micro-batch's rows into sessions, emitting any that a
      // gap closes inside the batch; keep the trailing one in state
      var cur = st
      val closed = inOrder(rows).flatMap { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.end <= gapMs =>
            // min() start: a late in-watermark event can precede the
            // session's current start when batches arrive out of order
            cur = Some(SessionState(math.min(s.start, t), math.max(s.end, t),
              s.n + 1, s.total + e.value))
            None
          case prev =>
            cur = Some(SessionState(t, t, 1, e.value))
            prev.map(summary(userId, _))
        }
      }
      (cur.map(s => s -> (s.end + gapMs)), closed)
    } { (userId, s) => (None, Seq(summary(userId, s))) }
  }

  /** STREAMING KMV distinct-count: per event type, an estimate of the
    * distinct users seen over the stream's whole lifetime, held in
    * BOUNDED state — the ≤k smallest distinct hashes, k longs per
    * group no matter how long the stream runs (the streaming rung of
    * the sketch family: exact streaming distinct over an unbounded
    * horizon is an unbounded key set, which is exactly what
    * `dropDuplicatesWithinWatermark` cannot provide past its horizon).
    *
    * Emission: append-once per quiesce — when the watermark passes the
    * last activity + `quiesceMinutes`, the group emits its
    * estimate-so-far and keeps the sketch (the fold's sketch expiry).
    * Hash (`userHash`) and estimator are the batch twin's exactly:
    * k_seen < k → exact count; else (k−1)·2^60 / kth-hash.
    */
  def kmvDistinctUsers(events: Dataset[Event], k: Int = 256,
      quiesceMinutes: Int = 30): Dataset[KmvUserEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val quiesceMs = quiesceMinutes * 60L * 1000L

    keyedFold(userHashes(events, "kmv"))(_._1) { (_, st: Option[KmvStreamState], rows, _) =>
      val batch = rows.toSeq
      val merged = (st.map(_.hashes).getOrElse(Nil) ++ batch.map(_._2))
        .distinct.sorted.take(k)
      (Some(KmvStreamState(merged) -> (batch.map(_._3.getTime).max + quiesceMs)), Nil)
    } { (typ, s) =>
      val hs = s.hashes
      val est =
        if (hs.size < k) hs.size.toDouble
        else (k - 1).toDouble * math.pow(2, 60) / hs.last.toDouble
      (Some(s), Seq(KmvUserEstimate(typ, hs.size, math.round(est * 1e6) / 1e6)))
    }
  }

  /** STREAMING theta-sketch overlap — the audience-overlap question
    * ("how many users both browse AND buy?") answered with two
    * bounded KMV hash lists, the streaming sibling of
    * [[graft.queries.Sketches.kmvIntersect]]: set A = view users,
    * set B = purchase users, each kept as its k smallest distinct
    * 60-bit md5 hashes (≤2k longs of state, forever); at quiesce,
    * θ = min of the two max-kept hashes and the union/intersection
    * estimates are |kept < θ| · 2⁶⁰/θ — the same algebra, on stream
    * state, keyed by a single group here (a production deployment
    * keys by segment/day; the state bound is per key either way).
    * Order-insensitive by construction: top-k of a set union is
    * associative and commutative, so replay order cannot change the
    * sketch (the same argument as the HLL MAX-merge).
    *
    * Emission: append-once per quiesce, as [[kmvDistinctUsers]].
    */
  def thetaOverlapUsers(events: Dataset[Event], k: Int = 256,
      quiesceMinutes: Int = 30): Dataset[ThetaOverlap] = {
    val spark = events.sparkSession
    import spark.implicits._
    val quiesceMs = quiesceMinutes * 60L * 1000L
    def overlap(st: ThetaStreamState): Option[ThetaOverlap] =
      if (st.keptA.isEmpty || st.keptB.isEmpty) None
      else {
        val theta = math.min(st.keptA.last, st.keptB.last)
        val ua = st.keptA.filter(_ < theta).toSet
        val ub = st.keptB.filter(_ < theta).toSet
        val union = (ua ++ ub).size
        val inter = (ua intersect ub).size
        def est(n: Int): Double =
          math.round(n.toDouble * math.pow(2, 60) / theta.toDouble * 1e6) / 1e6
        Some(ThetaOverlap(st.keptA.size, st.keptB.size, theta,
          union, inter, est(union), est(inter)))
      }

    // NO pre-group type filter: a filter gets pushed below the
    // EventTimeWatermark node, so other-type rows (including a
    // watermark-advancing sentinel) would stop feeding the event
    // clock. Instead every row flows through; non-set types land in
    // their own group (key 1) whose state never accumulates hashes
    // and whose timeout emits nothing — the hllDistinctUsers design.
    val setKey = (r: (String, Long, Timestamp)) =>
      if (r._1 == "view" || r._1 == "purchase") 0 else 1
    keyedFold(userHashes(events, "theta"))(setKey) {
        (_, st: Option[ThetaStreamState], rows, _) =>
      val batch = rows.toSeq
      val cur = st.getOrElse(ThetaStreamState(Nil, Nil))
      def fold(kept: List[Long], set: String): List[Long] =
        (kept ++ batch.collect { case (s, h, _) if s == set => h })
          .distinct.sorted.take(k)
      val next = ThetaStreamState(fold(cur.keptA, "view"), fold(cur.keptB, "purchase"))
      (Some(next -> (batch.map(_._3.getTime).max + quiesceMs)), Nil)
    } { (_, s) => (Some(s), overlap(s).toSeq) }
  }

  /** Batch twin of [[thetaOverlapUsers]] over the same rows — the
    * relational theta algebra of
    * [[graft.queries.Sketches.kmvIntersect]] on the view/purchase
    * user populations (parity spec).
    */
  def thetaOverlapUsersBatch(events: Dataset[Event], k: Int = 256): DataFrame = {
    val hashes = events.toDF()
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type").as("st"), userHash("theta").as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("st")).orderBy(col("h"))
    val kept = hashes
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    val wSet = org.apache.spark.sql.expressions.Window.partitionBy(col("st"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    kept
      .withColumn("k_set", count(lit(1)).over(wSet))
      .withColumn("theta_set", max(col("h")).over(wSet))
      .withColumn("theta", min(col("theta_set")).over(wAll))
      .withColumn("k_a", max(when(col("st") === "view", col("k_set"))).over(wAll))
      .withColumn("k_b", max(when(col("st") === "purchase", col("k_set"))).over(wAll))
      .filter(col("h") < col("theta"))
      .groupBy(col("h"), col("theta"), col("k_a"), col("k_b"))
      .agg(count(lit(1)).as("nsets"))
      .groupBy(col("theta"), col("k_a"), col("k_b"))
      .agg(count(lit(1)).cast("int").as("kept_union"),
        sum(when(col("nsets") === 2, 1).otherwise(0)).cast("int").as("kept_inter"))
      .select(col("k_a").cast("int").as("k_a"), col("k_b").cast("int").as("k_b"),
        col("theta"), col("kept_union"), col("kept_inter"),
        round(col("kept_union").cast("double") * lit(math.pow(2, 60))
          / col("theta").cast("double"), 6).as("est_union"),
        round(col("kept_inter").cast("double") * lit(math.pow(2, 60))
          / col("theta").cast("double"), 6).as("est_inter"))
  }

  /** splitmix64 — the Bloom position hash for [[noveltyFilter]]
    * (JVM-side; the filter has no oracle, so engine reproducibility is
    * not required — determinism across runs is, and this is a pure
    * function of the key).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Streaming FIRST-SEEN (novelty) filter over the stream's WHOLE
    * lifetime with bounded state: emit each user's first event, drop
    * the rest. `dropDuplicatesWithinWatermark` only guarantees this
    * inside its horizon — an unbounded horizon needs an unbounded key
    * set, unless the membership test is a sketch. State here is a
    * Bloom filter per key-space bucket (buckets × 64 Ki bits ≈ 512 KB
    * total at the defaults, forever), with the Bloom's one-sided
    * error: an EMITTED event's user is definitely new (set bits never
    * clear, so a user can never emit twice); a truly-new user can be
    * falsely dropped at the filter's fpp (~0.2% at 4 salts, 64 Ki
    * bits, ~6k users/bucket) — the right trade for "notify once per
    * new entity" pipelines, where a duplicate notification is the
    * failure and a rare miss is noise.
    *
    * Within a micro-batch, rows fold in (ts, event_id) order, so the
    * FIRST occurrence is the one emitted — deterministic under
    * AvailableNow replay (NoveltySpec pins parity with the batch
    * first-event derivation on collision-free data).
    */
  def noveltyFilter(events: Dataset[Event], buckets: Int = 64,
      bitsPerBucket: Int = 1 << 16, salts: Int = 4): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(bitsPerBucket % 64 == 0, "bitsPerBucket must be a multiple of 64")

    def positions(userId: Long): Seq[Int] =
      (1 to salts).map(i => ((mix64(userId ^ (i * 0x5DEECE66DL)) >>> 1) % bitsPerBucket).toInt)

    def fn(bucket: Int, rows: Iterator[Event],
        state: GroupState[BloomBucketState]): Iterator[Event] = {
      val words = state.getOption.map(_.words.clone())
        .getOrElse(new Array[Long](bitsPerBucket / 64))
      val out = Seq.newBuilder[Event]
      inOrder(rows).foreach { e =>
        val pos = positions(e.user_id)
        val seen = pos.forall(p => (words(p >> 6) & (1L << (p & 63))) != 0)
        if (!seen) {
          pos.foreach(p => words(p >> 6) |= (1L << (p & 63)))
          out += e
        }
      }
      state.update(BloomBucketState(words))
      out.result().iterator
    }

    events
      .groupByKey(e => ((mix64(e.user_id) >>> 1) % buckets).toInt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Batch twin of [[kmvDistinctUsers]] over the same rows — the exact
    * derivation the stream must reproduce (parity spec): same hash
    * expression, same top-k cut, same estimator.
    */
  def kmvDistinctUsersBatch(events: Dataset[Event], k: Int = 256): DataFrame = {
    val hashes = events
      .select(col("event_type"), userHash("kmv").as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    hashes
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("int").as("k_seen"), max(col("h")).as("kth"))
      .select(col("event_type"), col("k_seen"),
        round(
          when(col("k_seen") < k, col("k_seen").cast("double"))
            .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) / col("kth").cast("double")),
          6).as("n_est"))
  }

  /** STREAMING HyperLogLog distinct-count — [[kmvDistinctUsers]]'s
    * sibling on the other classic sketch: per event type, 64 registers
    * (64 longs, forever) updated by MAX as user hashes arrive — the
    * associative merge that makes HLL the 100 TB distinct-count (here
    * it is also what makes the stream trivially correct: max-merge is
    * order-insensitive, so replay order cannot change the registers).
    * Hash, bucketing, rank, and estimator replay
    * [[graft.queries.Sketches.hllDistinct]]'s integer-exact derivation
    * column for column (bitlength rank, 2⁵⁵-scaled sum, α₆₄, linear
    * counting); the batch twin below is the parity target
    * (EventsStreamSpec).
    *
    * Emission: append-once per quiesce, as [[kmvDistinctUsers]].
    */
  def hllDistinctUsers(events: Dataset[Event],
      quiesceMinutes: Int = 30): Dataset[HllUserEstimate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val quiesceMs = quiesceMinutes * 60L * 1000L
    val M = 64

    def estimate(regs: Seq[Long]): (Int, Double) = {
      val sScaled = regs.map(r => 1L << (55 - r)).sum
      val raw = 0.709 * M * M * math.pow(2, 55) / sScaled.toDouble
      val v = regs.count(_ == 0L)
      val est =
        if (raw <= 2.5 * M && v > 0) M.toDouble * math.log(M.toDouble / v)
        else raw
      (v, math.round(est * 1e6) / 1e6)
    }

    keyedFold(userHashes(events, "hll"))(_._1) { (_, st: Option[HllStreamState], rows, _) =>
      val batch = rows.toSeq
      val regs = st.map(_.regs.toArray).getOrElse(Array.fill(M)(0L))
      batch.foreach { case (_, h, _) =>
        val b = (h / 18014398509481984L).toInt // h DIV 2^54
        val w = h % 18014398509481984L
        val rank =
          if (w == 0) 55L
          else 55L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        if (rank > regs(b)) regs(b) = rank
      }
      (Some(HllStreamState(regs.toVector) -> (batch.map(_._3.getTime).max + quiesceMs)), Nil)
    } { (typ, s) =>
      val (v, est) = estimate(s.regs)
      (Some(s), Seq(HllUserEstimate(typ, v, est)))
    }
  }

  /** Batch twin of [[hllDistinctUsers]] over the same rows: the
    * relational register derivation of
    * [[graft.queries.Sketches.hllDistinct]] keyed by event type over
    * the same salted user hash — the exact derivation the stream must
    * reproduce (parity spec).
    */
  def hllDistinctUsersBatch(events: Dataset[Event]): DataFrame = {
    val spark = events.sparkSession
    val M = 64
    val pow54 = 18014398509481984L
    val rows = events.toDF()
      .select(col("event_type"), userHash("hll").as("h"))
      .select(col("event_type"), expr(s"h DIV $pow54").as("bucket"),
        pmod(col("h"), lit(pow54)).as("w"))
      .select(col("event_type"), col("bucket"),
        when(col("w") === 0, lit(55L))
          .otherwise(lit(55L) - length(bin(col("w"))).cast("long")).as("rank"))
    val regs = rows.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rank")).as("mr"))
    val grid = rows.select(col("event_type")).distinct()
      .crossJoin(spark.range(M).toDF("bucket"))
    val full = grid.join(regs, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), coalesce(col("mr"), lit(0L)).as("mr"))
    val num = 0.709 * M * M * math.pow(2, 55)
    full.groupBy(col("event_type"))
      .agg(sum(expr("CAST(pow(2, 55 - mr) AS BIGINT)")).as("s_scaled"),
        sum(when(col("mr") === 0, 1).otherwise(0)).cast("int").as("v_zero"))
      .select(col("event_type"), col("v_zero"),
        round(
          when(lit(num) / col("s_scaled").cast("double") <= 2.5 * M &&
              col("v_zero") > 0,
            lit(M.toDouble) * log(lit(M.toDouble) / col("v_zero").cast("double")))
            .otherwise(lit(num) / col("s_scaled").cast("double")), 6)
          .as("n_est"))
  }

  /** Streaming exact dedup: drop re-deliveries of the same event_id
    * arriving within the watermark horizon. The state store holds only
    * ids inside the horizon (evicted beyond it) — the streaming rung of
    * the dedup ladder: bounded state, no full-history key set.
    */
  def dedupedEvents(events: Dataset[Event]): Dataset[Event] =
    events
      .withWatermark("ts", Lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming ordered funnel (view → click → purchase, the batch
    * semantics of [[graft.queries.StreamingGates.funnelEvents]]): one
    * row per user per inactivity episode, emitted when the event-time
    * timeout (watermark past last event + idle gap) fires.
    *
    * Why the state BUFFERS step timestamps instead of folding
    * incrementally: the chain is t_click = min click AFTER t_view, and
    * a late-but-in-watermark view can lower t_view, which RE-QUALIFIES
    * clicks that an eager fold would already have discarded — the
    * final chain is only computable at close. State is bounded all the
    * same: only the three step types are kept, per user, inside one
    * activity horizon, and the timeout removes it. Millisecond
    * precision (same contract as [[sessionize]]'s SessionState).
    */
  def funnel(events: Dataset[Event], idleMinutes: Int = 30): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val idleMs = idleMinutes * 60L * 1000L

    def close(userId: Long, b: FunnelBuf): FunnelRow = {
      val tv = b.views.minOption
      val tc = tv.flatMap(v => b.clicks.filter(_ > v).minOption)
      val tp = tc.flatMap(c => b.purchases.filter(_ > c).minOption)
      val depth = if (tp.isDefined) 3 else if (tc.isDefined) 2 else if (tv.isDefined) 1 else 0
      FunnelRow(userId, tv.map(new Timestamp(_)), tc.map(new Timestamp(_)),
        tp.map(new Timestamp(_)), depth)
    }

    keyedFold(events)(_.user_id) { (_, st: Option[FunnelBuf], rows, wm) =>
      var b = st.getOrElse(FunnelBuf(Nil, Nil, Nil, Long.MinValue))
      rows.foreach { e =>
        val t = e.ts.getTime
        b = e.event_type match {
          case "view"     => b.copy(views = t :: b.views, last = math.max(b.last, t))
          case "click"    => b.copy(clicks = t :: b.clicks, last = math.max(b.last, t))
          case "purchase" => b.copy(purchases = t :: b.purchases, last = math.max(b.last, t))
          // non-step events still mark the user active (a user with
          // only such events closes at depth 0, matching the batch's
          // DISTINCT user_id left spine)
          case _          => b.copy(last = math.max(b.last, t))
        }
      }
      b = b.compacted(wm)
      (Some(b -> (b.last + idleMs)), Nil)
    } { (userId, b) => (None, Seq(close(userId, b))) }
  }

  /** STREAM-STREAM interval join: attribute each purchase to the views
    * by the same user within the preceding `windowMinutes`. Both sides
    * carry watermarks and the join condition bounds event-time on both
    * sides, so Spark can evict buffered state once the watermark
    * passes the interval — state is O(events inside the window), not
    * O(stream history). This is the engine capability the reference's
    * stateless MV never needed and a behavioral-analytics pipeline
    * always does.
    *
    * Batch-gated as `st_attribution` (StreamingGates) — identical
    * relational semantics; EventsStreamSpec asserts stream/batch
    * parity on the fixture.
    */
  def attribution(events: Dataset[Event], windowMinutes: Int = 30): DataFrame = {
    val views = events.toDF()
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", Lateness)
    val purchases = events.toDF()
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", Lateness)
    purchases.join(views,
      col("user_id") === col("p_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        col("purchase_ts"), col("view_ts"))
  }

  /** Run a streaming stage to a checkpointed parquet sink, AvailableNow. */
  def runToParquet(out: DataFrame, tablePath: String, checkpoint: String): StreamingQuery =
    out.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", tablePath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
