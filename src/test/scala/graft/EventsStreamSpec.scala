package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Stateful streaming semantics: watermarked windowed aggregation emits
  * finalized windows exactly once; sessionization closes sessions on the
  * event-time gap and evicts state via timeout.
  *
  * Determinism: a far-future sentinel event pushes the watermark past
  * every window/session under test, so AvailableNow runs emit them all.
  */
class EventsStreamSpec extends SparkSpec {

  private def ev(user: Long, id: Long, typ: String, value: Double, ts: String) =
    s"""{"user_id":$user,"event_id":$id,"event_type":"$typ","value":$value,"ts":"$ts"}"""

  private val base = Seq(
    ev(1, 1, "view", 1.0, "2025-07-01T10:00:30Z"),
    ev(1, 2, "view", 2.0, "2025-07-01T10:01:10Z"),   // same 5-min window
    ev(2, 3, "purchase", 10.0, "2025-07-01T10:03:00Z"),
    ev(1, 4, "view", 3.0, "2025-07-01T10:07:00Z"),   // next window
    """not json at all""",                           // dropped by parse
    ev(1, 5, "view", 9.0, "2025-07-01T11:00:00Z"),   // new session for user 1
    // sentinel: watermark pushes past everything above
    ev(99, 999, "view", 0.0, "2025-07-01T23:00:00Z"),
  )

  private def writeInput(dir: String): Unit =
    Files.writeString(Paths.get(dir, "events.jsonl"), base.mkString("\n"))

  test("watermarked 5-min windows aggregate per event_type, append-once") {
    val in = tmpDir("es-in"); val out = tmpDir("es-out"); val ck = tmpDir("es-ck")
    writeInput(in)
    EventsStream.runToParquet(
      EventsStream.windowedCounts(EventsStream.parse(spark.readStream.text(in))),
      out, ck).awaitTermination(120000)

    val rows = spark.read.parquet(out)
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("event_type"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // windows: 10:00 (2 views 3.0 + 1 purchase 10.0), 10:05 (1 view 3.0),
    // 11:00 (1 view 9.0); sentinel's own window is NOT finalized.
    assert(rows === Set(
      ("10:00", "view", 2L, 3.0),
      ("10:00", "purchase", 1L, 10.0),
      ("10:05", "view", 1L, 3.0),
      ("11:00", "view", 1L, 9.0),
    ))
  }

  test("streaming OHLC bars: open/close by event-time order, append-once, batch parity") {
    val in = tmpDir("oh-in"); val out = tmpDir("oh-out"); val ck = tmpDir("oh-ck")
    writeInput(in)
    EventsStream.runToParquet(
      EventsStream.ohlcBars(EventsStream.parse(spark.readStream.text(in))),
      out, ck).awaitTermination(120000)

    val bars = spark.read.parquet(out)
      .select(date_format(col("bar_start"), "HH:mm").as("b"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    // hour 10: views 1.0@10:00:30, 2.0@10:01:10, 3.0@10:07 →
    // open=first-by-time=1.0, close=last=3.0, high=3.0, low=1.0;
    // the purchase is its own single-event bar. Hour 11: one view.
    // The sentinel's 23:00 bar is NOT finalized (watermark 22:50).
    assert(bars === Set(
      ("10:00", "view", 1.0, 3.0, 1.0, 3.0, 3L),
      ("10:00", "purchase", 10.0, 10.0, 10.0, 10.0, 1L),
      ("11:00", "view", 9.0, 9.0, 9.0, 9.0, 1L),
    ))

    // parity with the batch gate's first/last-over-window formulation:
    // the same events through the batch expressions yield the same bars
    import org.apache.spark.sql.expressions.Window
    val parsed = EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
      .filter(col("user_id") =!= 99) // finalized hours only
    val w = Window.partitionBy(col("event_type"), date_trunc("hour", col("ts")))
      .orderBy(col("ts"), col("event_id"))
    val batch = parsed
      .withColumn("open", first(col("value")).over(w))
      .withColumn("close", last(col("value")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bar_start"))
      .agg(min(col("open")).as("open"), max(col("value")).as("high"),
        min(col("value")).as("low"), min(col("close")).as("close"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("bar_start"), "HH:mm"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(batch === bars)
  }

  test("streaming transition pairs: batch parity on the fixture, O(1) state per user") {
    val in = tmpDir("tp-in"); val out = tmpDir("tp-out"); val ck = tmpDir("tp-ck")
    writeInput(in)
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.transitionPairs(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)

    val pairs = spark.read.parquet(out)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // user 1's chain view(1)→view(2)→view(4)→view(5) = 3 view→view
    // transitions; users 2 and 99 are single-event (no pair)
    assert(pairs === Set(("view", "view", 3L)))

    // batch parity: the same events through the batch gate's lead
    // formulation yield the same (from, to, n) relation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(batch === pairs)
  }

  test("streaming TWAP: closed days are bit-equal to the batch aggregate; open day holds back") {
    val in = tmpDir("tw-in"); val out = tmpDir("tw-out"); val ck = tmpDir("tw-ck")
    // two full days per user + a day-3 sentinel that closes them all
    val lines = Seq(
      ev(1, 1, "view", 1.0, "2025-07-01T10:00:00Z"),
      ev(1, 2, "view", 3.0, "2025-07-01T10:30:00Z"),
      ev(1, 3, "view", 5.0, "2025-07-01T11:30:00Z"),  // day-1 close (no successor)
      ev(1, 4, "view", 7.0, "2025-07-02T09:00:00Z"),  // later-day arrival closes day 1
      ev(1, 5, "view", 9.0, "2025-07-02T10:00:00Z"),
      ev(2, 6, "purchase", 10.0, "2025-07-01T08:00:00Z"),
      ev(2, 7, "purchase", 20.0, "2025-07-01T20:00:00Z"),
      ev(2, 8, "purchase", 0.5, "2025-07-02T23:59:00Z"), // single-event day: no row
      ev(99, 999, "view", 0.0, "2025-07-03T12:00:00Z"),  // sentinel: watermark past day 2
    )
    Files.writeString(Paths.get(in, "events.jsonl"), lines.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.twapDaily(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)

    val got = spark.read.parquet(out)
      .select(col("user_id"), col("day").cast("string"), col("n_intervals"),
        col("span_us"), col("twap"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // hand check, user 1 day 1: 1.0 for 30min + 3.0 for 60min over 90min
    assert(got.contains((1L, "2025-07-01", 2L, 5400000000L,
      math.rint((1.0 * 1800 + 3.0 * 3600) / 5400 * 1e6) / 1e6)))
    // batch parity on every closed day (sentinel's open day excluded)
    val batch = graft.queries.StreamingGates.twapOver(
      EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
        .filter(col("user_id") =!= 99))
      .select(col("user_id"), col("day").cast("string"), col("n_intervals"),
        col("span_us"), col("twap"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got === batch, s"streaming $got vs batch $batch")
    // single-event and zero-span days emit nothing
    assert(!got.exists(r => r._1 == 2L && r._2 == "2025-07-02"))
  }

  test("streaming TWAP: a closed day is never reopened by sub-watermark stragglers") {
    val in = tmpDir("tw2-in"); val out = tmpDir("tw2-out"); val ck = tmpDir("tw2-ck")
    // run 1: user 5 has a two-point day 1 (span > 0) and a sentinel
    // pushes the watermark past day 1's close threshold, so the
    // event-time timeout emits the day and removes the state
    Files.writeString(Paths.get(in, "a.jsonl"), Seq(
      ev(5, 1, "view", 2.0, "2025-07-01T08:00:00Z"),
      ev(5, 2, "view", 4.0, "2025-07-01T09:00:00Z"),
      ev(99, 999, "view", 0.0, "2025-07-03T12:00:00Z"),
    ).mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.twapDaily(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    def day1Rows() = spark.read.parquet(out)
      .filter(col("user_id") === 5 && col("day").cast("string") === "2025-07-01")
      .collect()
    assert(day1Rows().length === 1)

    // run 2 (same checkpoint → persisted watermark): two stragglers for
    // the already-closed day 1. flatMapGroupsWithState still delivers
    // sub-watermark rows, so without the closed-day guard they would
    // rebuild state and the timeout would emit a SECOND partial row
    // for (5, 2025-07-01).
    Files.writeString(Paths.get(in, "b.jsonl"), Seq(
      ev(5, 3, "view", 100.0, "2025-07-01T10:00:00Z"),
      ev(5, 4, "view", 200.0, "2025-07-01T11:00:00Z"),
    ).mkString("\n"))
    EventsStream.runToParquet(
      EventsStream.twapDaily(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val rows = day1Rows()
    assert(rows.length === 1, s"closed day reopened: ${rows.mkString(";")}")
    // and the surviving row is still the run-1 aggregate: 2.0 held for
    // the single 08:00→09:00 interval (the 4.0 point has no successor)
    assert(rows.head.getAs[Double]("twap") === 2.0)
  }

  test("streaming U-shaped attribution: bit-parity with the batch gate, incl. same-ts view") {
    val in = tmpDir("at-in"); val out = tmpDir("at-out"); val ck = tmpDir("at-ck")
    val lines = Seq(
      // user 1: 3 views then a purchase -> 0.4 / 0.2 / 0.4
      ev(1, 1, "view", 1.0, "2025-07-01T10:00:00Z"),
      ev(1, 2, "view", 1.0, "2025-07-01T10:05:00Z"),
      ev(1, 3, "view", 1.0, "2025-07-01T10:10:00Z"),
      ev(1, 4, "purchase", 9.0, "2025-07-01T10:20:00Z"),
      // user 2: view AT the purchase timestamp (inclusive <=) plus one
      // earlier view -> k=2, 0.5 each
      ev(2, 5, "view", 1.0, "2025-07-01T11:00:00Z"),
      ev(2, 7, "view", 1.0, "2025-07-01T11:15:00Z"),
      ev(2, 6, "purchase", 9.0, "2025-07-01T11:15:00Z"),
      // user 3: view outside the 30-min window -> purchase with no touches
      ev(3, 8, "view", 1.0, "2025-07-01T09:00:00Z"),
      ev(3, 9, "purchase", 9.0, "2025-07-01T12:00:00Z"),
      ev(99, 999, "view", 0.0, "2025-07-02T23:00:00Z"), // sentinel
    )
    Files.writeString(Paths.get(in, "events.jsonl"), lines.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.attribPosition(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select(col("user_id"), col("purchase_id"), col("view_id"), col("pos"),
        col("n_touch"), col("credit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === Set(
      (1L, 4L, 1L, 1, 3L, 0.4), (1L, 4L, 2L, 2, 3L, 0.2), (1L, 4L, 3L, 3, 3L, 0.4),
      (2L, 6L, 5L, 1, 2L, 0.5), (2L, 6L, 7L, 2, 2L, 0.5),
    ))
    // bit-parity with the batch gate over the same rows (sentinel has
    // no purchase, so it cannot contribute)
    val tmp = tmpDir("at-tbl")
    EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val batch = graft.queries.StreamingGates.attribPosition(spark, tmp)
      .select(col("user_id"), col("purchase_id"), col("view_id"), col("pos"),
        col("n_touch"), col("credit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got === batch, s"streaming $got vs batch $batch")
  }

  test("streaming Page-Hinkley: closed hours are bit-equal to the batch frame") {
    val in = tmpDir("ph-in"); val out = tmpDir("ph-out"); val ck = tmpDir("ph-ck")
    // two types over five hours with a level shift at h=3 so PH
    // actually rises; sentinel closes everything still open by arrival
    // or timeout
    val lines = (0 until 5).flatMap { h =>
      val lift = if (h >= 3) 5.0 else 0.0
      Seq(
        ev(1, h * 10 + 1, "view", 1.0 + h * 0.1 + lift + 0.123456,
          s"2025-07-01T1$h:05:00Z"),
        ev(1, h * 10 + 2, "view", 2.5 - h * 0.3 + lift,
          s"2025-07-01T1$h:25:00Z"),
        ev(2, h * 10 + 3, "purchase", 10.0 + h + lift * 2 + 0.77,
          s"2025-07-01T1$h:40:00Z"),
      )
    } :+ ev(99, 999, "view", 0.0, "2025-07-03T12:00:00Z")
    Files.writeString(Paths.get(in, "events.jsonl"), lines.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.pageHinkley(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select(col("event_type"), col("hour"), col("bar"), col("ph_bar"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2), r.getDouble(3))).toSet
    assert(got.nonEmpty)
    // batch per-hour frame over the same rows; the sentinel's own
    // (never-closed) hour is the only batch row the stream cannot emit
    val tmp = tmpDir("ph-tbl")
    EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val sentinelHour = java.time.Instant.parse("2025-07-03T12:00:00Z").toEpochMilli
    val batch = graft.queries.StreamingGates.pageHinkleyHours(spark, tmp)
      .select(col("event_type"), col("hour"), col("bar"), col("ph_bar"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2), r.getDouble(3)))
      .filter(_._2 < sentinelHour).toSet
    assert(got === batch, s"streaming $got vs batch $batch")
    // 10 rows: 2 types x 5 hours; PH is 0 at the first hour and
    // strictly positive after the h=3 level shift
    assert(got.size === 10)
    for (t <- Seq("view", "purchase")) {
      val series = got.filter(_._1 == t).toSeq.sortBy(_._2)
      assert(series.head._4 === 0.0, s"$t first-hour PH")
      assert(series.last._4 > 0.0, s"$t post-shift PH")
    }
  }

  test("streaming rolling p95: closed hours are bit-equal to the batch gate") {
    val in = tmpDir("rp-in"); val out = tmpDir("rp-out"); val ck = tmpDir("rp-ck")
    // two types over four hours with multiple events per hour, values
    // chosen to exercise real interpolation; sentinel closes everything
    val lines = (0 until 4).flatMap { h =>
      Seq(
        ev(1, h * 10 + 1, "view", 1.0 + h + 0.123456, s"2025-07-01T1$h:05:00Z"),
        ev(1, h * 10 + 2, "view", 2.5 - h * 0.3, s"2025-07-01T1$h:25:00Z"),
        ev(2, h * 10 + 3, "purchase", 10.0 * (h + 1) + 0.77, s"2025-07-01T1$h:40:00Z"),
      )
    } :+ ev(99, 999, "view", 0.0, "2025-07-03T12:00:00Z")
    Files.writeString(Paths.get(in, "events.jsonl"), lines.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.rollingP95(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select(col("event_type"), col("hour"), col("bar"), col("n_window"),
        col("p95_24h"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2), r.getLong(3), r.getDouble(4))).toSet
    assert(got.nonEmpty)
    // batch twin over the same rows; the sentinel's own (never-closed)
    // hour is the only batch row the stream cannot emit
    val tmp = tmpDir("rp-tbl")
    EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val sentinelHour = java.time.Instant.parse("2025-07-03T12:00:00Z").toEpochMilli
    val batch = graft.queries.StreamingGates.rollingP95(spark, tmp)
      .select(col("event_type"), col("hour"), col("bar"), col("n_window"),
        col("p95_24h"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .filter(_._2 < sentinelHour).toSet
    assert(got === batch, s"streaming $got vs batch $batch")
    // 8 rows: 2 types x 4 hours, windows growing 1..4
    assert(got.size === 8)
    assert(got.filter(_._1 == "view").map(_._4) === Set(1L, 2L, 3L, 4L))
  }

  test("streaming EWMA: batch parity on the fixture, head point is its own average") {
    val in = tmpDir("ew-in"); val out = tmpDir("ew-out"); val ck = tmpDir("ew-ck")
    writeInput(in)
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.ewma(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)

    val got = spark.read.parquet(out)
      .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    // batch parity: the same events through the batch gate's shared
    // lag projection yield bit-equal smoothed points
    val batch = graft.queries.StreamingGates.ewmaOver(
      EventsStream.parse(spark.read.text(in).select(col("value"))).toDF()
        .select(col("user_id"), col("ts"), col("event_id"), col("value").as("v")))
      .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got === batch)
    // single-event users smooth to themselves
    assert(got.filter(_._1 == 2L).map(p => (p._3, p._4)) === Set((10.0, 10.0)))
    // user 1's second point: (2*1e6 + 1*9e5) / 1.9e6 rounded
    assert(got.contains((1L, 2L, 2.0, 1.526316)))
  }

  test("sessionize: 30-min gap closes sessions, state evicts by timeout") {
    val in = tmpDir("ss-in"); val out = tmpDir("ss-out"); val ck = tmpDir("ss-ck")
    writeInput(in)
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.sessionize(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)

    val sessions = spark.read.parquet(out)
      .select(col("user_id"), date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"),
        col("n_events"), col("total_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    // user 1: events at 10:00:30, 10:01:10, 10:07 = one session (gaps < 30m),
    // then 11:00 opens a second (closed by the sentinel-driven watermark).
    // user 2: single-event session. Sentinel user 99's session stays open.
    assert(sessions === Set(
      (1L, "10:00", "10:07", 3L, 6.0),
      (1L, "11:00", "11:00", 1L, 9.0),
      (2L, "10:03", "10:03", 1L, 10.0),
    ))
  }

  test("sessionize parity: streaming output equals the batch derivation's closed sessions") {
    val in = tmpDir("sp-in"); val out = tmpDir("sp-out"); val ck = tmpDir("sp-ck")
    writeInput(in)
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.sessionize(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 6).as("tv"))
      .collect().toSet

    // batch derivation over the SAME parsed events; the stream emits
    // only sessions its watermark (max ts - 10 min) has closed, so
    // filter the batch result to those before comparing
    val parsed = EventsStream.parse(spark.read.text(in)).toDF()
    val maxTs = parsed.agg(max(unix_micros(col("ts")))).as[Long].head()
    val watermarkUs = maxTs - 10L * 60 * 1000000
    val batch = graft.queries.StreamingGates.sessionizeEvents(parsed)
      .filter(unix_micros(col("session_end")) + 30L * 60 * 1000000 < watermarkUs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), round(col("total_value"), 6).as("tv"))
      .collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming KMV distinct users: bounded state, parity with the batch sketch") {
    val in = tmpDir("kmv-in"); val out = tmpDir("kmv-out"); val ck = tmpDir("kmv-ck")
    // 5 distinct view users (user 1 twice — the sketch dedups by hash),
    // 2 purchase users; the watermark-pushing sentinel is its own
    // event_type so it can't feed or re-arm the groups under test
    Files.writeString(Paths.get(in, "events.jsonl"), Seq(
      ev(1, 1, "view", 1.0, "2025-07-01T10:00:00Z"),
      ev(2, 2, "view", 1.0, "2025-07-01T10:01:00Z"),
      ev(3, 3, "view", 1.0, "2025-07-01T10:02:00Z"),
      ev(4, 4, "view", 1.0, "2025-07-01T10:03:00Z"),
      ev(5, 5, "view", 1.0, "2025-07-01T10:04:00Z"),
      ev(1, 6, "view", 1.0, "2025-07-01T10:04:30Z"),
      ev(1, 7, "purchase", 5.0, "2025-07-01T10:05:00Z"),
      ev(2, 8, "purchase", 5.0, "2025-07-01T10:06:00Z"),
      ev(999, 999, "wmpush", 0.0, "2025-07-01T23:00:00Z"),
    ).mkString("\n"))
    import spark.implicits._
    // k = 2 < the 5 distinct view users, so the view estimate takes the
    // kth-hash path (not the exact-count short circuit)
    EventsStream.runToParquet(
      EventsStream.kmvDistinctUsers(
        EventsStream.parse(spark.readStream.text(in)), k = 2).toDF(),
      out, ck).awaitTermination(120000)
    val streamed = spark.read.parquet(out).as[(String, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed.keySet === Set("view", "purchase")) // wmpush never quiesces

    // parity: the batch twin (same hash column, same cut, same
    // estimator) over the same parsed rows, per emitted group
    val batch = EventsStream.kmvDistinctUsersBatch(
      EventsStream.parse(spark.read.text(in)).toDF().as[EventsStream.Event], k = 2)
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    streamed.foreach { case (typ, (kSeen, est)) =>
      val (bk, be) = batch(typ)
      assert(kSeen === bk, s"$typ k_seen")
      assert(math.abs(est - be) <= 1e-6, s"$typ estimate: stream $est vs batch $be")
    }
    // the kth-hash path really ran: view saw 5 distinct users but holds
    // only k = 2 hashes, and its estimate is not the exact short-circuit
    assert(streamed("view")._1 === 2)
    assert(streamed("purchase")._1 === 2)

    // the kept sketch re-arms: a second run over the same checkpoint
    // adds two new view users above the restored watermark and a later
    // sentinel, so the view group quiesces again and emits its updated
    // estimate; the first run's rows are unchanged. User 30's hash
    // falls between the first run's two smallest view hashes and user
    // 6's above them, so the new estimate needs the kept sketch: a
    // sketch rebuilt from the second run alone would cut at user 6
    val run1 = spark.read.parquet(out).as[(String, Int, Double)].collect().toSeq
    Files.writeString(Paths.get(in, "events2.jsonl"), Seq(
      ev(6, 106, "view", 1.0, "2025-07-01T23:10:00Z"),
      ev(30, 130, "view", 1.0, "2025-07-01T23:11:00Z"),
      ev(999, 1999, "wmpush", 0.0, "2025-07-02T12:00:00Z")).mkString("\n"))
    EventsStream.runToParquet(
      EventsStream.kmvDistinctUsers(
        EventsStream.parse(spark.readStream.text(in)), k = 2).toDF(),
      out, ck).awaitTermination(120000)
    val run2 = spark.read.parquet(out).as[(String, Int, Double)].collect().toSeq
    assert(run1.diff(run2).isEmpty, "first run's rows unchanged")
    val added = run2.diff(run1)
    assert(added.size === 1 && added.head._1 === "view", added)
    val (_, kSeen2, est2) = added.head
    assert(kSeen2 > streamed("view")._1 || est2 > streamed("view")._2,
      s"updated view estimate ($kSeen2, $est2) vs first ${streamed("view")}")
    val (bk2, be2) = EventsStream.kmvDistinctUsersBatch(
      EventsStream.parse(spark.read.text(in)).toDF().as[EventsStream.Event], k = 2)
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      .apply("view")
    assert(kSeen2 === bk2, "second view k_seen")
    assert(math.abs(est2 - be2) <= 1e-6, s"second view estimate: stream $est2 vs batch $be2")
  }

  test("streaming HLL: quiesce estimates replay the batch register derivation") {
    val in = tmpDir("hll-in"); val out = tmpDir("hll-out"); val ck = tmpDir("hll-ck")
    // 40 distinct view users + 12 purchase users — enough to spread
    // across registers; the sentinel pushes the watermark past quiesce
    val views = (1 to 40).map(u =>
      ev(u, u, "view", 1.0, f"2025-07-01T10:${u % 60}%02d:00Z"))
    val buys = (1 to 12).map(u =>
      ev(100 + u, 200 + u, "purchase", 5.0, f"2025-07-01T10:${u % 60}%02d:30Z"))
    Files.writeString(Paths.get(in, "events.jsonl"),
      (views ++ buys :+ ev(999, 999, "wmpush", 0.0, "2025-07-01T23:00:00Z"))
        .mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.hllDistinctUsers(
        EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val streamed = spark.read.parquet(out).as[(String, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed.keySet === Set("view", "purchase"))
    val batch = EventsStream.hllDistinctUsersBatch(
      EventsStream.parse(spark.read.text(in)).toDF().as[EventsStream.Event]
        .filter(e => e.event_type != "wmpush"))
      .as[(String, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    streamed.foreach { case (typ, (vZero, est)) =>
      val (bv, be) = batch(typ)
      assert(vZero === bv, s"$typ v_zero")
      assert(math.abs(est - be) <= 1e-6, s"$typ estimate: stream $est vs batch $be")
    }
    // the estimates are plausible cardinalities, not register noise
    assert(math.abs(streamed("view")._2 - 40) < 40 * 0.7, streamed("view"))
    assert(math.abs(streamed("purchase")._2 - 12) < 12 * 0.9, streamed("purchase"))
  }

  test("streaming theta overlap: quiesce estimate replays the batch sketch algebra") {
    val in = tmpDir("th-in"); val out = tmpDir("th-out"); val ck = tmpDir("th-ck")
    // 40 view users, purchase users 30..45 → true overlap 30..40; a
    // small k forces the top-k cut and theta path; the non-set-type
    // sentinel must still advance the watermark past quiesce
    val views = (1 to 40).map(u =>
      ev(u, u, "view", 1.0, f"2025-07-01T10:${u % 60}%02d:00Z"))
    val buys = (30 to 45).map(u =>
      ev(u, 500 + u, "purchase", 5.0, f"2025-07-01T10:${u % 60}%02d:30Z"))
    Files.writeString(Paths.get(in, "events.jsonl"),
      (views ++ buys :+ ev(999, 999, "wmpush", 0.0, "2025-07-01T23:00:00Z"))
        .mkString("\n"))
    import spark.implicits._
    val k = 24
    EventsStream.runToParquet(
      EventsStream.thetaOverlapUsers(
        EventsStream.parse(spark.readStream.text(in)), k).toDF(),
      out, ck).awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .as[(Int, Int, Long, Int, Int, Double, Double)].collect()
    assert(streamed.length === 1, "exactly one quiesce emission")
    val batch = EventsStream.thetaOverlapUsersBatch(
      EventsStream.parse(spark.read.text(in)).toDF()
        .as[EventsStream.Event], k)
      .as[(Int, Int, Long, Int, Int, Double, Double)].collect()
    assert(batch.length === 1)
    val (sv, bv) = (streamed.head, batch.head)
    assert(sv._1 === bv._1, "k_a"); assert(sv._2 === bv._2, "k_b")
    assert(sv._3 === bv._3, "theta")
    assert(sv._4 === bv._4, "kept_union"); assert(sv._5 === bv._5, "kept_inter")
    assert(math.abs(sv._6 - bv._6) <= 1e-6, "est_union")
    assert(math.abs(sv._7 - bv._7) <= 1e-6, "est_inter")
    // the top-k cut really ran (40 views > k) and the estimates are
    // plausible cardinalities of union 45 / intersection 11
    assert(sv._1 === k)
    assert(math.abs(sv._6 - 45) < 45 * 0.9, s"union est ${sv._6}")
    assert(sv._7 >= 0 && sv._7 < 45, s"inter est ${sv._7}")
  }

  test("novelty filter: first event per user emitted exactly once, state survives runs") {
    val in = tmpDir("nv-in"); val out = tmpDir("nv-out"); val ck = tmpDir("nv-ck")
    def run(): Unit =
      EventsStream.runToParquet(
        EventsStream.noveltyFilter(EventsStream.parse(spark.readStream.text(in))).toDF(),
        out, ck).awaitTermination(120000)

    // run 1: users 1, 2, 3 with in-run duplicates — only each user's
    // FIRST event (by ts) may emit
    Files.writeString(Paths.get(in, "batch1.jsonl"), Seq(
      ev(1, 1, "view", 1.0, "2025-07-01T10:00:00Z"),
      ev(2, 2, "view", 1.0, "2025-07-01T10:01:00Z"),
      ev(1, 3, "click", 1.0, "2025-07-01T10:02:00Z"),
      ev(3, 4, "view", 1.0, "2025-07-01T10:03:00Z"),
      ev(2, 5, "purchase", 1.0, "2025-07-01T10:04:00Z"),
    ).mkString("\n"))
    run()
    val r1 = spark.read.parquet(out).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 === Set((1L, 1L), (2L, 2L), (3L, 4L)))

    // run 2 over the SAME checkpoint: users 2 and 3 return (must stay
    // silent — the Bloom state carries the whole history), user 4 is new
    Files.writeString(Paths.get(in, "batch2.jsonl"), Seq(
      ev(2, 6, "view", 1.0, "2025-07-01T11:00:00Z"),
      ev(4, 7, "view", 1.0, "2025-07-01T11:01:00Z"),
      ev(3, 8, "click", 1.0, "2025-07-01T11:02:00Z"),
    ).mkString("\n"))
    run()
    val r2 = spark.read.parquet(out).select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r2 === r1 + ((4L, 7L)))

    // batch parity on this collision-free key set: emitted == the batch
    // first-event-per-user derivation over everything ingested
    import spark.implicits._
    val firsts = EventsStream.parse(spark.read.text(in)).toDF()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)].collect().toSet
    assert(r2 === firsts)
  }

  test("native session_window streaming: parity with the custom session engine") {
    val in = tmpDir("sw-in"); val out = tmpDir("sw-out"); val ck = tmpDir("sw-ck")
    writeInput(in)
    EventsStream.runToParquet(
      EventsStream.sessionWindowCounts(EventsStream.parse(spark.readStream.text(in))),
      out, ck).awaitTermination(120000)
    val native = spark.read.parquet(out)
      .select(col("user_id"), unix_timestamp(col("session_start")).as("ss"),
        unix_timestamp(col("session_end")).as("se"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    def ep(s: String) = java.time.Instant.parse(s).getEpochSecond
    // custom sessionize's sessions with end = last event; native end =
    // last event + 30 min. Sentinel's own session is past the
    // watermark and must NOT emit.
    assert(native === Set(
      (1L, ep("2025-07-01T10:00:30Z"), ep("2025-07-01T10:37:00Z"), 3L, 6.0),
      (1L, ep("2025-07-01T11:00:00Z"), ep("2025-07-01T11:30:00Z"), 1L, 9.0),
      (2L, ep("2025-07-01T10:03:00Z"), ep("2025-07-01T10:33:00Z"), 1L, 10.0),
    ))
  }

  test("stream-stream interval join: purchases attribute to preceding views") {
    val in = tmpDir("at-in"); val out = tmpDir("at-out"); val ck = tmpDir("at-ck")
    val withPurchases = base ++ Seq(
      ev(1, 50, "purchase", 5.0, "2025-07-01T10:20:00Z"), // views 1, 2, 4 in window
      ev(1, 51, "purchase", 6.0, "2025-07-01T11:05:00Z"), // view 5 in window
    )
    Files.writeString(Paths.get(in, "events.jsonl"), withPurchases.mkString("\n"))
    EventsStream.runToParquet(
      EventsStream.attribution(EventsStream.parse(spark.readStream.text(in))),
      out, ck).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select("user_id", "purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1 purchase@10:20 <- views 10:00:30/10:01:10/10:07; @11:05 <- 11:00.
    // user 2's purchase has no views; sentinel view has no purchase.
    assert(got === Set(
      (1L, 50L, 1L), (1L, 50L, 2L), (1L, 50L, 4L),
      (1L, 51L, 5L),
    ))
  }

  test("stream-static dim enrichment: broadcast join per micro-batch, parity with batch") {
    val in = tmpDir("en-in"); val out = tmpDir("en-out"); val ck = tmpDir("en-ck")
    writeInput(in)
    import spark.implicits._
    val dim = Seq(("view", "browse", 2.0), ("purchase", "conversion", 10.0))
      .toDF("event_type", "category", "weight")
    EventsStream.runToParquet(
      EventsStream.enrichedWindowedValue(
        EventsStream.parse(spark.readStream.text(in)), dim),
      out, ck).awaitTermination(120000)
    val got = spark.read.parquet(out)
      .select(date_format(col("window_start"), "HH:mm").as("w"),
        col("category"), col("n_events"), col("weighted_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // batch parity on the same finalized windows: views weight 2.0,
    // purchases weight 10.0; the 23:00 sentinel window never finalizes
    assert(got === Set(
      ("10:00", "browse", 2L, 6.0),        // values 1+2 → (1+2)*2
      ("10:00", "conversion", 1L, 100.0),  // 10*10
      ("10:05", "browse", 1L, 6.0),        // 3*2
      ("11:00", "browse", 1L, 18.0),       // 9*2
    ))
    // and the join really is the static-broadcast shape: no state-store
    // operator for the join itself (only the windowed agg downstream)
    val plan = EventsStream.enrichedWindowedValue(
      EventsStream.parse(spark.readStream.text(in)), dim)
      .queryExecution.analyzed.toString
    assert(plan.contains("ResolvedHint"), "dim must carry the broadcast hint")
  }

  test("dropDuplicatesWithinWatermark: re-delivered event ids collapse to one") {
    val in = tmpDir("dd-in"); val out = tmpDir("dd-out"); val ck = tmpDir("dd-ck")
    val withDups = base ++ Seq(
      ev(1, 1, "view", 1.0, "2025-07-01T10:00:30Z"),  // exact re-delivery
      ev(1, 2, "view", 2.0, "2025-07-01T10:02:00Z"),  // same id, drifted ts
    )
    Files.writeString(Paths.get(in, "events.jsonl"), withDups.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.dedupedEvents(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 3L, 4L, 5L, 999L)) // each id exactly once
  }

  test("funnel parity: streaming episodes equal the batch chain, incl. late re-qualifying view") {
    val in = tmpDir("fn-in"); val out = tmpDir("fn-out"); val ck = tmpDir("fn-ck")
    val funnelEvents = Seq(
      // user 1 completes the funnel, but OUT OF ORDER: the click at
      // 10:02 arrives before the 10:01 view that qualifies it — an
      // eager fold (no view yet -> discard click) would get depth wrong
      ev(1, 1, "click", 1.0, "2025-07-01T10:02:00Z"),
      ev(1, 2, "view", 1.0, "2025-07-01T10:01:00Z"),
      ev(1, 3, "purchase", 5.0, "2025-07-01T10:04:00Z"),
      // user 2: purchase BEFORE any view — depth must stop at 1
      ev(2, 4, "purchase", 9.0, "2025-07-01T10:00:00Z"),
      ev(2, 5, "view", 1.0, "2025-07-01T10:05:00Z"),
      // user 3: only a non-step event — depth 0, still present
      ev(3, 6, "error", 0.0, "2025-07-01T10:03:00Z"),
      // sentinel pushes the watermark past everyone's idle timeout
      ev(99, 999, "view", 0.0, "2025-07-01T23:00:00Z"),
    )
    Files.writeString(Paths.get(in, "events.jsonl"), funnelEvents.mkString("\n"))
    import spark.implicits._
    EventsStream.runToParquet(
      EventsStream.funnel(EventsStream.parse(spark.readStream.text(in))).toDF(),
      out, ck).awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("user_id", "t_view", "t_click", "t_purchase", "funnel_depth")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getInt(4)))
      .toSet

    // batch chain over the same parsed events; the sentinel user's
    // episode is still open in the stream, so exclude it
    val parsed = EventsStream.parse(spark.read.text(in)).toDF()
    val batch = graft.queries.StreamingGates.funnelEvents(parsed)
      .filter(col("user_id") =!= 99)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getInt(4)))
      .toSet
    assert(streamed === batch)
    assert(batch.map(t => (t._1, t._5)) === Set((1L, 3), (2L, 1), (3L, 0)))
  }

  test("funnel buf compaction is exact under any above-watermark future (ADVICE r5)") {
    import graft.streaming.FunnelBuf
    // the close() chain semantics, replicated: t_click = min click AFTER
    // t_view, t_purchase = min purchase AFTER t_click
    def chain(b: FunnelBuf): (Option[Long], Option[Long], Option[Long]) = {
      val tv = b.views.minOption
      val tc = tv.flatMap(v => b.clicks.filter(_ > v).minOption)
      val tp = tc.flatMap(c => b.purchases.filter(_ > c).minOption)
      (tv, tc, tp)
    }
    def fold(b: FunnelBuf, evs: Seq[(String, Long)]): FunnelBuf =
      evs.foldLeft(b) { case (acc, (k, t)) => k match {
        case "v" => acc.copy(views = t :: acc.views)
        case "c" => acc.copy(clicks = t :: acc.clicks)
        case _   => acc.copy(purchases = t :: acc.purchases)
      }}
    val rnd = new scala.util.Random(42)
    val kinds = Array("v", "c", "p")
    (1 to 300).foreach { _ =>
      // past events at arbitrary times, watermark anywhere, future
      // events strictly above it (the streaming guarantee: sub-watermark
      // rows are dropped before the stateful operator)
      val past = Seq.fill(rnd.nextInt(12))((kinds(rnd.nextInt(3)), rnd.nextInt(100).toLong))
      val w = rnd.nextInt(120).toLong
      val future = Seq.fill(rnd.nextInt(8))((kinds(rnd.nextInt(3)), w + 1 + rnd.nextInt(50).toLong))
      val raw = fold(fold(FunnelBuf(Nil, Nil, Nil, 0L), past), future)
      val compacted = fold(
        fold(FunnelBuf(Nil, Nil, Nil, 0L), past).compacted(w), future)
      assert(chain(compacted) === chain(raw),
        s"past=$past w=$w future=$future")
      // and compaction actually bounds the buffers: a fully-final chain
      // collapses to at most one element per list
      val settled = raw.compacted(Long.MaxValue)
      assert(settled.views.size <= 1 && settled.clicks.size <= 1 && settled.purchases.size <= 1)
    }
  }

  test("census: one keyed event-time fold owns the stateful lifecycle in main") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // (file, enclosing object member) of every code line holding
    // `token`; full-line comments are not code
    val memberDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    def sites(token: String): Seq[(String, String)] = sources.flatMap { f =>
      var member = ""
      Files.readAllLines(f).asScala.flatMap { l =>
        memberDef.findFirstMatchIn(l).foreach(m => member = m.group(1))
        val t = l.trim
        val comment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
        if (!comment && l.contains(token)) Some(root.relativize(f).toString -> member)
        else None
      }
    }
    val es = "graft/streaming/EventsStream.scala"
    // the fold, plus noveltyFilter: no timeout and no watermark
    assert(sites("flatMapGroupsWithState(") ===
      Seq(es -> "keyedFold", es -> "noveltyFilter"))
    assert(sites("setTimeoutTimestamp") === Seq(es -> "keyedFold"))
    assert(sites("hasTimedOut") === Seq(es -> "keyedFold"))
  }

  test("second AvailableNow run over the same checkpoint emits nothing new") {
    val in = tmpDir("rs-in"); val out = tmpDir("rs-out"); val ck = tmpDir("rs-ck")
    writeInput(in)
    def run(): Unit = EventsStream.runToParquet(
      EventsStream.windowedCounts(EventsStream.parse(spark.readStream.text(in))),
      out, ck).awaitTermination(120000)
    run()
    val n1 = spark.read.parquet(out).count()
    run()
    assert(spark.read.parquet(out).count() === n1)
  }
}
