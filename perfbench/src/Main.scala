package perfbench

import graft.Sessions
import graft.bus.BusBroker
import graft.etl.Normalize
import graft.ingest.{BusTopicAdmin, Http, KafkaFrames, Landing, Pipelines, SpotifyClient, TopicAdmin}
import graft.schema.Schemas
import graft.streaming.TracksStream
import graft.tables.{ArtistTable, TrackTable}
import graft.views.TechnoViews
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, YearMonth}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It runs one workload against the program's
  * public functions and writes the raw samples, checks, counters and spans
  * as JSON; `run.py` reduces them to metrics.
  *
  * {{{
  * java … perfbench.Main --workload pipeline_daily --seed 1 --seconds 10 \
  *   --trace 0 --work <dir> --out <file.json> [--data <suite tables dir>]
  * }}}
  */
object Main {

  /** Sizes of the pipeline workloads. */
  object Size {
    val backfillItems = 30000
    val backfillArtists = 3000
    val historyItems = 30000
    val historyArtists = 4000
    val months = 12
    val filesPerMonth = 2
    val malformedPerMille = 2
    val dropSize = 150
    val readRounds = 6
    val setups = 3
    // untimed rounds before the window, until the JIT has settled
    val warmUpCycles = 3
    val warmUpDrops = 6
  }

  val topic = "ravelytics.spotify.tracks"
  val brokers = "in-process"
  // Far enough in the past that rows a malformed value defaults to the
  // processing time (the current month) never share a month with inputs.
  val firstMonth: YearMonth = YearMonth.of(2015, 1)

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val trace: Boolean, val work: Path, val cores: Int) {
    val tracer = new Tracer(trace)
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionStartS = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val querySamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val layer = mutable.LinkedHashMap.empty[String, Any]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var spark: SparkSession = _

    private val born = System.nanoTime()
    /** Seconds since JVM start at named points, to see where a run's time goes. */
    val marks = mutable.LinkedHashMap[String, Double](
      "jvm_start" -> -java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    def mark(name: String): Unit = marks(name) = (System.nanoTime() - born) / 1e9

    /** End of warm-up: the same amount of work is done on every run, so the
      * heap the program retains here compares between runs.
      */
    def warmedUp(): Unit = {
      info("live_heap_mb") = liveHeapMb()
      mark("warm")
    }

    def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    def add(name: String, v: Double): Unit =
      layer(name) = layer.get(name).map(_.asInstanceOf[Double]).getOrElse(0.0) + v

    /** Count one operation; a thrown error or a false check is a failure. */
    def attempt(what: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try body catch {
        case e: Exception => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400); return false
      }
      if (!ok) failures += s"$what: wrong output"
      ok
    }

    def dir(name: String): Path = { val p = work.resolve(name); Files.createDirectories(p); p }

    def startSession(): Unit = {
      val t0 = System.nanoTime()
      spark = Sessions.local("perfbench")
      sessionStartS += (System.nanoTime() - t0) / 1e9
    }

    def stopSession(): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = null
    }

    /** Runs `build` `Size.setups` times, each from a fresh session, and keeps
      * the last; `setupS` holds each repetition's wall time.
      */
    def setUp[T](build: => T): T = {
      var last: Option[T] = None
      for (_ <- 1 to Size.setups) {
        if (spark != null) stopSession()
        deleteTree(work)
        val t0 = System.nanoTime()
        startSession()
        last = Some(build)
        setupS += (System.nanoTime() - t0) / 1e9
      }
      tracer.attach(spark)
      mark("setup")
      last.get
    }
  }

  /** The measurement window: a further round starts while one more round,
    * at the mean length of those so far, still ends within `seconds`, and
    * always until `min` rounds have run.
    */
  object Window {
    /** Untraced runs measure for the run's seconds; traced runs do a fixed
      * number of rounds, so their counters compare exactly between runs.
      */
    def of(run: Run, min: Int, traced: Int): Window =
      if (run.trace) new Window(0.0, traced) else new Window(run.seconds, min)
  }

  final class Window(seconds: Double, min: Int) {
    private val t0 = System.nanoTime()
    var rounds = 0
    def next(): Boolean = {
      val elapsed = (System.nanoTime() - t0) / 1e9
      val go = rounds < min || elapsed * (rounds + 1) / rounds <= seconds
      if (go) rounds += 1
      go
    }
  }

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      Paths.get(o("work")).toAbsolutePath, sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val gcStart = gcMs()
    o("workload") match {
      case "pipeline_backfill" => backfillWorkload(run)
      case "pipeline_daily" => dailyWorkload(run)
      case "analytic_suite" => Suite.workload(run, o("data"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val env = Env.stamp(run.spark, run.cores)
    if (run.trace) Layers.finish(run, gcMs() - gcStart)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> run.workload, "seed" -> run.seed, "trace" -> run.trace, "env" -> env,
      "setup_s" -> run.setupS, "session_start_s" -> run.sessionStartS,
      "samples" -> run.samples, "query_samples" -> run.querySamples,
      "attempted" -> run.attempted, "failed" -> run.failures.size, "failures" -> run.failures,
      "info" -> run.info, "layers" -> run.layer)
    if (run.trace) {
      result("span_self_s") = run.tracer.selfSeconds
      result("spans") = run.tracer.spanRecords
    }
    run.stopSession()
    run.mark("end")
    run.info("marks_s") = run.marks
    run.info("vm_hwm_kb") = peakRssKb()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(Paths.get(o("out")).toFile, result)
  }

  /** Heap still in use after full collections: what the program retains
    * (caches, persisted data, logs) once the workload is done.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    // Spark's cleaner threads release what a collection found unreachable
    // (shuffles, broadcasts, cached blocks) on their own time; collect again
    // until the heap stops shrinking.
    var now = collect()
    var last = Double.MaxValue
    var rounds = 0
    while (last - now > 1.0 && rounds < 20) {
      Thread.sleep(250)
      last = now
      now = collect()
      rounds += 1
    }
    now
  }

  /** The process's peak resident set (VmHWM), in KiB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  def iso(t: Instant): String = t.toString

  /** Files and bytes of the parquet data files under `p`. */
  def census(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  // ------------------------------------------------------------ pipeline

  final case class Tables(root: Path) {
    val raw: Path = root.resolve("raw")
    val tracks: Path = root.resolve("spotify_tracks")
    val checkpoint: Path = root.resolve("checkpoint")
    val artists: Path = root.resolve("spotify_artists")
  }

  /** Stream everything on the topic into the partitioned table: one
    * `AvailableNow` run from the table's checkpoint.
    */
  def stream(run: Run, t: Tables): StreamingQuery = run.tracer.span("streaming", "run") {
    val q = TracksStream.run(TracksStream.kafkaSource(run.spark, brokers, topic, "graftbus"),
      t.tracks.toString, t.checkpoint.toString)
    q.awaitTermination()
    q
  }

  /** Land → read → normalize → produce → stream → dimension, for a whole
    * backfill. Returns the stream's query, for its progress.
    */
  def backfill(run: Run, bf: SpotifyGen.Backfill, t: Tables): StreamingQuery = {
    val spark = run.spark
    val tr = run.tracer
    BusBroker.reset()
    TopicAdmin.ensureTopic(BusTopicAdmin, topic, run.cores)
    val landed = tr.span("ingest", "land") {
      bf.files.map(f => f -> Landing.landRaw(f.items.map(_.json), t.raw.toString, "backfill", f.ingestTs))
    }
    val frames = landed.map { case (f, p) =>
      Normalize.tracksFromPlaylistItems(readItems(spark, p.toString), iso(f.ingestTs))
    }
    tr.span("bus", "produce") {
      KafkaFrames.writeKafka(KafkaFrames.trackMessages(frames.reduce(_ union _)), brokers, topic, "graftbus")
    }
    tr.span("bus", "append_malformed") {
      bf.malformed.foreach(v => BusBroker.append(topic, null, v.getBytes("UTF-8")))
    }
    val q = stream(run, t)
    val payloads = bf.usedArtists.map(SpotifyGen.artistPayload)
    tr.span("tables", "write") {
      val raw = spark.read.schema(Pipelines.artistPayloadSchema).json(spark.createDataset(payloads)(Encoders.STRING))
      ArtistTable.append(Normalize.curateArtists(Normalize.artistsFromPayload(raw, iso(bf.files.last.ingestTs))),
        t.artists.toString)
    }
    q
  }

  def readItems(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawPlaylistItemSchema).option("multiLine", true).json(path)

  def register(run: Run, t: Tables): Unit = run.tracer.span("views", "register") {
    TechnoViews.registerAll(run.spark, TrackTable.read(run.spark, t.tracks.toString),
      ArtistTable.read(run.spark, t.artists.toString))
  }

  /** The analyst mix: four reads of the view cascade. */
  final case class ViewQuery(name: String, sql: String)

  def analystMix(latestMonth: String, trackId: String): Seq[ViewQuery] = Seq(
    ViewQuery("monthly_techno_share",
      """SELECT date_format(ingest_ts, 'yyyyMM') AS month, count(*) AS tracks,
        |       sum(CAST(is_techno AS INT)) AS techno,
        |       round(avg(CAST(is_techno AS INT)), 4) AS share
        |FROM v_track_is_techno GROUP BY 1 ORDER BY 1""".stripMargin),
    ViewQuery("latest_month_top_genres",
      s"""SELECT genre, count(*) AS n FROM (
         |  SELECT explode(al.genres) AS genre
         |  FROM (SELECT explode(artist_ids) AS aid FROM spotify_tracks
         |        WHERE ingest_month = '$latestMonth') t
         |  JOIN v_artist_latest al ON al.artist_id = t.aid)
         |GROUP BY genre ORDER BY n DESC, genre LIMIT 10""".stripMargin),
    ViewQuery("track_genres",
      s"""SELECT track_id, array_join(all_genres, '|') AS genres
         |FROM v_track_genres WHERE track_id = '$trackId'""".stripMargin),
    ViewQuery("top_techno_artists",
      """SELECT ta.artist_id, count(*) AS n
        |FROM v_track_artists ta JOIN v_track_is_techno t
        |  ON t.track_id = ta.track_id AND t.ingest_ts = ta.ingest_ts
        |WHERE t.is_techno GROUP BY ta.artist_id ORDER BY n DESC, ta.artist_id LIMIT 10""".stripMargin),
  )

  /** Run one analyst query, timed unless `warmUp`; checks what can be
    * checked exactly.
    */
  def viewQuery(run: Run, q: ViewQuery, expectTracks: Long, expectTechno: Long,
      warmUp: Boolean = false): Unit =
    run.attempt(s"view ${q.name}") {
      val t0 = System.nanoTime()
      val rows = run.tracer.span("views", "query")(run.spark.sql(q.sql).collect())
      if (!warmUp) run.querySamples.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      run.add("views.rows_out", rows.length.toDouble)
      q.name match {
        case "monthly_techno_share" =>
          rows.map(_.getLong(1)).sum == expectTracks && rows.map(_.getLong(2)).sum == expectTechno
        case "track_genres" => rows.length == 1
        case _ => rows.nonEmpty
      }
    }

  def tableCheck(run: Run, t: Tables, rows: Long, malformed: Long, months: Int): Unit =
    run.attempt("table contents") {
      val r = run.spark.sql(
        s"""SELECT count(*), sum(CAST(track_id = '' AS INT)), count(DISTINCT ingest_month)
           |FROM parquet.`${t.tracks}`""".stripMargin).head()
      run.info("table_rows") = r.getLong(0)
      r.getLong(0) == rows && r.getLong(1) == malformed && r.getLong(2) == months
    }

  /** Streaming progress phases summed over the query's micro-batches. */
  def progress(run: Run, q: StreamingQuery, runS: Double): Unit = if (run.trace) {
    val ps = q.recentProgress
    def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble
    val trigger = phase("triggerExecution")
    run.add("streaming.trigger_ms", trigger)
    run.add("streaming.add_batch_ms", phase("addBatch"))
    run.add("streaming.query_planning_ms", phase("queryPlanning"))
    run.add("streaming.wal_commit_ms", phase("walCommit"))
    run.add("streaming.commit_offsets_ms", phase("commitOffsets"))
    run.add("streaming.latest_offset_ms", phase("latestOffset"))
    run.add("streaming.input_rows", ps.map(_.numInputRows).sum.toDouble)
    run.add("streaming.batches", ps.count(_.numInputRows > 0).toDouble)
    run.add("streaming.start_s", math.max(0.0, runS - trigger / 1000.0))
  }

  def lastSpanSeconds(run: Run, layer: String, op: String): Double =
    run.tracer.spans.reverseIterator.find(s => s.layer == layer && s.op == op).map(_.seconds).getOrElse(0.0)

  /** Bus counters of the topic as it stands. */
  def busCounters(run: Run, produced: Long): Unit = if (run.trace) {
    val ends = BusBroker.endOffsets(topic)
    val appended = ends.sum
    run.add("bus.records_appended", appended.toDouble)
    val delivered = KafkaFrames.deliveryReport(topic).map(_.delivered).getOrElse(0L)
    run.add("bus.delivered", delivered.toDouble)
    run.layer("bus.delivered_ratio") = if (produced == 0) 0.0 else delivered.toDouble / produced
    run.layer("bus.partition_skew") = if (appended == 0) 0.0 else ends.max.toDouble / (appended.toDouble / ends.length)
  }

  /** Self time of read, normalize and frame building, by timing three
    * prefixes of the produce path with a `noop` write: read; read +
    * normalize; read + normalize + message frame.
    */
  def etlPrefixes(run: Run, bf: SpotifyGen.Backfill, t: Tables): Unit = {
    val spark = run.spark
    val files = Files.list(t.raw).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    val byStamp = bf.files.sortBy(_.ingestTs)
    val items = files.map(p => readItems(spark, p.toString))
    val tracks = items.zip(byStamp).map { case (df, f) => Normalize.tracksFromPlaylistItems(df, iso(f.ingestTs)) }
    val prefixes = Seq("read" -> items.reduce(_ union _), "read_normalize" -> tracks.reduce(_ union _),
      "read_normalize_frame" -> KafkaFrames.trackMessages(tracks.reduce(_ union _)))
    val times = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    var readTasks = 0L
    for (_ <- 1 to 3; (op, df) <- prefixes) {
      val before = run.tracer.counters("ingest").tasks
      val t0 = System.nanoTime()
      run.tracer.span("ingest", op)(df.write.format("noop").mode("overwrite").save())
      times.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      if (op == "read") readTasks = run.tracer.counters("ingest").tasks - before
    }
    def med(op: String) = { val s = times(op).sorted; s(s.size / 2) }
    run.layer("ingest.read_s") = med("read")
    run.layer("ingest.read_tasks") = readTasks
    run.layer("etl.normalize_s") = math.max(0.0, med("read_normalize") - med("read"))
    run.layer("etl.frame_s") = math.max(0.0, med("read_normalize_frame") - med("read_normalize"))
    val raw = items.reduce(_ union _)
    val rowsIn = raw.count()
    val rowsOut = tracks.reduce(_ union _).count()
    val defaulted = raw.where(col("track").isNotNull && col("track.id").isNotNull &&
      (col("track.popularity").isNull || col("added_at").isNull || col("track.album.release_date").isNull)).count()
    run.layer("etl.rows_in") = rowsIn
    run.layer("etl.rows_out") = rowsOut
    run.layer("etl.defaulted_rows") = defaulted
    run.attempt("etl counts") {
      rowsIn == bf.expected.items && rowsOut == bf.expected.curated && defaulted == bf.expected.defaulted
    }
  }

  // ------------------------------------------------------------ workloads

  def backfillWorkload(run: Run): Unit = {
    val bf = run.setUp {
      SpotifyGen.backfill(run.seed, Size.backfillItems, Size.backfillArtists, firstMonth, Size.months,
        Size.filesPerMonth, Size.malformedPerMille)
    }
    val exp = bf.expected
    run.info("expected") = exp.toMap + ("malformed" -> bf.malformed.size) + ("months" -> Size.months)
    run.info("land_bytes") = bf.files.map(_.items.map(_.json.length + 1).sum.toLong).sum
    val rows = exp.curated + bf.malformed.size
    val months = Size.months + (if (bf.malformed.nonEmpty) 1 else 0)
    var cycle = 0
    var t: Tables = null
    // Each cycle backfills the same input into fresh tables and a fresh
    // topic; the first few are untimed and warm the JVM.
    def once(timed: Boolean): Unit = {
      if (t != null) deleteTree(t.root)
      cycle += 1
      t = Tables(run.dir(s"cycle$cycle"))
      run.attempt("backfill") {
        val t0 = System.nanoTime()
        val q = backfill(run, bf, t)
        val wall = (System.nanoTime() - t0) / 1e9
        if (timed) {
          run.sample("backfill_s", wall)
          run.sample("backfill_rows_per_s", rows / wall)
        }
        progress(run, q, lastSpanSeconds(run, "streaming", "run"))
        busCounters(run, exp.curated)
        true
      }
      tableCheck(run, t, rows, bf.malformed.size, months)
    }
    for (_ <- 1 to Size.warmUpCycles) once(timed = false)
    run.warmedUp()
    val window = Window.of(run, min = 2, traced = 3)
    while (window.next()) once(timed = true)
    run.info("cycles") = cycle
    run.mark("window")
    // the analyst mix over the last backfill: one untimed round, then timed
    register(run, t)
    val latest = firstMonth.plusMonths(Size.months - 1L).toString.replace("-", "")
    val mix = analystMix(latest, bf.files.head.items.find(_.curated).get.trackId)
    for (round <- 0 to Size.readRounds; q <- mix) viewQuery(run, q, exp.curated, exp.techno, warmUp = round == 0)
    if (run.trace) {
      tableCounters(run, t, rows, (0L, 0L))
      etlPrefixes(run, bf, t)
    }
  }

  /** Table census: files and bytes written since `before`, and in all. */
  def tableCounters(run: Run, t: Tables, rows: Long, before: (Long, Long)): Unit = {
    val (files, bytes) = census(t.tracks)
    run.layer("tables.files_written") = files - before._1
    run.layer("tables.bytes_written") = bytes - before._2
    run.layer("tables.bytes_per_row") = bytes.toDouble / rows
    run.layer("tables.files_total") = files
  }

  /** Canned Spotify artists endpoint over the generated catalog. */
  final class CatalogHttp(catalog: Map[String, SpotifyGen.Artist]) extends Http {
    override def get(url: String, params: Map[String, String], headers: Map[String, String]): (Int, String) =
      if (!url.endsWith("/artists")) (404, "")
      else (200, params.getOrElse("ids", "").split(",").filter(_.nonEmpty)
        .map(id => catalog.get(id).map(SpotifyGen.artistPayload).getOrElse("null"))
        .mkString("{\"artists\":[", ",", "]}"))
    override def postForm(url: String, form: Map[String, String], headers: Map[String, String]): (Int, String) =
      (200, "{\"access_token\":\"perfbench\"}")
    override def getBytes(url: String, params: Map[String, String], headers: Map[String, String]): (Int, Array[Byte]) =
      (404, Array.emptyByteArray)
  }

  def dailyWorkload(run: Run): Unit = {
    val (history, t) = run.setUp {
      val h = SpotifyGen.backfill(run.seed, Size.historyItems, Size.historyArtists, firstMonth, Size.months,
        Size.filesPerMonth, Size.malformedPerMille)
      val t = Tables(run.dir("daily"))
      backfill(run, h, t)
      Main.deleteTree(t.raw)
      register(run, t)
      (h, t)
    }
    val spark = run.spark
    val client = new SpotifyClient(new CatalogHttp(history.catalog.map(a => a.id -> a).toMap))
    val token = client.fetchToken("perfbench", "perfbench").get
    val lastDay = firstMonth.plusMonths(Size.months - 1L).atEndOfMonth()
    val drops = SpotifyGen.dailyDrops(run.seed, history.catalog, lastDay, 100000, Size.dropSize)
    var rows = history.expected.curated + history.malformed.size
    var techno = history.expected.techno
    val historyRows = rows
    val historyFiles = census(t.tracks)
    var dropped = 0
    val tr = run.tracer
    // One client, closed loop: each drop and its analyst queries wait for
    // the one before. Each drop is followed by two queries of the mix in
    // turn; the first drop by all four. The first drops are untimed and
    // warm the JVM.
    def once(timed: Boolean): Unit = {
      val drop = drops.next()
      dropped += 1
      val exp = SpotifyGen.Expected.of(drop.items)
      val ts = iso(drop.ingestTs)
      run.info("land_bytes") = run.info.getOrElse("land_bytes", 0L).asInstanceOf[Long] +
        drop.items.map(_.json.length + 1L).sum
      val ok = run.attempt(s"drop $dropped") {
        val t0 = System.nanoTime()
        tr.span("ingest", "land")(Landing.landRaw(drop.items.map(_.json), t.raw.toString, "daily", drop.ingestTs))
        val msgs = tr.span("ingest", "read")(Pipelines.latestTrackMessages(spark, t.raw.toString, ts)).get
        tr.span("bus", "produce")(KafkaFrames.writeKafka(msgs, brokers, topic, "graftbus"))
        val q = stream(run, t)
        val artists = tr.span("ingest", "artists")(
          Pipelines.latestArtistMessages(spark, t.raw.toString, client, token, ts)).get
        tr.span("tables", "write") {
          val values = artists.select(col("value")).as(Encoders.STRING)
          ArtistTable.append(Normalize.curateArtists(spark.read.schema(Schemas.rawArtistSchema).json(values)),
            t.artists.toString)
        }
        rows += exp.curated
        techno += exp.techno
        val ids = drop.items.filter(_.curated).map(i => s"'${i.trackId}'").mkString(",")
        var seen = false
        var tries = 0
        while (!seen && tries < 3) {
          tries += 1
          register(run, t)
          val r = tr.span("views", "probe")(spark.sql(
            s"""SELECT count(*), coalesce(sum(CAST(is_techno AS INT)), 0)
               |FROM v_track_is_techno WHERE track_id IN ($ids)""".stripMargin).head())
          seen = r.getLong(0) == exp.curated && r.getLong(1) == exp.techno
        }
        if (seen && timed) run.sample("freshness_s", (System.nanoTime() - t0) / 1e9)
        progress(run, q, lastSpanSeconds(run, "streaming", "run"))
        seen
      }
      if (ok) {
        val month = drop.ingestTs.toString.take(7).replace("-", "")
        val mix = analystMix(month, drop.items.find(_.curated).get.trackId)
        val tracks = rows - history.malformed.size
        if (dropped == 1) mix.foreach(q => viewQuery(run, q, tracks, techno, warmUp = true))
        else for (i <- 2 * dropped to 2 * dropped + 1) viewQuery(run, mix(i % mix.size), tracks, techno, warmUp = !timed)
      }
    }
    for (_ <- 1 to Size.warmUpDrops) once(timed = false)
    run.warmedUp()
    val window = Window.of(run, min = 4, traced = 8)
    while (window.next()) once(timed = true)
    run.info("drops") = dropped
    run.mark("window")
    run.info("history_rows") = historyRows
    val months = Size.months + (if (history.malformed.nonEmpty) 1 else 0) +
      java.time.temporal.ChronoUnit.MONTHS.between(YearMonth.from(lastDay.plusDays(1)),
        YearMonth.from(lastDay.plusDays(dropped.toLong))).toInt + 1
    tableCheck(run, t, rows, history.malformed.size, months)
    if (run.trace) {
      busCounters(run, rows - history.malformed.size)
      tableCounters(run, t, rows, historyFiles)
    }
  }
}
