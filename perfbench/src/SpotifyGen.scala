package perfbench

import java.time.{LocalDate, YearMonth}

/** A seeded, single-threaded generator of Spotify-shaped playlist items, in
  * the raw shape the ingest DAG lands (a JSON array of playlist items, read
  * with `Schemas.rawPlaylistItemSchema`). It reproduces the edge-case shares
  * of the reference's 150-item golden fixture:
  *
  *  - ≈1/150 items carry a year-precision `release_date` ("2019");
  *  - ≈92/150 tracks are multi-artist;
  *  - `preview_url` is often null;
  *  - an artist is techno exactly when its id starts with a digit, so a
  *    track is techno exactly when one of its artist ids does;
  *  - a few items lack `popularity`, `added_at` or `release_date` (each is
  *    null-defaulted by Normalize), and a few have a null `track` (removed
  *    tracks, which Normalize drops).
  *
  * Every draw comes from one `SplittableRandom(seed)`, so a seed fixes the
  * bytes. Counts the pipeline must reproduce are returned beside the items.
  */
object SpotifyGen {

  final case class Artist(id: String, name: String, techno: Boolean, genres: Seq[String],
      popularity: Int, followers: Long)

  final case class Item(json: String, trackId: String, curated: Boolean, techno: Boolean,
      defaulted: Boolean, multiArtist: Boolean, yearPrecision: Boolean, nullPreview: Boolean,
      artistIds: Seq[String])

  /** Playlist items landed in one file, stamped with one ingest time. */
  final case class Drop(ingestTs: java.time.Instant, items: Seq[Item])

  final case class Expected(items: Long, curated: Long, techno: Long, defaulted: Long,
      multiArtist: Long, yearPrecision: Long, nullPreview: Long) {
    def +(o: Expected): Expected = Expected(items + o.items, curated + o.curated,
      techno + o.techno, defaulted + o.defaulted, multiArtist + o.multiArtist,
      yearPrecision + o.yearPrecision, nullPreview + o.nullPreview)
    def toMap: Map[String, Any] = Map("items" -> items, "curated" -> curated,
      "techno" -> techno, "defaulted" -> defaulted, "multi_artist" -> multiArtist,
      "year_precision" -> yearPrecision, "null_preview" -> nullPreview)
  }
  object Expected {
    val zero: Expected = Expected(0, 0, 0, 0, 0, 0, 0)
    def of(items: Seq[Item]): Expected = Expected(items.size.toLong,
      items.count(_.curated).toLong, items.count(i => i.curated && i.techno).toLong,
      items.count(i => i.curated && i.defaulted).toLong,
      items.count(i => i.curated && i.multiArtist).toLong,
      items.count(i => i.curated && i.yearPrecision).toLong,
      items.count(i => i.curated && i.nullPreview).toLong)
  }

  private val alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val letters = alphabet.substring(10)
  private val technoGenres = Seq("techno", "minimal techno", "detroit techno",
    "hard techno", "acid techno", "dub techno")
  private val otherGenres = Seq("house", "deep house", "electro", "ambient", "pop",
    "indie rock", "trance", "drum and bass", "dubstep", "hip hop", "jazz", "disco")

  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var serial = 0L

    /** A 22-character base62 id, unique within this generator. */
    def id(firstDigit: Option[Boolean] = None): String = {
      serial += 1
      val sb = new StringBuilder(22)
      firstDigit match {
        case Some(true) => sb += alphabet.charAt(rnd.nextInt(10))
        case Some(false) => sb += letters.charAt(rnd.nextInt(letters.length))
        case None => sb += alphabet.charAt(rnd.nextInt(62))
      }
      while (sb.length < 11) sb += alphabet.charAt(rnd.nextInt(62))
      var n = serial
      while (sb.length < 22) { sb += alphabet.charAt((n % 62).toInt); n /= 62 }
      sb.toString
    }

    def chance(num: Int, den: Int): Boolean = rnd.nextInt(den) < num
    def below(n: Int): Int = rnd.nextInt(n)

    def artists(n: Int, technoShare: Double = 0.12): IndexedSeq[Artist] =
      (0 until n).map { i =>
        val techno = rnd.nextDouble() < technoShare
        val pool = if (techno) technoGenres else otherGenres
        val genres = (0 until 1 + rnd.nextInt(3)).map(_ => pool(rnd.nextInt(pool.size))).distinct
        // a few names carry padding the P2 normalizer trims
        val name = if (chance(1, 40)) s"  Artist $i " else s"Artist $i"
        Artist(id(Some(techno)), name, techno, genres, rnd.nextInt(101), rnd.nextInt(2000000).toLong)
      }

    /** One playlist item whose artists come from `catalog`. */
    def item(catalog: IndexedSeq[Artist], added: LocalDate, n: Long): Item = {
      if (chance(1, 150)) {
        // a removed track: the API returns the item with `track: null`
        return Item(s"""{"added_at":"${added}T08:00:00Z","track":null}""", "", curated = false,
          techno = false, defaulted = false, multiArtist = false, yearPrecision = false,
          nullPreview = false, Nil)
      }
      val trackId = id()
      val multi = chance(92, 150)
      val k = if (multi) 2 + rnd.nextInt(3) else 1
      val arts = (0 until k).map(_ => catalog(rnd.nextInt(catalog.size))).distinctBy(_.id)
      val yearOnly = chance(1, 150)
      val year = 1995 + rnd.nextInt(30)
      val release =
        if (yearOnly) s""""$year""""
        else if (chance(1, 200)) "null"
        else f""""$year-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d""""
      val noPopularity = chance(1, 60)
      val noAdded = chance(1, 90)
      val nullPreview = chance(2, 5)
      val sb = new StringBuilder(512)
      sb ++= "{\"added_at\":"
      sb ++= (if (noAdded) "null" else s""""${added}T${10 + rnd.nextInt(10)}:${10 + rnd.nextInt(50)}:00Z"""")
      sb ++= ",\"track\":{\"id\":\"" ++= trackId ++= "\",\"name\":\"Track " ++= n.toString ++= "\""
      sb ++= ",\"popularity\":" ++= (if (noPopularity) "null" else rnd.nextInt(101).toString)
      sb ++= ",\"duration_ms\":" ++= (120000 + rnd.nextInt(300000)).toString
      sb ++= ",\"preview_url\":" ++= (if (nullPreview) "null"
        else s""""https://p.scdn.co/mp3-preview/$trackId"""")
      sb ++= ",\"external_urls\":{\"spotify\":\"https://open.spotify.com/track/" ++= trackId ++= "\"}"
      val albumId = id()
      sb ++= ",\"album\":{\"id\":\"" ++= albumId ++= "\",\"name\":\"Album " ++= albumId.take(6) ++= "\""
      sb ++= ",\"release_date\":" ++= release
      sb ++= ",\"release_date_precision\":\"" ++= (if (yearOnly) "year" else "day") ++= "\"}"
      sb ++= ",\"artists\":["
      arts.zipWithIndex.foreach { case (a, i) =>
        if (i > 0) sb += ','
        sb ++= "{\"id\":\"" ++= a.id ++= "\",\"name\":\"" ++= a.name.trim ++= "\"}"
      }
      sb ++= "]}}"
      Item(sb.toString, trackId, curated = true, techno = arts.exists(_.techno),
        defaulted = noPopularity || noAdded || release == "null", multiArtist = arts.size > 1,
        yearPrecision = yearOnly, nullPreview = nullPreview, arts.map(_.id))
    }

    /** A value the bus consumer cannot parse; it must land null-defaulted. */
    def malformed(): String = rnd.nextInt(3) match {
      case 0 => "{\"track_id\": \"" + id() + "\", \"popularity\": "
      case 1 => "not json at all"
      case _ => "[1,2,3"
    }
  }

  /** Payload of GET /v1/artists for one artist, the shape P2 reads. */
  def artistPayload(a: Artist): String =
    s"""{"id":"${a.id}","name":"${a.name}","genres":[${a.genres.map(g => s""""$g"""").mkString(",")}],""" +
      s""""popularity":${a.popularity},"followers":{"href":null,"total":${a.followers}},"type":"artist"}"""

  /** A backfill: `months` ingest months of `filesPerMonth` files each,
    * `items` items in all, over a catalog of `artists` artists, plus the
    * malformed bus values (`malformedPerMille` ‰ of the curated rows).
    */
  final case class Backfill(catalog: IndexedSeq[Artist], files: Seq[Drop], malformed: Seq[String]) {
    lazy val expected: Expected = files.map(f => Expected.of(f.items)).foldLeft(Expected.zero)(_ + _)
    def usedArtists: Seq[Artist] = {
      val used = files.iterator.flatMap(_.items.iterator.flatMap(_.artistIds)).toSet
      catalog.filter(a => used(a.id))
    }
  }

  def backfill(seed: Long, items: Int, artists: Int, firstMonth: YearMonth, months: Int,
      filesPerMonth: Int, malformedPerMille: Int): Backfill = {
    val g = new Gen(seed)
    val catalog = g.artists(artists)
    val nFiles = months * filesPerMonth
    var n = 0L
    val files = (0 until nFiles).map { f =>
      val month = firstMonth.plusMonths((f / filesPerMonth).toLong)
      val day = month.atDay(1 + (f % filesPerMonth) * 14)
      val per = items / nFiles + (if (f < items % nFiles) 1 else 0)
      val its = (0 until per).map { _ => n += 1; g.item(catalog, day.minusDays(g.below(30).toLong), n) }
      Drop(day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant, its)
    }
    val curated = files.map(_.items.count(_.curated)).sum
    val bad = (0 until curated * malformedPerMille / 1000).map(_ => g.malformed())
    Backfill(catalog, files, bad)
  }

  /** `count` daily drops of `size` items each, starting the day after
    * `after`, drawing artists from `catalog`. Seeded apart from the history.
    */
  def dailyDrops(seed: Long, catalog: IndexedSeq[Artist], after: LocalDate, count: Int,
      size: Int): Iterator[Drop] = {
    val g = new Gen(seed ^ 0x5DEECE66DL)
    var n = 1000000000L
    Iterator.range(1, count + 1).map { d =>
      val day = after.plusDays(d.toLong)
      Drop(day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant,
        (0 until size).map { _ => n += 1; g.item(catalog, day, n) })
    }
  }
}

/** Prints the SHA-256 of every generated byte (backfill items, malformed
  * values, artist payloads, the first daily drops) and the expected
  * counts, for one seed: `GenDigest <seed> <items>`.
  */
object GenDigest {
  import SpotifyGen._

  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val bf = backfill(seed, args(1).toInt, 500, YearMonth.of(2015, 1), 12, 2, 2)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    bf.files.foreach(f => { feed(f.ingestTs.toString); f.items.foreach(i => feed(i.json)) })
    bf.malformed.foreach(feed)
    bf.catalog.foreach(a => feed(artistPayload(a)))
    dailyDrops(seed, bf.catalog, LocalDate.of(2015, 12, 31), 3, 150).foreach(_.items.foreach(i => feed(i.json)))
    val counts = bf.expected.toMap + ("malformed" -> bf.malformed.size)
    println(md.digest().map(b => f"$b%02x").mkString + " " +
      counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
  }
}
