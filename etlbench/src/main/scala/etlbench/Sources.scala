package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** The seeded source model behind the `ingest` workload:
  * a source catalog (the reference's 10-column CSV) plus the content an
  * origin serves for every source at every hour of one day.
  *
  * Every byte is a pure function of `(seed, baseUrl)`: the catalog text,
  * each page or listing at hour `h`, and each artifact body. The
  * harness derives the expected sink contents from this model alone,
  * never from the pipeline's own output.
  *
  * URL layout on the origin (all relative to `baseUrl`):
  *  - `links/<id>/`              LINKS page: one anchor per file, hours 0..h
  *  - `over/<id>/`               LINKS_OVERWRITE page: fixed names
  *  - `ftp/<id>/`                FTP_FILES listing, hours 0..h + noise lines
  *  - `direct/<id>/<stamp>.csv`  DIRECT artifact (templated URL)
  *  - `ftpd/<id>/<stamp>.zip`    DIRECT_FTP artifact (templated URL)
  *  - `gone/...`                 dead source: always 404
  */
object Sources {

  /** The day every cycle belongs to; hour `h` is `day + h hours` (UTC). */
  val day: LocalDateTime = LocalDateTime.of(2026, 8, 12, 0, 0)

  private val stampFmt = DateTimeFormatter.ofPattern("yyyyMMddHH")

  case class Source(id: String, tpe: String, url: String, pattern: String,
      utc: Int, interval: String, active: Int, dead: Boolean, bodyBytes: Int) {
    def known: Boolean = graft.model.Schemas.strategies.contains(tpe)
    /** Harvested at an hourly fire (before any error flag). */
    def due: Boolean = active == 1 && interval == "hourly"
    /** Lands objects: due, a known type and a live URL. */
    def live: Boolean = due && known && !dead
  }

  case class Model(seed: Long, baseUrl: String, sources: Seq[Source]) {
    def byId: Map[String, Source] = sources.map(s => s.id -> s).toMap
    def due: Seq[Source] = sources.filter(_.due)
    /** Sources a cycle must flag `Active=2` and alert on. */
    def failing: Seq[Source] = due.filter(s => s.dead || !s.known)
  }

  /** Live sources per known kind. With the two dead and two unknown
    * sources below, every hourly fire is exactly 15 messages, 3 polls of
    * 5. The seed varies ids, order, clocks and bytes, never the amount
    * of work: every seed fetches the same number of artifacts. */
  val liveMix: Seq[(String, Int)] = Seq(
    "LINKS" -> 3, "LINKS_OVERWRITE" -> 2, "DIRECT" -> 2, "DIRECT_FTP" -> 2, "FTP_FILES" -> 2)

  def model(seed: Long, baseUrl: String): Model = {
    val rnd = new java.util.SplittableRandom(seed)
    val kinds = liveMix.flatMap { case (t, n) => Seq.fill(n)(t) }
    // dead URLs on two kinds, two unknown types, and rows the hourly
    // filter must drop (daily interval, inactive, already flagged)
    val dead = Seq("LINKS", "DIRECT")
    val unknown = Seq("SCRAPE_JS", "SFTP_FILES")
    val skipped = Seq(("DIRECT", "daily", 1), ("LINKS", "hourly", 0),
      ("FTP_FILES", "hourly", 2))
    case class Spec(tpe: String, dead: Boolean, interval: String, active: Int)
    val specs = kinds.map(Spec(_, dead = false, "hourly", 1)) ++
      dead.map(Spec(_, dead = true, "hourly", 1)) ++
      unknown.map(Spec(_, dead = false, "hourly", 1)) ++
      skipped.map { case (t, i, a) => Spec(t, dead = false, i, a) }
    val order = shuffle(specs.indices, rnd)
    val sources = order.zipWithIndex.map { case (si, i) =>
      val sp = specs(si)
      val id = f"src-$i%03d"
      val utc = Seq(0, 0, 0, 10, -5, 1)(rnd.nextInt(6))
      val stamp = "{year}{month}{day}{hour}"
      val (url, pattern) =
        if (sp.dead) (s"${baseUrl}gone/$id/$stamp/", "ignore")
        else sp.tpe match {
          case "LINKS"           => (s"${baseUrl}links/$id/", "ignore")
          case "LINKS_OVERWRITE" => (s"${baseUrl}over/$id/", "ignore")
          case "DIRECT"          => (s"${baseUrl}direct/$id/$stamp.csv", s"${id}_$stamp.csv")
          case "DIRECT_FTP"      => (s"${baseUrl}ftpd/$id/$stamp.zip", s"${id}_$stamp.zip")
          case "FTP_FILES"       => (s"${baseUrl}ftp/$id/", s"${id}_*.zip")
          case _                 => (s"${baseUrl}links/$id/", "ignore")
        }
      Source(id, sp.tpe, url, pattern, utc, sp.interval, sp.active, sp.dead,
        bodyBytes = 6144 + rnd.nextInt(4096))
    }
    Model(seed, baseUrl, sources)
  }

  private def shuffle(xs: Seq[Int], rnd: java.util.SplittableRandom): Seq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** The catalog CSV as the harvester reads it: header row, CRLF rows. */
  def catalogCsv(m: Model, flagged: Set[String] = Set.empty): String = {
    val rows = m.sources.map { s =>
      val active = if (flagged(s.id)) 2 else s.active
      Seq(s.id, s.url, s.interval, "x", active.toString, "y", "z", s.tpe,
        s.pattern, s.utc.toString).mkString(",")
    }
    ("ID,URL,Interval,Col3,Active,Col5,Col6,Type,Pattern,UTC" +: rows)
      .mkString("", "\r\n", "\r\n")
  }

  def stamp(t: LocalDateTime): String = t.format(stampFmt)

  /** UTC fire time of hour `h` as the harvester's run timestamp. */
  def fireTs(h: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(day.plusHours(h).toInstant(ZoneOffset.UTC))

  /** A source's local stamp at hour `h` (the templated URL's clock). */
  def localStamp(s: Source, h: Int): String = stamp(day.plusHours(h + s.utc))

  /** Names a LINKS / FTP_FILES source lists at hour `h`: every file of
    * hours 0..h, so later hours mostly re-list names already landed. */
  def listedNames(s: Source, h: Int): Seq[String] = {
    val ext = if (s.tpe == "FTP_FILES") "zip" else "csv"
    (0 to h).map(hh => s"${s.id}_${stamp(day.plusHours(hh))}.$ext")
  }

  /** Fixed names a LINKS_OVERWRITE page lists; contents change hourly. */
  def overwriteNames(s: Source): Seq[String] =
    Seq(s"${s.id}_latest.csv", s"${s.id}_summary.csv")

  /** Sink keys and names of every object source `s` lands when hour `h`
    * is processed on an empty sink. */
  def landed(s: Source, h: Int): Seq[(String, String)] = {
    val prefix = graft.model.Schemas.sinkPrefix(s.tpe)
    val names: Seq[String] = s.tpe match {
      case "LINKS" | "FTP_FILES" => listedNames(s, h)
      case "LINKS_OVERWRITE" => overwriteNames(s)
      case "DIRECT"     => Seq(s"${s.id}_${localStamp(s, h)}.csv")
      case "DIRECT_FTP" => Seq(s"${s.id}_${localStamp(s, h)}.zip")
    }
    names.map(n => s"$prefix/$n" -> n)
  }

  /** Deterministic artifact body. Overwrite names carry the hour, so a
    * later hour replaces their bytes; other names are immutable. */
  def body(m: Model, s: Source, name: String, hour: Int): Array[Byte] = {
    val version = if (s.tpe == "LINKS_OVERWRITE") hour else 0
    val r = new java.util.SplittableRandom(
      m.seed * 1000003L ^ (s.id + "/" + name).hashCode.toLong * 31L + version)
    val sb = new StringBuilder(s.bodyBytes + 64)
    sb.append("ts,symbol,price,volume # ").append(name).append(" v").append(version).append('\n')
    while (sb.length < s.bodyBytes) {
      sb.append(r.nextInt(1 << 20)).append(",SYM").append(r.nextInt(500))
        .append(',').append(r.nextInt(100000) / 100.0)
        .append(',').append(r.nextInt(10000)).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  def linksPage(names: Seq[String]): String =
    names.map(n => s"""<li><a href="$n">$n</a></li>""")
      .mkString("<html><body><ul>\n", "\n", "\n</ul><a href=\"./\">index</a></body></html>\n")

  def ftpListing(s: Source, h: Int): String = {
    val lines = listedNames(s, h).map(n =>
      s"-rw-r--r--   1 ftp  ftp   ${s.bodyBytes} Aug 12 04:00 $n") ++ Seq(
      "-rw-r--r--   1 ftp  ftp      512 Aug 12 04:00 readme.txt",
      "drwxr-xr-x   2 ftp  ftp     4096 Aug 01 00:00 archive")
    lines.mkString("", "\r\n", "\r\n")
  }
}
