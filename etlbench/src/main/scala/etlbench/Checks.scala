package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks. Each returns the problems it found (empty = correct)
  * and reads only files, so a check never runs inside a timed span and
  * needs no Spark session. */
object Checks {

  /** After one cold cycle at `hour`: the sink holds exactly the model's
    * artifact set, byte for byte; every failing source (dead URL or
    * unknown type) is alerted once and flagged `Active=2` in the live
    * catalog, no other row changes; the queue is drained and nothing was
    * quarantined or dead-lettered. */
  def ingest(site: Download.Site, m: Sources.Model, hour: Int): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val expected = m.sources.filter(_.live).flatMap { s =>
      Sources.landed(s, hour).map { case (key, name) => key -> (s, name) }
    }.toMap
    val actual = files(site.out).filterNot(_.startsWith("_manifest/")).toSet
    (expected.keySet -- actual).toSeq.sorted.take(5).foreach(k => problems += s"sink: missing $k")
    (actual -- expected.keySet).toSeq.sorted.take(5).foreach(k => problems += s"sink: unexpected $k")
    expected.toSeq.sortBy(_._1).filter(e => actual(e._1)).foreach { case (key, (s, name)) =>
      if (!java.util.Arrays.equals(Files.readAllBytes(site.out.resolve(key)),
          Sources.body(m, s, name, hour)))
        problems += s"sink: $key differs from the origin's bytes"
    }

    val failing = m.failing.map(_.id).sorted
    val alerted = dataFiles(site.root.resolve("alerts")).flatMap(lines)
      .flatMap(l => Download.idField.findFirstMatchIn(l).map(_.group(1))).sorted
    if (alerted != failing)
      problems += s"alerts: ${alerted.mkString(",")} != expected ${failing.mkString(",")}"

    val active = catalogActive(site.catalog)
    m.sources.foreach { s =>
      val want = if (failing.contains(s.id)) 2 else s.active
      if (!active.get(s.id).contains(want))
        problems += s"catalog: ${s.id} Active=${active.getOrElse(s.id, "missing")}, expected $want"
    }
    if (active.size != m.sources.size)
      problems += s"catalog: ${active.size} rows, expected ${m.sources.size}"

    Seq("quarantine", "dead_letter", "queue", "processing").foreach { d =>
      val left = dataFiles(site.root.resolve(d))
      if (left.nonEmpty) problems += s"$d/: ${left.size} files left, expected none"
    }
    problems.result()
  }

  /** Each query's row count and digest against the recorded reference. */
  def lake(got: Map[String, (Long, String)],
      reference: Map[String, (Long, String)]): Seq[String] =
    reference.keys.toSeq.sorted.flatMap { q =>
      got.get(q) match {
        case None => Some(s"lake: $q produced no output")
        case Some(v) if v != reference(q) =>
          Some(s"lake: $q rows/digest ${v._1}/${v._2}, expected ${reference(q)._1}/${reference(q)._2}")
        case _ => None
      }
    }

  /** Relative paths of every regular, non-hidden file under `root`. */
  def files(root: Path): Seq[String] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(root.relativize(_).toString)
        .filterNot(_.split('/').exists(_.startsWith(".")))
        .toList
      finally s.close()
    }

  /** Data files of a Spark output dir or a queue dir (no markers). */
  def dataFiles(dir: Path): Seq[Path] =
    files(dir).filterNot(_.split('/').last.startsWith("_")).map(dir.resolve)

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  /** id -> Active of a catalog CSV (header row first, CRLF or LF rows). */
  def catalogActive(p: Path): Map[String, Int] = {
    val rows = new String(Files.readAllBytes(p), UTF_8).split("\r?\n").toSeq.filter(_.nonEmpty)
    rows.drop(1).map(_.split(",", -1)).collect {
      case c if c.length >= 5 && c(4).trim.nonEmpty => c(0) -> c(4).trim.toInt
    }.toMap
  }
}
