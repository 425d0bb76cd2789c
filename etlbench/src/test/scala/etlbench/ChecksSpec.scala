package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Each checker accepts the output it describes and rejects one that was
  * corrupted on purpose. The "pipeline output" here is written by hand
  * from the model, so no Spark session is needed. */
class ChecksSpec extends AnyFunSuite {

  private val hour = Ingest.hour

  private def goodSite(): (Download.Site, Sources.Model) = {
    val root = Files.createTempDirectory("etlbench-checks")
    val m = Sources.model(5, "http://127.0.0.1:1/")
    val site = Download.site(root, m, flagged = m.failing.map(_.id).toSet)
    m.sources.filter(_.live).foreach { s =>
      Sources.landed(s, hour).foreach { case (key, name) =>
        val p = site.out.resolve(key)
        Files.createDirectories(p.getParent)
        Files.write(p, Sources.body(m, s, name, hour))
      }
    }
    Files.createDirectories(site.out.resolve("_manifest"))
    Files.write(site.out.resolve("_manifest/part-0.parquet"), Array[Byte](1))
    val alerts = m.failing.map(s => s"""{"ID":"${s.id}","URL":"${s.url}","REASON":"x"}""")
    Files.write(root.resolve("alerts/part-00000.txt"), alerts.mkString("\n").getBytes(UTF_8))
    Files.write(root.resolve("alerts/_SUCCESS"), Array.emptyByteArray)
    (site, m)
  }

  private def delete(root: Path): Unit = {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  private def problems(corrupt: (Download.Site, Sources.Model) => Unit): Seq[String] = {
    val (site, m) = goodSite()
    try { corrupt(site, m); Checks.ingest(site, m, hour) } finally delete(site.root)
  }

  test("the ingest checker accepts the model's own output") {
    assert(problems((_, _) => ()) == Nil)
  }

  test("the ingest checker rejects a flipped byte in one object") {
    val found = problems { (site, _) =>
      val key = Checks.files(site.out).filter(_.startsWith("LINK/")).head
      val p = site.out.resolve(key)
      val b = Files.readAllBytes(p); b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
      Files.write(p, b)
    }
    assert(found.exists(_.contains("differs")))
  }

  test("the ingest checker rejects a missing and an extra object") {
    assert(problems { (site, _) =>
      Files.delete(site.out.resolve(Checks.files(site.out).filter(_.startsWith("LINKS_DIRECT/")).head))
    }.exists(_.contains("missing")))
    assert(problems { (site, _) =>
      Files.write(site.out.resolve("LINK/stray.csv"), Array[Byte](1))
    }.exists(_.contains("unexpected")))
  }

  test("the ingest checker rejects a lost alert and a missing Active=2 flag") {
    assert(problems { (site, m) =>
      val keep = m.failing.drop(1).map(s => s"""{"ID":"${s.id}"}""")
      Files.write(site.root.resolve("alerts/part-00000.txt"), keep.mkString("\n").getBytes(UTF_8))
    }.exists(_.startsWith("alerts:")))
    assert(problems { (site, m) =>
      Files.write(site.catalog, Sources.catalogCsv(m).getBytes(UTF_8))
    }.exists(_.startsWith("catalog:")))
  }

  test("the ingest checker rejects quarantined or dead-lettered messages") {
    assert(problems { (site, _) =>
      Files.createDirectories(site.root.resolve("quarantine"))
      Files.write(site.root.resolve("quarantine/part-0.txt"), "garbage".getBytes(UTF_8))
    }.exists(_.startsWith("quarantine/")))
    assert(problems { (site, _) =>
      Files.write(site.root.resolve("dead_letter/part-0.txt"), "{}".getBytes(UTF_8))
    }.exists(_.startsWith("dead_letter/")))
  }

  test("the lake checker rejects a wrong row count, a wrong digest and a missing query") {
    val ref = Map("q1" -> (10L, "1-2"), "q2" -> (3L, "5-6"))
    assert(Checks.lake(ref, ref) == Nil)
    assert(Checks.lake(ref.updated("q1", (11L, "1-2")), ref).size == 1)
    assert(Checks.lake(ref.updated("q2", (3L, "5-7")), ref).size == 1)
    assert(Checks.lake(ref - "q2", ref).exists(_.contains("no output")))
  }
}
