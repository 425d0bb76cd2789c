package etlbench

import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {

  private val base = "http://127.0.0.1:1/"

  test("the same seed yields the same catalog bytes") {
    val a = Sources.model(7, base)
    val b = Sources.model(7, base)
    assert(Sources.catalogCsv(a) == Sources.catalogCsv(b))
    assert(Sources.catalogCsv(a) != Sources.catalogCsv(Sources.model(8, base)))
  }

  test("every hourly fire is 15 messages covering all five types, dead and unknown sources") {
    Seq(1L, 2L, 3L, 99L).foreach { seed =>
      val m = Sources.model(seed, base)
      assert(m.due.size == 15)
      assert(graft.model.Schemas.strategies.forall(t => m.sources.exists(s => s.live && s.tpe == t)))
      assert(m.failing.count(_.dead) == 2 && m.failing.count(!_.known) == 2)
    }
  }

  test("the same seed yields the same origin bytes") {
    val a = new Origin(11, 0, 2)
    val b = new Origin(11, 0, 2)
    try {
      Seq(a, b).foreach(_.setHour(Ingest.hour))
      val paths = a.model.sources.flatMap { s =>
        val id = s.id
        Seq(s"links/$id/", s"over/$id/", s"ftp/$id/", s"direct/$id/2026081212.csv",
          s"ftpd/$id/2026081212.zip", s"over/$id/${id}_latest.csv") ++
          Sources.listedNames(s, Ingest.hour).map(n => s"links/$id/$n") ++
          Sources.listedNames(s, Ingest.hour).map(n => s"ftp/$id/$n")
      }
      val served = paths.flatMap(p => a.respond(p).map(p -> _))
      assert(served.size > 100)
      served.foreach { case (p, (bytes, artifact)) =>
        val (other, otherArtifact) = b.respond(p).get
        assert(java.util.Arrays.equals(bytes, other), p)
        assert(artifact == otherArtifact)
      }
    } finally { a.stop(); b.stop() }
  }

  test("dead sources and unlisted names are not served") {
    val o = new Origin(3, 0, 1)
    try {
      o.setHour(2)
      val dead = o.model.failing.find(_.dead).get
      assert(o.respond(dead.url.stripPrefix(o.baseUrl)).isEmpty)
      val links = o.model.sources.find(s => s.live && s.tpe == "LINKS").get
      assert(o.respond(s"links/${links.id}/${links.id}_2026081203.csv").isEmpty)
      assert(o.respond(s"links/${links.id}/${links.id}_2026081202.csv").isDefined)
    } finally o.stop()
  }
}
