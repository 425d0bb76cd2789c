package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Corrupt-row capture on catalog ingest: malformed rows must surface in
  * `_corrupt_record` for the alert path, never silently null out. And the
  * in-place rewrite writes what Spark's CSV writer would.
  */
class CatalogAuditSpec extends SparkSpec {

  test("malformed rows land in _corrupt_record; well-formed rows parse") {
    val dir = suiteDir("cat")
    val path = dir.resolve("sources.csv")
    val header = "Id,Url,Interval,Col3,Active,Col5,Col6,Type,Pattern,Utc"
    val good = "src-001,http://h/x_{year}.csv,hourly,,1,,,DIRECT,out_{year}.csv,2"
    // wrong arity + unparseable Active/Utc ints
    val bad = "src-002,http://h/y.csv,hourly,NOT_AN_INT_ROW"
    Files.write(path, (Seq(header, good, bad).mkString("\r\n") + "\r\n").getBytes)

    val rows = Catalog.readAudited(spark, path.toString).collect()
    val (corrupt, ok) = rows.partition(r => !r.isNullAt(r.fieldIndex("_corrupt_record")))
    assert(ok.map(_.getString(0)).toSeq === Seq("src-001"))
    assert(ok.head.getInt(ok.head.fieldIndex("active")) === 1)
    assert(corrupt.map(r => r.getString(r.fieldIndex("_corrupt_record"))).toSeq
      === Seq(bad))
    // the plain reader stays PERMISSIVE (reference-shaped): same file, no
    // exception, malformed row visible as a null-padded row
    assert(Catalog.read(spark, path.toString).count() === 2)
  }

  test("replaceInPlace writes the bytes of Spark's CSV writer") {
    import spark.implicits._
    val dir = suiteDir("cat-bytes")
    val catalog = Seq[(String, String, Integer, String)](
      ("a,b", "say \"hi\"", 1, "plain"),
      ("", null, null, "\"\" beside null"),
      ("two\nlines", "  padded  ", 2, " lead"),
      ("trail ", "x", 3, "crlf\r\nrow"))
      .toDF("id", "url", "active", "note")
    val path = dir.resolve("sources.csv")
    Files.write(path, "stale".getBytes("UTF-8"))
    Catalog.replaceInPlace(catalog, path.toString)
    catalog.coalesce(1).write.option("header", "true").option("lineSep", "\r\n")
      .csv(dir.resolve("ref").toString)
    val ref = {
      val s = Files.list(dir.resolve("ref"))
      try s.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
      finally s.close()
    }
    assert(new String(Files.readAllBytes(path), "UTF-8") ===
      new String(Files.readAllBytes(ref), "UTF-8"))
    // the replace leaves no temp object or backup beside the catalog
    val left = {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet
      } finally s.close()
    }
    assert(left === Set("sources.csv", "ref"))
  }
}
