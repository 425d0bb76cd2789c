package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.fetch.Fetch.FileResult

/** K3 artifacts written by ObjectSink are readable back through Spark's
  * binaryFile source (SURVEY.md §1.1 "fetched artifact" row) — the sink
  * and the engine's multimodal binary-column model compose.
  */
class BinarySourceSpec extends SparkSpec {

  test("object sink → binaryFile source roundtrip") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-bin").toString
    val artifacts = Seq(
      FileResult("s1", "http://h/a.bin", "LINK/a.bin", "alpha".getBytes("UTF-8"), null),
      FileResult("s1", "http://h/b.bin", "LINK/b.bin", Array[Byte](0, 1, 2, -1), null),
      FileResult("s2", "http://h/c.bin", "FTP_FILES/c.bin", "gamma".getBytes("UTF-8"), null)
    ).toDS()
    ObjectSink.write(artifacts, root, overwrite = _ => true)

    val back = spark.read.format("binaryFile").load(s"$root/LINK")
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"), col("length"))
    val byName = back.collect().map(r =>
      r.getString(0) -> r.getAs[Array[Byte]]("content")).toMap
    assert(byName.keySet === Set("a.bin", "b.bin"))
    assert(new String(byName("a.bin"), "UTF-8") === "alpha")
    assert(byName("b.bin").toSeq === Seq[Byte](0, 1, 2, -1))

    // binary columns flow into the multimodal kernels directly
    val media = back.select(monotonically_increasing_id().as("media_id"),
      col("content").as("bytes"))
    val decoded = graft.multimodal.Multimodal.decode(media, "image", 4).collect()
    assert(decoded.length === 2)
    assert(decoded.forall(_.features.length === 4))
  }
}
