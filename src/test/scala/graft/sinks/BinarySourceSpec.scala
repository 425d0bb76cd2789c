package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** K3 artifacts written by ObjectSink are readable back through Spark's
  * binaryFile source (SURVEY.md §1.1 "fetched artifact" row) — the sink
  * and the engine's multimodal binary-column model compose.
  */
class BinarySourceSpec extends SparkSpec {

  test("object sink → binaryFile source roundtrip") { withTempDir("bin") { dir =>
    val root = dir.toString
    Seq(
      "LINK/a.bin" -> "alpha".getBytes("UTF-8"),
      "LINK/b.bin" -> Array[Byte](0, 1, 2, -1),
      "FTP_FILES/c.bin" -> "gamma".getBytes("UTF-8")
    ).foreach { case (key, body) => ObjectSink.put(root, key, body, overwrite = true) }

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
  }}
}
