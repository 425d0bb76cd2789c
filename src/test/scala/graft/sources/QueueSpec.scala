package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.Workspace

/** K1/K2 queue semantics + L1/L3 workspace lifecycle. */
class QueueSpec extends SparkSpec {

  test("enqueue/dequeue roundtrip preserves the task shape; poll cap holds") {
    import spark.implicits._
    val dir = suiteDir("q").resolve("queue").toString
    val tasks = (1 to 8).map(i =>
      (s"src-$i", s"http://h/$i", "LINKS", "p", "0")).toDF("ID", "URL", "TYPE", "PATTERN", "UTC")
    Queue.enqueue(tasks, dir)

    // reference poll cap: <= 5 per invocation (data_downloader.py:210-213)
    assert(Queue.dequeue(spark, dir, max = 5).count() === 5)
    val all = Queue.dequeue(spark, dir, max = 0)
    assert(all.count() === 8)
    assert(all.columns.toSeq ===
      Seq("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"))
    // engine-added attempts column defaults to 0
    assert(all.select("attempts").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))

    // re-enqueue with bumped attempts keeps the value
    import org.apache.spark.sql.functions._
    Queue.enqueue(all.limit(1).withColumn("attempts", lit(3)), dir)
    assert(Queue.dequeue(spark, dir, 0).filter(col("attempts") === 3).count() === 1)
  }

  test("workspace provision is idempotent; cleanPrefix empties one prefix") {
    val root = suiteDir("ws").toString
    Workspace.provision(root)
    Workspace.provision(root)  // idempotent
    Workspace.dirs.foreach(d =>
      assert(Files.isDirectory(java.nio.file.Paths.get(root, d)), d))
    Files.writeString(java.nio.file.Paths.get(root, "done", "x.txt"), "x")
    Files.writeString(java.nio.file.Paths.get(root, "in", "keep.txt"), "k")
    Workspace.cleanPrefix(root, "done")
    assert(Files.list(java.nio.file.Paths.get(root, "done")).count() === 0)
    assert(Files.list(java.nio.file.Paths.get(root, "in")).count() === 1)
  }

  test("a queue file holds the bytes write.json writes, a null PATTERN omitted") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = suiteDir("qbytes")
    val tasks = Seq(
      ("src-1", "http://h/1?a=\"q\"", "LINKS", null, "0"),
      ("src-2", "ftp://h/ü/2", "FTP_FILES", "data_*.zip", "2"))
      .toDF("ID", "URL", "TYPE", "PATTERN", "UTC").repartition(1)
    Queue.enqueue(tasks, dir.resolve("queue").toString)
    tasks.withColumn("attempts", lit(0)).write.json(dir.resolve("ref").toString)
    def partBytes(d: String): Seq[Byte] = {
      val s = Files.list(dir.resolve(d))
      val parts = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      } finally s.close()
      assert(parts.size === 1, parts)
      Files.readAllBytes(parts.head).toSeq
    }
    val got = partBytes("queue")
    assert(new String(got.toArray, "UTF-8").linesIterator.next() ===
      """{"ID":"src-1","URL":"http://h/1?a=\"q\"","TYPE":"LINKS","UTC":"0","attempts":0}""")
    assert(got === partBytes("ref"))
  }
}
