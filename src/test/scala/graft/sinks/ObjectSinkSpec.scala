package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.fetch.Fetch.FileResult

/** [[ObjectSink.write]]'s write-to-temp + atomic move leaves no temp
  * object behind when the move fails. */
class ObjectSinkSpec extends SparkSpec {

  test("a failed move deletes its temp object") {
    import spark.implicits._
    withTempDir("osink") { root =>
      // the target key is a non-empty directory, so the move onto it fails
      val target = Files.createDirectories(root.resolve("LINK/a.bin"))
      Files.write(target.resolve("inner"), Array[Byte](1))
      val artifacts = Seq(FileResult("s1", "http://h/a.bin", "LINK/a.bin",
        "alpha".getBytes("UTF-8"), null)).toDS()
      intercept[Exception](ObjectSink.write(artifacts, root.toString, _ => true))
      val s = Files.list(root.resolve("LINK"))
      val names = try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close()
      assert(!names.exists(_.contains(".tmp-")), names.mkString(", "))
    }
  }
}
