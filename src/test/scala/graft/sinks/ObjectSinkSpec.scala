package graft.sinks

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** [[ObjectSink.put]]'s write-to-temp + atomic move leaves no temp
  * object behind when the move fails. */
class ObjectSinkSpec extends SparkSpec {

  test("a failed move deletes its temp object") {
    withTempDir("osink") { root =>
      // the target key is a non-empty directory, so the move onto it fails
      val target = Files.createDirectories(root.resolve("LINK/a.bin"))
      Files.write(target.resolve("inner"), Array[Byte](1))
      intercept[Exception](ObjectSink.put(root.toString, "LINK/a.bin",
        "alpha".getBytes("UTF-8"), overwrite = true))
      val s = Files.list(root.resolve("LINK"))
      val names = try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close()
      assert(!names.exists(_.contains(".tmp-")), names.mkString(", "))
    }
  }
}
