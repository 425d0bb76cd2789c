package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** L3 prefix cleanup + the recoverStale visibility-timeout gate.
  * Reference semantics: delete every object under the given prefix,
  * leave sibling prefixes untouched
  * (`market_data_downloader_clean_test_files.py:34-43`).
  */
class WorkspaceSpec extends SparkSpec {

  private def mkRoot(): String = suiteDir("ws").toString

  test("cleanPrefix deletes nested contents of the prefix only") {
    val root = mkRoot()
    Workspace.provision(root)
    Files.write(Paths.get(root, "in", "a.csv"), "x".getBytes)
    Files.createDirectories(Paths.get(root, "in", "sub"))
    Files.write(Paths.get(root, "in", "sub", "b.csv"), "y".getBytes)
    Files.write(Paths.get(root, "done", "keep.csv"), "z".getBytes)

    Workspace.cleanPrefix(root, "in")

    assert(Files.isDirectory(Paths.get(root, "in")), "prefix dir itself survives")
    assert(!Files.exists(Paths.get(root, "in", "a.csv")))
    assert(!Files.exists(Paths.get(root, "in", "sub")))
    assert(Files.exists(Paths.get(root, "done", "keep.csv")),
      "sibling prefixes must be untouched")
  }

  test("cleanPrefix on a missing prefix is a no-op (idempotent teardown)") {
    val root = mkRoot()
    Workspace.cleanPrefix(root, "nope") // must not throw
    assert(!Files.exists(Paths.get(root, "nope")))
  }

  test("recoverStale honors the visibility timeout (fresh in-flight files stay)") {
    val root = mkRoot()
    Workspace.provision(root)
    val fresh = Paths.get(root, "processing", "t1.json")
    val stale = Paths.get(root, "processing", "t2.json")
    Files.write(fresh, """{"ID":"a"}""".getBytes)
    Files.write(stale, """{"ID":"b"}""".getBytes)
    Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 600000L))

    val n = BatchHandler.recoverStale(root, visibilityTimeoutMs = 300000L)

    assert(n === 1)
    assert(Files.exists(fresh), "in-flight file younger than the timeout is not re-enqueued")
    assert(!Files.exists(stale))
    val requeued = Files.list(Paths.get(root, "queue"))
    try {
      import scala.jdk.CollectionConverters._
      val names = requeued.iterator().asScala.map(_.getFileName.toString).toList
      assert(names === List("t2.json.retry"))
    } finally requeued.close()
  }
}
