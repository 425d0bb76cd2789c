package graft.sinks

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** [[Pointers]]' atomic-replace contract: a reader racing any number of
  * replaces always observes SOME complete committed value — never
  * absence, never a torn write — and the legacy bare-file layout
  * upgrades transparently.
  */
class PointersSpec extends SparkSpec {

  private def mkDir(): Path =
    new Path(suiteDir("ptr").toString)

  private lazy val fs =
    mkDir().getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("read/replace roundtrip; unset pointer is None") {
    val d = mkDir()
    assert(Pointers.read(fs, d, "p").isEmpty)
    Pointers.replace(fs, d, "p", "one")
    assert(Pointers.read(fs, d, "p").contains("one"))
    Pointers.replace(fs, d, "p", "two")
    assert(Pointers.read(fs, d, "p").contains("two"))
  }

  test("legacy bare file reads as the current value and upgrades on replace") {
    val d = mkDir()
    val legacy = new Path(d, "cur")
    fs.mkdirs(d)
    val out = fs.create(legacy, false)
    out.write("42\n".getBytes("UTF-8")); out.close()
    assert(Pointers.read(fs, d, "cur").contains("42\n"))
    Pointers.replace(fs, d, "cur", "43\n")
    assert(Pointers.read(fs, d, "cur").contains("43\n"))
    assert(!fs.exists(legacy), "bare file removed after versioned publish")
  }

  test("a crash's stray temp file never affects reads") {
    val d = mkDir()
    Pointers.replace(fs, d, "p", "good")
    val out = fs.create(new Path(d, ".p.deadbeef.tmp"), false)
    out.write("torn".getBytes("UTF-8")); out.close()
    assert(Pointers.read(fs, d, "p").contains("good"))
  }

  test("REAL THREADS: a hammering reader never sees absence or a torn value") {
    val d = mkDir()
    Pointers.replace(fs, d, "p", "v0")
    val wrote = (0 to 40).map(i => s"v$i").toSet
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) Pointers.read(fs, d, "p") match {
        case Some(v) if wrote.contains(v) => ()
        case other => bad.add(other.toString)
      }
    }, "ptr-reader")
    reader.start()
    (1 to 40).foreach(i => Pointers.replace(fs, d, "p", s"v$i"))
    done = true
    reader.join()
    assert(bad.isEmpty,
      s"reader observed a non-committed state: ${bad.peek()}")
    assert(Pointers.read(fs, d, "p").contains("v40"))
  }

  test("REAL THREADS: legacy→versioned transition never reads as absence") {
    // The r13-ADVICE race: read()'s listing finds no versioned file,
    // then a concurrent replace publishes v1 AND prunes the legacy bare
    // file before read()'s exists() probe — a naive read returns None
    // ("never written") though a successor exists. read() must confirm
    // emptiness against a FRESH listing before giving up. The window is
    // one syscall wide, so drive many independent transitions with
    // readers pinned on the window.
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    (1 to 60).foreach { i =>
      val d = mkDir()
      val legacy = new Path(d, "cur")
      fs.mkdirs(d)
      val out = fs.create(legacy, false)
      out.write("old".getBytes("UTF-8")); out.close()
      val start = new java.util.concurrent.CountDownLatch(1)
      val readers = (1 to 2).map(r => new Thread(() => {
        start.await()
        var n = 0
        while (n < 50) {
          if (Pointers.read(fs, d, "cur").isEmpty)
            bad.add(s"round $i reader $r: read None mid-transition")
          n += 1
        }
      }, s"ptr-legacy-reader-$i-$r"))
      readers.foreach(_.start())
      start.countDown()
      Pointers.replace(fs, d, "cur", "new")
      readers.foreach(_.join())
      assert(Pointers.read(fs, d, "cur").contains("new"))
    }
    assert(bad.isEmpty, s"${bad.size} absence reads: ${bad.peek()}")
  }

  test("version files are pruned: bounded metadata under many replaces") {
    val d = mkDir()
    (1 to 30).foreach(i => Pointers.replace(fs, d, "p", s"v$i"))
    val n = fs.listStatus(d).map(_.getPath.getName)
      .count(_.startsWith("p.v"))
    assert(n <= 2, s"expected <=2 retained versions, found $n")
  }
}
