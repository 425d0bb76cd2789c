package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Golden end-to-end downloader tests (SURVEY.md §5.2.4): every strategy
  * branch + error path + DLQ + dup-guard, driven entirely over `file://`
  * URLs — no network.
  */
class PipelineSpec extends SparkSpec {

  private def write(p: Path, s: String): Path = {
    Files.createDirectories(p.getParent); Files.writeString(p, s)
  }
  private def read(p: Path): String = Files.readString(p)

  private def setupSource(src: Path): Unit = {
    write(src.resolve("a.csv"), "alpha,1")
    write(src.resolve("b.zip"), "zip-bytes")
    write(src.resolve("page.html"),
      """<html><a href="a.csv">a</a><a href="b.zip">b</a><a href="sub/">d</a></html>""")
    write(src.resolve("c.txt"), "c-v1")
    write(src.resolve("page2.html"), """<a href="c.txt">c</a>""")
    write(src.resolve("direct.bin"), "direct-payload")
    write(src.resolve("ftpfile.bin"), "ftp-payload")
    write(src.resolve("data_1.zip"), "d1")
    write(src.resolve("data_2.zip"), "d2")
    write(src.resolve("readme.txt"), "no")
    write(src.resolve("listing.txt"),
      "-rw-r--r-- 1 f f 2 Aug 12 04:00 data_1.zip\r\n" +
      "-rw-r--r-- 1 f f 2 Aug 12 04:00 data_2.zip\r\n" +
      "-rw-r--r-- 1 f f 2 Aug 12 04:00 readme.txt\r\n")
  }

  private def tasksDF(src: Path): DataFrame = {
    import spark.implicits._
    val u = src.toUri.toString  // file:///...src/
    Seq(
      ("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0),
      ("s-over", s"${u}page2.html", "LINKS_OVERWRITE", "ignore", "0", 0),
      ("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0),
      ("s-dftp", s"${u}ftpfile.bin", "DIRECT_FTP", "ftp_out.bin", "0", 0),
      ("s-ftp", s"${u}listing.txt", "FTP_FILES", "data_*.zip", "0", 0),
      ("s-broken", s"${u}missing.html", "LINKS", "ignore", "0", 0),
      ("s-bogus", s"${u}page.html", "BOGUS_TYPE", "ignore", "0", 0),
      ("s-dead", s"${u}page.html", "LINKS", "ignore", "0", 5)
    ).toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")
  }

  test("processBatch: all strategies, dup-guard, error path, DLQ") { withTempDir("pipe") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)

    val report = DownloadPipeline.processBatch(tasksDF(src), root)

    // K3 sink layout per strategy (data_downloader.py:104-107,132,170,195)
    assert(read(Paths.get(root, "out/LINK/a.csv")) === "alpha,1")
    assert(read(Paths.get(root, "out/LINK/b.zip")) === "zip-bytes")
    assert(read(Paths.get(root, "out/LINKS_OVER/c.txt")) === "c-v1")
    assert(read(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")) === "direct-payload")
    assert(read(Paths.get(root, "out/FTP_FILE/ftp_out.bin")) === "ftp-payload")
    assert(read(Paths.get(root, "out/FTP_FILES/data_1.zip")) === "d1")
    assert(read(Paths.get(root, "out/FTP_FILES/data_2.zip")) === "d2")
    // glob filtered readme.txt out; dir link dropped by empty basename
    assert(!Files.exists(Paths.get(root, "out/FTP_FILES/readme.txt")))

    // E2 alerts: one for the unreadable page, one for the unknown type
    val alerts = spark.read.text(s"$root/alerts").collect().map(_.getString(0))
    assert(alerts.length === 2, alerts.mkString("\n"))
    assert(alerts.exists(a => a.contains("s-broken")))
    assert(alerts.exists(a => a.contains("s-bogus") && a.contains("Unknown source type")))

    // E4: exhausted task dead-lettered, not fetched
    val dead = spark.read.text(s"$root/dead_letter").collect().map(_.getString(0))
    assert(dead.length === 1 && dead.head.contains("s-dead"))
    assert(report.deadLettered === 1)
    assert(report.errors === 2)
    assert(report.downloaded === 7)

    // D1 dup-guard: change upstream content; LINKS must keep the old file
    // (no overwrite), LINKS_OVERWRITE must replace it.
    write(src.resolve("a.csv"), "alpha,CHANGED")
    write(src.resolve("c.txt"), "c-v2")
    val again = DownloadPipeline.processBatch(tasksDF(src), root)
    assert(read(Paths.get(root, "out/LINK/a.csv")) === "alpha,1")
    assert(read(Paths.get(root, "out/LINKS_OVER/c.txt")) === "c-v2")
    // every guarded key was dropped; the LINKS_OVERWRITE c.txt was not
    assert(again.skippedDuplicates === 6)
    assert(again.downloaded === 1)
  }}

  /** Spark jobs started by `body` per job description ("untagged" for a
    * job with none), counted by a listener: a sentinel job run after it
    * marks the point up to which every job event has been delivered. */
  private def jobsDuring[T](body: => T): (T, Map[String, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val sentinel = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some("body") => jobs.add(Option(
            e.properties.getProperty("spark.job.description")).getOrElse("untagged"))
          case Some("sentinel") => sentinel.set(e.jobId)
          case _                => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      val r = try body finally sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq.groupMapReduce(identity)(_ => 1)(_ + _))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Per-step job counts, steps sorted, for a failure message or `info`. */
  private def show(jobs: Map[String, Int]): String =
    s"${jobs.values.sum} Spark jobs: " +
      jobs.toSeq.sorted.map { case (d, n) => s"$d=$n" }.mkString(", ")

  /** Fails fast where an observation is never filled: its `get` would
    * block the suite forever. */
  private def bounded[T](body: => T): T = {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.{Minutes, Span}
    implicit val signaler: Signaler = ThreadSignaler
    TimeLimits.failAfter(Span(2, Minutes))(body)
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def partFiles(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.filter(_.getFileName.toString.startsWith("part-")).count().toInt
      finally s.close()
    }

  private def manifestDeltaFiles(root: String): Int =
    partFiles(Paths.get(graft.sinks.ObjectSink.manifestPath(s"$root/out")))

  test("one pass per batch: one manifest delta file, bounded Spark jobs") { withTempDir("onepass") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val tasks = tasksDF(src)
    val persisted = persistedIds

    val (report, jobs) = jobsDuring(DownloadPipeline.processBatch(tasks, root))
    info(s"first batch: ${show(jobs)}")
    assert(report.downloaded === 7 && report.errors === 2)
    // every strategy's files land through ONE manifest append ...
    assert(manifestDeltaFiles(root) === 1)
    // ... and the batch runs as one pass whose every job is named for its
    // step. One chain per strategy took 50 jobs here, and 53 on the
    // second batch; the single pass took 11 and 15 while the error path
    // and the manifest counts ran jobs of their own, 11 and 13 with both
    // riding the passes and three frames cached, and takes 5 and 7 with
    // one route collect, one fetch-and-PUT collect and no cache.
    assert(!jobs.contains("untagged"), show(jobs))
    assert(jobs.values.sum <= 5, show(jobs))
    assert(jobs.getOrElse("ingest: alerts", 0) === 1, show(jobs))
    // the batch caches nothing, and its manifest pin is released
    assert(persistedIds -- persisted === Set.empty)

    // a second batch over a sink that now has a manifest: still one delta
    // file, one job to pin and count it, and nothing left persisted
    write(src.resolve("c.txt"), "c-v2")
    val (again, jobs2) = jobsDuring(DownloadPipeline.processBatch(tasks, root))
    info(s"second batch: ${show(jobs2)}")
    assert(again.downloaded === 1)
    assert(manifestDeltaFiles(root) === 2)
    assert(!jobs2.contains("untagged"), show(jobs2))
    assert(jobs2.values.sum <= 7, show(jobs2))
    assert(jobs2.getOrElse("ingest: manifest pin", 0) === 1, show(jobs2))
    assert(persistedIds -- persisted === Set.empty)
  }}

  test("a failing batch with a catalog: the error path takes two jobs") { withTempDir("e1-budget") { tmp =>
    import spark.implicits._
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    val catPath = tmp.resolve("sources.csv").toString
    Files.copy(Paths.get(graft.sources.Catalog.fixturePath), Paths.get(catPath))
    val tasks = Seq(
      ("src-003", tmp.resolve("nope.txt").toUri.toString, "FTP_FILES", "*", "0", 0),
      ("src-001", tmp.resolve("nope.txt").toUri.toString, "BOGUS_TYPE", "*", "0", 0)
    ).toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")

    val (report, jobs) = bounded(jobsDuring(
      DownloadPipeline.processBatch(tasks, root, Some(catPath))))
    info(s"failing batch: ${show(jobs)}")
    assert(report === DownloadPipeline.BatchReport(2, 0, 0, 2, 0))
    assert(!jobs.contains("untagged"), show(jobs))
    // the alerts and the catalog rewrite take one job each: neither
    // re-reads a cached pass nor joins the catalog against the errors
    // (re-deriving the errors for both took 12 jobs for this batch; the
    // collected errors take 10, and 4 over an uncached pass)
    assert(jobs.getOrElse("ingest: alerts", 0) === 1, show(jobs))
    assert(jobs.getOrElse("ingest: catalog flag", 0) === 1, show(jobs))
    assert(jobs.values.sum <= 4, show(jobs))
    val active = graft.sources.Catalog.read(spark, catPath)
      .select("id", "active").as[(String, Int)].collect().toMap
    assert(active("src-003") === 2 && active("src-001") === 2)
    val alerts = spark.read.text(s"$root/alerts").as[String].collect()
    assert(alerts.length === 2, alerts.mkString("\n"))
    assert(alerts.exists(a => a.contains("src-001") &&
      a.contains("Unknown source type: BOGUS_TYPE")))
  }}

  test("edge: an all-corrupt claim runs zero tasks, quarantines every line") { withTempDir("all-corrupt") { tmp =>
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    write(Paths.get(root, "queue", "poison.json"), "{not json\n[1, 2")
    val report = bounded(BatchHandler.runOnce(spark, root))
    assert(report === DownloadPipeline.BatchReport(0, 0, 0, 0, 0))
    assert(Files.exists(Paths.get(root, "done", "poison.json")))
    val q = spark.read.text(s"$root/quarantine").collect().map(_.getString(0))
    assert(q.toSet === Set("{not json", "[1, 2"))
  }}

  test("edge: a batch with no page tasks and no errors") { withTempDir("no-pages") { tmp =>
    import spark.implicits._
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val u = src.toUri.toString
    val tasks = Seq(
      ("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0),
      ("s-dftp", s"${u}ftpfile.bin", "DIRECT_FTP", "ftp_out.bin", "0", 0)
    ).toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")
    val report = bounded(DownloadPipeline.processBatch(tasks, root))
    assert(report === DownloadPipeline.BatchReport(2, 2, 0, 0, 0))
    assert(partFiles(Paths.get(root, "alerts")) === 0)
    assert(read(Paths.get(root, "out/FTP_FILE/ftp_out.bin")) === "ftp-payload")
  }}

  test("edge: a first batch on a sink with no manifest") { withTempDir("no-manifest") { tmp =>
    import spark.implicits._
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val u = src.toUri.toString
    graft.sources.Queue.enqueue(Seq(
        ("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0),
        ("s-ftp", s"${u}listing.txt", "FTP_FILES", "data_*.zip", "0", 0))
      .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"), s"$root/queue")
    assert(!Files.exists(Paths.get(graft.sinks.ObjectSink.manifestPath(s"$root/out"))))
    val report = bounded(BatchHandler.runOnce(spark, root))
    assert(report === DownloadPipeline.BatchReport(2, 4, 0, 0, 0))
    assert(manifestDeltaFiles(root) === 1)
    assert(partFiles(Paths.get(root, "quarantine")) === 0)
  }}

  test("the manifest pin compiles once for every strategy mix") { withTempDir("pin-mix") { tmp =>
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val u = src.toUri.toString
    val links = ("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0)
    val direct = ("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0)
    val listing = ("s-ftp", s"${u}listing.txt", "FTP_FILES", "data_*.zip", "0", 0)
    val directFtp = ("s-dftp", s"${u}ftpfile.bin", "DIRECT_FTP", "ftp_out.bin", "0", 0)
    def poll(tasks: (String, String, String, String, String, Int)*) =
      bounded(DownloadPipeline.processBatch(
        tasks.toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"), root))
    // each mix lands its files, then pins and guards them
    for (mix <- Seq(Seq(links, direct), Seq(listing, directFtp)); _ <- 1 to 2)
      poll(mix: _*)
    // a pin filtering and counting per guarded prefix compiled 3 new
    // classes here: its code changed with the mix
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val mixed = poll(links, direct, listing, directFtp)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(mixed === DownloadPipeline.BatchReport(4, 0, 6, 0, 0))
    assert(compiled === 0L)
  }}

  test("a failing batch still unpersists its caches") { withTempDir("failbatch") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    // a regular file where the LINK sink directory belongs: the object
    // write cannot create out/LINK/a.csv and the batch throws
    write(Paths.get(root, "out/LINK"), "not a directory")
    val persisted = persistedIds
    intercept[Exception](DownloadPipeline.processBatch(tasksDF(src), root))
    assert(persistedIds -- persisted === Set.empty)
  }}

  test("D1 guard reads the names manifest, not a sink directory listing") { withTempDir("manifest") { tmp =>
    import org.apache.spark.sql.functions.col
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    import spark.implicits._
    val u = src.toUri.toString
    val tasks = Seq(("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0))
      .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")

    DownloadPipeline.processBatch(tasks, root)
    assert(read(Paths.get(root, "out/LINK/a.csv")) === "alpha,1")
    // the write appended a (prefix, name) manifest row per object
    val manifest = spark.read
      .parquet(graft.sinks.ObjectSink.manifestPath(s"$root/out"))
      .select(col("prefix"), col("name")).as[(String, String)].collect().toSet
    assert(manifest === Set("LINK" -> "a.csv", "LINK" -> "b.zip"))

    // Remove the sink OBJECTS but keep the manifest: a directory-listing
    // guard would see an empty sink and re-download; the manifest-backed
    // guard must still skip both names across a fresh run.
    Files.delete(Paths.get(root, "out/LINK/a.csv"))
    Files.delete(Paths.get(root, "out/LINK/b.zip"))
    DownloadPipeline.processBatch(tasks, root)
    assert(!Files.exists(Paths.get(root, "out/LINK/a.csv")),
      "guard consulted the sink directory instead of the manifest")
    assert(!Files.exists(Paths.get(root, "out/LINK/b.zip")))

    // Compaction folds the accumulated per-batch delta files into one
    // deduplicated pointer-committed snapshot generation and deletes the
    // folded deltas; the guard must behave identically after.
    val n = graft.sinks.ObjectSink.compactManifest(spark, s"$root/out")
    assert(n === 2L)
    val after = graft.sinks.ObjectSink.manifestAll(spark, s"$root/out").get
      .select(col("prefix"), col("name")).as[(String, String)].collect().toSet
    assert(after === manifest)
    // the folded delta files are gone (only markers like _SUCCESS remain)
    import scala.jdk.CollectionConverters._
    val leftover = Files.list(Paths.get(
      graft.sinks.ObjectSink.manifestPath(s"$root/out")))
    try assert(!leftover.iterator().asScala.exists(
      _.getFileName.toString.startsWith("part-")))
    finally leftover.close()
    DownloadPipeline.processBatch(tasks, root)
    assert(!Files.exists(Paths.get(root, "out/LINK/a.csv")),
      "guard regressed after manifest compaction")
  }}

  test("D1 bootstrap: a legacy pre-manifest sink seeds the manifest once") { withTempDir("legacy") { tmp =>
    import org.apache.spark.sql.functions.col
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    import spark.implicits._
    val u = src.toUri.toString
    val tasks = Seq(("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0))
      .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")

    // legacy sink: objects exist on disk, NO manifest
    write(Paths.get(root, "out/LINK/a.csv"), "legacy-v1")
    val r1 = DownloadPipeline.processBatch(tasks, root)
    // a.csv guarded by the directory listing (not re-downloaded),
    // b.zip fetched fresh
    assert(read(Paths.get(root, "out/LINK/a.csv")) === "legacy-v1")
    assert(r1.downloaded === 1)
    // the listing SEEDED the manifest, so the legacy name is now durable
    // guard history: delete the object, re-run — still not re-fetched
    val manifest = spark.read
      .parquet(graft.sinks.ObjectSink.manifestPath(s"$root/out"))
      .select(col("name")).as[String].collect().toSet
    assert(manifest === Set("a.csv", "b.zip"))
    Files.delete(Paths.get(root, "out/LINK/a.csv"))
    val r2 = DownloadPipeline.processBatch(tasks, root)
    assert(r2.downloaded === 0)
    assert(!Files.exists(Paths.get(root, "out/LINK/a.csv")),
      "legacy object re-downloaded after the manifest took over")
  }}

  test("E1: failed source flags Active:=2 in the rewritten catalog") { withTempDir("e1") { tmp =>
    import spark.implicits._
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    // private catalog copy (never touch the repo fixture)
    val catPath = tmp.resolve("sources.csv").toString
    Files.copy(Paths.get(graft.sources.Catalog.fixturePath), Paths.get(catPath))

    def failTask(id: String) = Seq(
      (id, tmp.resolve("nope.txt").toUri.toString, "FTP_FILES", "*", "0", 0)
    ).toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")
    def activeById = graft.sources.Catalog.read(spark, catPath)
      .select("id", "active").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    // flags land in the LIVE catalog (reference's side-path bug not
    // reproduced), and accumulate across batches
    DownloadPipeline.processBatch(failTask("src-003"), root, Some(catPath))
    assert(activeById("src-003") === 2)
    assert(activeById("src-001") === 1)
    DownloadPipeline.processBatch(failTask("src-001"), root, Some(catPath))
    val after = activeById
    assert(after("src-001") === 2)
    assert(after("src-003") === 2, "flag from the earlier batch was lost")
  }}

  test("E4: recoverStale re-enqueues stranded tasks with attempts+1 → DLQ") { withTempDir("e4") { tmp =>
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    // a crashed batch left a claimed task file in processing/
    write(Paths.get(root, "processing", "t1.json"),
      """{"ID":"s-x","URL":"file:///nope","TYPE":"DIRECT","PATTERN":"p","UTC":"0","attempts":3}""")
    assert(BatchHandler.recoverStale(root) === 1)
    assert(!Files.exists(Paths.get(root, "processing", "t1.json")))
    val requeued = spark.read.schema(graft.model.Schemas.task)
      .json(s"$root/queue").collect()
    assert(requeued.length === 1)
    assert(requeued.head.getAs[Int]("attempts") === 4)
    // one more crash+sweep exhausts it: attempts reaches 5 → dead-letter
    val f = {
      val s = Files.list(Paths.get(root, "queue"))
      try { val l = s.iterator().next(); l } finally s.close()
    }
    Files.move(f, Paths.get(root, "processing", f.getFileName.toString))
    assert(BatchHandler.recoverStale(root) === 1)
    val report = BatchHandler.runOnce(spark, root)
    assert(report.deadLettered === 1 && report.attempted === 1)
    val dead = spark.read.text(s"$root/dead_letter").collect().map(_.getString(0))
    assert(dead.length === 1 && dead.head.contains("s-x"))
  }}

  test("batch handler: claim/process/ack moves queue files to done/") { withTempDir("batch") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    import spark.implicits._
    val u = src.toUri.toString
    graft.sources.Queue.enqueue(
      Seq(("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0))
        .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"),
      s"$root/queue")

    val report = BatchHandler.runOnce(spark, root)
    assert(report.downloaded === 1)
    assert(read(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")) === "direct-payload")
    // queue drained, files acked into done/
    assert(BatchHandler.runOnce(spark, root).attempted === 0)
    val doneFiles = Files.list(Paths.get(root, "done"))
    try assert(doneFiles.count() > 0) finally doneFiles.close()
  }}

  test("batch handler: a poll claims the pollCap lowest-named queue files") { withTempDir("claim-order") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val u = src.toUri.toString
    // written out of name order, so listing order cannot stand in for it
    val names = Seq(5, 2, 6, 0, 3, 1, 4).map(i => f"part-$i%05d.json")
    names.foreach { n =>
      write(Paths.get(root, "queue", n),
        s"""{"ID":"s-$n","URL":"${u}direct.bin","TYPE":"DIRECT","PATTERN":"out_$n.bin","UTC":"0","attempts":0}""")
    }
    val report = BatchHandler.runOnce(spark, root, pollCap = 5)
    assert(report.attempted === 5)
    def listed(dir: String): Set[String] = {
      val s = Files.list(Paths.get(root, dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".json")).toSet
      } finally s.close()
    }
    val sorted = names.sorted
    assert(listed("done") === sorted.take(5).toSet)
    assert(listed("queue") === sorted.drop(5).toSet)
  }}

  test("batch handler: poison lines land in quarantine/ before their file acks") { withTempDir("poison") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val u = src.toUri.toString
    // one good task and one corrupt line in the same queue file
    write(Paths.get(root, "queue", "mixed.json"),
      s"""{"ID":"s-ok","URL":"${u}direct.bin","TYPE":"DIRECT","PATTERN":"direct_out.bin","UTC":"0","attempts":0}
         |{not json at all""".stripMargin)
    val report = BatchHandler.runOnce(spark, root)
    assert(report.downloaded === 1)
    // the file acked away (poison must not redeliver forever) ...
    assert(Files.exists(Paths.get(root, "done", "mixed.json")))
    // ... but the dropped raw line has a durable record the error path
    // can inspect — Queue.quarantined(queueDir) can no longer see it
    // because the ack moved the file out of queue/
    val q = spark.read.text(s"$root/quarantine").collect().map(_.getString(0))
    assert(q.toSeq === Seq("{not json at all"))
  }}

  test("streaming: harvest → queue → AvailableNow drain; checkpoint acks") { withTempDir("stream") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val queueDir = s"$root/queue"
    val checkpoint = s"$root/checkpoint"

    import spark.implicits._
    val u = src.toUri.toString
    graft.sources.Queue.enqueue(
      Seq(("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0))
        .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"),
      queueDir)

    DownloadPipeline.runStream(spark, queueDir, root, checkpoint)
    assert(read(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")) === "direct-payload")

    // E3 ack: a second drain re-processes nothing (checkpoint committed) —
    // prove by deleting the sink object and the upstream source: a retry
    // would either fail (alert) or rewrite the object.
    Files.delete(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin"))
    Files.delete(src.resolve("direct.bin"))
    DownloadPipeline.runStream(spark, queueDir, root, checkpoint)
    assert(!Files.exists(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")))
    assert(!Files.exists(Paths.get(root, "alerts")) ||
      spark.read.text(s"$root/alerts").isEmpty)
  }}

  test("streaming: the offset-log (Kafka-model) transport is a drop-in") { withTempDir("stream-olog") { tmp =>
    val src = tmp.resolve("src")
    val root = tmp.resolve("ws").toString
    setupSource(src)
    Workspace.provision(root)
    val channel = graft.sources.OffsetLogChannel(s"$root/olog", nPartitions = 2)

    import spark.implicits._
    val u = src.toUri.toString
    channel.enqueue(
      Seq(("s-direct", s"${u}direct.bin", "DIRECT", "direct_out.bin", "0", 0),
        ("s-links", s"${u}page.html", "LINKS", "ignore", "0", 0))
        .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts"))

    DownloadPipeline.runStream(spark, channel, root, s"$root/checkpoint", None)
    assert(read(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")) === "direct-payload")
    assert(read(Paths.get(root, "out/LINK/a.csv")) === "alpha,1")

    // the checkpoint is the ack: a second drain re-processes nothing
    Files.delete(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin"))
    Files.delete(src.resolve("direct.bin"))
    DownloadPipeline.runStream(spark, channel, root, s"$root/checkpoint", None)
    assert(!Files.exists(Paths.get(root, "out/LINKS_DIRECT/direct_out.bin")))
  }}
}
