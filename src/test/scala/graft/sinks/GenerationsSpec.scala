package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The pointer-file commit protocol's contract: atomic visibility, crash
  * windows that never lose or tear a snapshot, deletion-only GC.
  */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String =
    suiteDir("gen").resolve("t").toString

  test("writeAndCommit publishes snapshots with monotonic versions") {
    val t = mkTable()
    assert(Generations.read(spark, t).isEmpty)
    val c1 = Generations.writeAndCommit(spark, Seq(1, 2, 3).toDF("v"), t)
    assert(c1.version === 1L && c1.rows === 3L)
    val c2 = Generations.writeAndCommit(spark, Seq(9).toDF("v"), t)
    assert(c2.version === 2L && c2.rows === 1L)
    // reader sees exactly the newest committed snapshot
    assert(Generations.read(spark, t).get.as[Int].collect().toSet === Set(9))
  }

  test("a crash before the pointer commit leaves the old snapshot live") {
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(1, 2).toDF("v"), t)
    // simulate: the data write of generation 2 finished, but the process
    // died before the pointer was published — an orphaned gen dir
    Seq(7, 8, 9).toDF("v").write.parquet(s"$t/data/g00000002-deadbeef")
    assert(Generations.read(spark, t).get.as[Int].collect().toSet
      === Set(1, 2), "orphaned (uncommitted) generation must be invisible")
    // and a stale pointer TEMP file is equally invisible
    Files.write(Paths.get(t, "_commits", ".v0000000000000002.x.tmp"),
      "2 g00000002-deadbeef 3\n".getBytes("UTF-8"))
    assert(Generations.latest(spark, t).get.version === 1L)
    // the next writer proceeds normally over the debris
    val c = Generations.writeAndCommit(spark, Seq(5).toDF("v"), t)
    assert(c.version === 2L)
    assert(Generations.read(spark, t).get.as[Int].collect().toSet === Set(5))
  }

  test("gc prunes old commits, orphaned generations, and stale temps only") {
    val t = mkTable()
    val c1 = Generations.writeAndCommit(spark, Seq(1).toDF("v"), t)
    val c2 = Generations.writeAndCommit(spark, Seq(2).toDF("v"), t)
    val c3 = Generations.writeAndCommit(spark, Seq(3).toDF("v"), t)
    // debris: an orphaned gen dir + a stale pointer temp
    Seq(0).toDF("v").write.parquet(s"$t/data/g00000009-orphaned")
    Files.write(Paths.get(t, "_commits", ".v9.x.tmp"), "junk".getBytes)
    // default grace: the FRESH unreferenced dir is indistinguishable
    // from a concurrent writer mid-commit, so gc must leave it — only
    // the superseded v1 gen (referenced by the dropped pointer) and the
    // stale temp go
    val (nc0, ng0) = Generations.gc(spark, t, keep = 2)
    assert(nc0 === 2) // commit v1 + the stale temp
    assert(ng0 === 1, "fresh orphan must survive the grace window")
    assert(Files.exists(Paths.get(t, "data", "g00000009-orphaned")))
    // past the grace (simulated with 0): true crash debris is collected
    val (nc, ng) = Generations.gc(spark, t, keep = 2, orphanGraceMs = 0L)
    assert(nc === 0 && ng === 1)
    // kept: v2 (rollback target) and the live v3, both readable — v2
    // also via time travel; GC'd v1 travels to None, not garbage
    assert(Generations.latest(spark, t).get === c3)
    assert(Generations.readAt(spark, t, 2L).get.as[Int].collect().toSet
      === Set(2))
    assert(Generations.readAt(spark, t, 1L).isEmpty)
    assert(spark.read.parquet(Generations.genPath(t, c2))
      .as[Int].collect().toSet === Set(2))
    assert(!Files.exists(Paths.get(Generations.genPath(t, c1))))
    assert(Generations.read(spark, t).get.as[Int].collect().toSet === Set(3))
    // idempotent: a second (crash-resumed) gc is a no-op
    assert(Generations.gc(spark, t, keep = 2) === ((0, 0)))
  }

  test("a duplicate version publish loses the publish race (the commit lock)") {
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(1).toDF("v"), t)
    // a lost writer that still thinks the table is empty tries to commit
    // version 1 again via the raw protocol: the create-only publish fails
    val cd = new Path(s"$t/_commits")
    val fs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(cd, ".v0000000000000001.dup.tmp")
    val out = fs.create(tmp, false)
    out.write("1 g00000001-dup 0\n".getBytes("UTF-8")); out.close()
    assert(!Pointers.publishNew(fs, tmp, new Path(cd, "v0000000000000001")),
      "publishing onto an existing commit must fail, protecting the winner")
    fs.delete(tmp, false)
  }

  test("SIMULTANEOUS same-name publishes: exactly one wins, every time") {
    // Hadoop's local rename is a non-atomic exists-check + POSIX
    // rename(2) (which REPLACES the destination): two threads racing the
    // same commit name could BOTH report success (measured 1934/2000
    // rounds on this host), the loser's pointer silently overwriting the
    // winner's — the lost update the concurrent-MERGE test caught once
    // under full-suite load. Pointers.publishNew must make the race
    // single-winner on every scheme; this hammers the primitive itself.
    val dir = new Path(suiteDir("pubrace").toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (i <- 0 until 500) {
      val dst = new Path(dir, s"v$i")
      val srcs = (0 to 1).map { j =>
        val p = new Path(dir, s".v$i.$j.tmp")
        val o = fs.create(p, false); o.write(j); o.close(); p
      }
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = srcs.map { s =>
        new Thread(() => {
          barrier.await()
          if (Pointers.publishNew(fs, s, dst)) wins.incrementAndGet()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() === 1, s"round $i: ${wins.get()} writers won $dst")
      srcs.foreach(fs.delete(_, false)) // loser's tmp (winner's is gone)
    }
  }

  test("two concurrent appendCommitted writers: both deltas land, " +
      "both witnesses survive") {
    // the streaming-ingest shape under writer concurrency: two distinct
    // writer prefixes (the documented fencing unit) appending
    // simultaneously must interleave without losing a commit line — the
    // exact casualty of the local-rename replace race publishNew closes
    // (a lost commit here silently drops the rows AND the replay
    // witness, breaking exactly-once on the next redelivery)
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(0).toDF("v"), t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 5).foreach { round =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val fs = Seq("wA", "wB").map { w =>
        pool.submit(new java.util.concurrent.Callable[Option[Generations.Commit]] {
          def call(): Option[Generations.Commit] = {
            barrier.await()
            Generations.appendCommitted(spark, Seq(round).toDF("v"), t,
              s"$w=$round")
          }
        })
      }
      fs.foreach(f =>
        assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS).nonEmpty,
          s"round $round: an append was silently swallowed"))
    } finally pool.shutdownNow()
    val commits = Generations.commits(spark, t)
    assert(commits.map(_.version) === (1L to 11L), "no holes, no dups")
    (1 to 5).foreach { r =>
      assert(commits.exists(_.tag == s"wA=$r"), s"wA=$r commit lost")
      assert(commits.exists(_.tag == s"wB=$r"), s"wB=$r commit lost")
    }
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === (Seq(0) ++ (1 to 5).flatMap(r => Seq(r, r))).sorted.toSeq)
    assert(Generations.lastAppendId(spark, t, "wA").contains(5L))
    assert(Generations.lastAppendId(spark, t, "wB").contains(5L))
  }

  test("two concurrent committers both land, consecutive versions, no loss") {
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(0).toDF("v"), t)
    // both threads read latest=v1, write their generations, then race the
    // v2 pointer: the loser must re-publish as v3, not fail or overwrite
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Generations.Commit] {
          def call(): Generations.Commit =
            Generations.writeAndCommit(spark, Seq(i * 10).toDF("v"), t)
        })
      }
      val landed = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(landed.map(_.version).sorted === Seq(2L, 3L))
      assert(landed.map(_.gen).distinct.size === 2, "no lost generation")
      // every committed version time-travels to its own writer's data
      val v2 = Generations.readAt(spark, t, 2L).get.as[Int].collect().toSet
      val v3 = Generations.readAt(spark, t, 3L).get.as[Int].collect().toSet
      assert(Set(v2, v3) === Set(Set(10), Set(20)))
    } finally pool.shutdownNow()
  }

  test("concurrent MERGEs are optimistic: neither update is lost") {
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq((1, "a")).toDF("k", "v"), t)
    // two writers merge DIFFERENT keys concurrently; without the
    // expectedBase CAS + redo loop, the stale merge basis would silently
    // drop the other writer's row (classic lost update)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq((2, "b"), (3, "c")).map { case (k, v) =>
        pool.submit(new java.util.concurrent.Callable[Generations.Commit] {
          def call(): Generations.Commit = Generations.mergeAndCommit(spark, t,
            Seq((k, v, false)).toDF("k", "v", "_deleted"), Seq("k"))
        })
      }
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(Generations.read(spark, t).get.as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("a stale expectedBase aborts with CommitConflictException") {
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(1).toDF("v"), t)
    Generations.writeAndCommit(spark, Seq(2).toDF("v"), t) // table advances
    intercept[Generations.CommitConflictException] {
      Generations.writeAndCommit(spark, Seq(9).toDF("v"), t,
        expectedBase = Some(1L)) // built on v1, but head is v2
    }
    // the aborted writer's orphan generation is invisible and GC-able
    assert(Generations.read(spark, t).get.as[Int].collect().toSet === Set(2))
    Generations.gc(spark, t, keep = 1)
    assert(Generations.read(spark, t).get.as[Int].collect().toSet === Set(2))
  }

  test("committing is one data scan: no write-then-recount double read") {
    val t = mkTable()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    // execution ids are handed out in creation order: an event of an
    // earlier test still queued on the async bus carries an id at or
    // below this floor, every execution of this test one above it
    val floor = spark.range(1).queryExecution.id
    def count(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      if (qe.id > floor) seen.incrementAndGet()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = count(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = count(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val c = Generations.writeAndCommit(spark,
        spark.range(100).toDF("v"), t)
      assert(c.rows === 100L, "row count must come from the write itself")
      // listener delivery is async: wait for the write's execution event,
      // then assert nothing FURTHER arrives (the old implementation's
      // re-read count() would be a second QueryExecution)
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.get() < 1 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(seen.get() === 1,
        s"expected exactly one query execution (the write), saw ${seen.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("replay idempotence survives FULL gc via the carried-tag witness") {
    val t = mkTable()
    (0 to 3).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    Generations.squash(spark, t)
    // prune EVERYTHING but the squash itself — no pre-squash commit file
    // survives, so the no-op below can only come from the carried witness
    Generations.gc(spark, t, keep = 1)
    assert(Generations.commits(spark, t).map(_.tag)
      === Seq(Generations.SquashTag))
    assert(Generations.latest(spark, t).get.carried === Seq("batch=3"))
    val reads0 = Generations.commitCache.misses
    assert(Generations.appendCommitted(spark, Seq(3).toDF("v"), t,
      "batch=3").isEmpty, "latest batch replay must stay a no-op")
    assert(Generations.commitCache.misses - reads0 <= 2,
      "replay check must read O(live span) pointer files, not history")
    // and a genuinely new batch still appends
    assert(Generations.appendCommitted(spark, Seq(4).toDF("v"), t,
      "batch=4").isDefined)
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(0, 1, 2, 3, 4))
  }

  test("witness carries the newest tag per WRITER prefix independently") {
    val t = mkTable()
    Generations.appendCommitted(spark, Seq(1).toDF("v"), t, "streamA=5")
    Generations.appendCommitted(spark, Seq(2).toDF("v"), t, "streamB=9")
    Generations.appendCommitted(spark, Seq(3).toDF("v"), t, "streamA=6")
    Generations.squash(spark, t)
    Generations.gc(spark, t, keep = 1)
    val carried = Generations.latest(spark, t).get.carried.toSet
    assert(carried === Set("streamA=6", "streamB=9"),
      "each writer's newest tag survives; stale streamA=5 is dropped")
    assert(Generations.appendCommitted(spark, Seq(3).toDF("v"), t,
      "streamA=6").isEmpty)
    assert(Generations.appendCommitted(spark, Seq(2).toDF("v"), t,
      "streamB=9").isEmpty)
  }

  test("squash-then-snapshot lifecycle keeps retention bounded (no gc pinning)") {
    val t = mkTable()
    (0 to 2).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    Generations.squash(spark, t)
    // the lakehouse lifecycle: plain '-' snapshot commits keep landing
    // after the squash (MERGE, compaction). Each supersedes history — gc
    // must keep pruning down to `keep`, not pin at the old squash forever.
    (1 to 5).foreach(i => Generations.writeAndCommit(spark,
      spark.range(i).toDF("v"), t))
    Generations.gc(spark, t, keep = 2)
    val remaining = Generations.commits(spark, t)
    assert(remaining.length === 2,
      s"retention must stay bounded at keep=2, got ${remaining.map(_.tag)}")
    assert(Generations.read(spark, t).get.count() === 5L)
    // and the carried witness still blocks a replay of the last batch
    assert(Generations.appendCommitted(spark, Seq(2).toDF("v"), t,
      "batch=2").isEmpty)
  }

  test("manifest compaction crash windows never lose or duplicate guards") {
    import org.apache.spark.sql.functions.col
    val root = suiteDir("mc").resolve("out").toString
    def names(prefix: String): Set[String] =
      ObjectSink.manifestAll(spark, root).get
        .filter(col("prefix") === prefix).select(col("name"))
        .as[String].collect().toSet

    // two append batches → two delta files
    Seq(("P", "a")).toDF("prefix", "name")
      .write.mode("append").parquet(ObjectSink.manifestPath(root))
    Seq(("P", "b")).toDF("prefix", "name")
      .write.mode("append").parquet(ObjectSink.manifestPath(root))
    assert(names("P") === Set("a", "b"))

    // crash window 1: snapshot generation written but pointer never
    // published → manifest still reads complete from the deltas
    Seq(("P", "a"), ("P", "b")).toDF("prefix", "name")
      .write.parquet(s"${ObjectSink.manifestSnapPath(root)}/data/g00000001-dead")
    assert(names("P") === Set("a", "b"))

    // a real compaction over the debris: snapshot commits, deltas gone
    assert(ObjectSink.compactManifest(spark, root) === 2L)
    assert(names("P") === Set("a", "b"))

    // crash window 2: commit succeeded but the folded delta files were
    // not deleted — rows exist in snapshot AND delta; the guard's view
    // (a membership set) is unchanged, and the next compaction heals it
    Seq(("P", "a")).toDF("prefix", "name")
      .write.mode("append").parquet(ObjectSink.manifestPath(root))
    assert(names("P") === Set("a", "b"))
    assert(ObjectSink.compactManifest(spark, root) === 2L)
    assert(names("P") === Set("a", "b"))

    // appends after compaction keep working (snapshot ∪ delta)
    Seq(("P", "c")).toDF("prefix", "name")
      .write.mode("append").parquet(ObjectSink.manifestPath(root))
    assert(names("P") === Set("a", "b", "c"))
  }

  test("log appends are idempotent by tag; readLog unions deltas") {
    val t = mkTable()
    assert(Generations.readLog(spark, t).isEmpty)
    assert(Generations.appendCommitted(spark, Seq(1, 2).toDF("v"), t,
      "batch=0").isDefined)
    assert(Generations.appendCommitted(spark, Seq(3).toDF("v"), t,
      "batch=1").isDefined)
    // re-delivery of batch 0 (crash replay): durable no-op
    assert(Generations.appendCommitted(spark, Seq(1, 2).toDF("v"), t,
      "batch=0").isEmpty)
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(1, 2, 3))
    assert(Generations.commits(spark, t).length === 2)
  }

  test("squash folds the log into one commit and gc keeps the live span") {
    val t = mkTable()
    (0 to 3).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    // unsquashed log: every commit is live — gc must not prune any
    assert(Generations.gc(spark, t, keep = 1) === ((0, 0)))
    val sq = Generations.squash(spark, t).get
    assert(sq.tag === Generations.SquashTag && sq.rows === 4L)
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(0, 1, 2, 3))
    // superseded history is gone EXCEPT the newest pre-squash commit:
    // only the latest batchId can ever replay, and its tag must survive
    // the squash or the replay would re-append (exactly-once hole)
    assert(Generations.logCommits(spark, t).map(_.version) === Seq(sq.version))
    assert(Generations.commits(spark, t).map(_.tag)
      === Seq("batch=3", Generations.SquashTag))
    assert(Generations.appendCommitted(spark, Seq(3).toDF("v"), t,
      "batch=3").isEmpty, "latest pre-squash batch replay must stay a no-op")
    // appends continue after the squash and union with it
    Generations.appendCommitted(spark, Seq(9).toDF("v"), t, "batch=9")
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(0, 1, 2, 3, 9))
  }

  test("log tables evolve additively: new columns, old gens read as null") {
    val t = mkTable()
    Generations.appendCommitted(spark, Seq((1, "a")).toDF("k", "v"), t,
      "batch=0")
    // a later batch adds a column — the lakehouse additive evolution
    Generations.appendCommitted(spark,
      Seq((2, "b", "en")).toDF("k", "v", "lang"), t, "batch=1")
    val rows = Generations.readLog(spark, t).get
      .select("k", "v", "lang").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows === Set((1, "a", None), (2, "b", Some("en"))))
    // squash bakes the widened schema into one generation
    Generations.squash(spark, t)
    assert(Generations.read(spark, t).get.columns.toSet
      === Set("k", "v", "lang"))
  }

  test("mergeAndCommit applies upserts/deletes as a snapshot-isolated generation") {
    val t = mkTable()
    val c1 = Generations.writeAndCommit(spark,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), t)
    val changes = Seq((2, "B", false), (3, "c", true), (4, "d", false))
      .toDF("k", "v", "_deleted")
    val c2 = Generations.mergeAndCommit(spark, t, changes, Seq("k"))
    assert(c2.rows === 3L)
    assert(Generations.read(spark, t).get.as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "B"), (4, "d")))
    // snapshot isolation: the pre-merge generation is still intact for
    // readers holding the old pointer
    assert(spark.read.parquet(Generations.genPath(t, c1))
      .as[(Int, String)].collect().toSet
      === Set((1, "a"), (2, "b"), (3, "c")))
    // merge into a never-committed table: the inserts are the snapshot
    val t2 = mkTable()
    Generations.mergeAndCommit(spark, t2, changes, Seq("k"))
    assert(Generations.read(spark, t2).get.as[(Int, String)].collect().toSet
      === Set((2, "B"), (4, "d")))
  }

  test("TxnSink.parquetLog is exactly-once through a real restarted stream") {
    import graft.streaming.TxnSink
    val dir = suiteDir("txn")
    val in = dir.resolve("in"); Files.createDirectories(in)
    val table = dir.resolve("t").toString
    val ck = dir.resolve("ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.schema("v INT").json(in.toString)
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(TxnSink.parquetLog(table))
        .start()
      q.awaitTermination()
    }
    Files.write(in.resolve("a.json"), "{\"v\":1}\n{\"v\":2}\n".getBytes)
    runOnce()
    assert(Generations.readLog(spark, table).get.count() === 2L)
    // restart with the same checkpoint, no new data: no growth
    runOnce()
    assert(Generations.readLog(spark, table).get.count() === 2L)
    // crash-replay simulation: foreachBatch re-delivers an already-
    // committed batchId — the sink must not duplicate it
    TxnSink.parquetLog(table)(Seq(1, 2).toDF("v"), 0L)
    assert(Generations.readLog(spark, table).get.count() === 2L)
    // new data flows as a new batch
    Files.write(in.resolve("b.json"), "{\"v\":3}\n".getBytes)
    runOnce()
    assert(Generations.readLog(spark, table).get.as[Int].collect().sorted
      === Array(1, 2, 3))
  }

  test("compactGenerations on a LIVE LOG table folds, never duplicates") {
    val t = mkTable()
    (0 to 3).foreach(i => Generations.appendCommitted(spark,
      Seq.fill(50)(i).toDF("v").repartition(4), t, s"batch=$i"))
    assert(Generations.readLog(spark, t).get.count() === 200L)
    // 16 part files across the live span → compaction folds the WHOLE
    // log view into one snapshot-kind generation. Before r11 this
    // committed a '-' DELTA that readLog unioned as a duplicate of the
    // latest generation — the row count would have doubled.
    val (b, a) = Compact.compactGenerations(spark, t)
    assert(b === 16 && a === 1)
    assert(Generations.readLog(spark, t).get.count() === 200L,
      "compaction must not double-count the compacted rows")
    // replay protection survives the compaction (carried witness)
    assert(Generations.appendCommitted(spark, Seq(3).toDF("v"), t,
      "batch=3").isEmpty)
    // and appends continue on top of the compacted snapshot
    Generations.appendCommitted(spark, Seq(7).toDF("v"), t, "batch=7")
    assert(Generations.readLog(spark, t).get.count() === 201L)
  }

  test("OLDER-batch replay after squash+gc is a no-op (numeric witness order)") {
    val t = mkTable()
    (0 to 3).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    Generations.squash(spark, t)
    Generations.gc(spark, t, keep = 1)
    // only batch=3 survives as the carried witness — yet a rolled-back /
    // rebuilt checkpoint re-offering an OLDER id must still be a no-op:
    // a serial writer commits ascending ids, so witness id 3 proves 1
    assert(Generations.appendCommitted(spark, Seq(1).toDF("v"), t,
      "batch=1").isEmpty, "older-id replay vs carried witness must no-op")
    // same rule against a LIVE same-prefix commit (no snapshot between)
    Generations.appendCommitted(spark, Seq(4).toDF("v"), t, "batch=4")
    assert(Generations.appendCommitted(spark, Seq(2).toDF("v"), t,
      "batch=2").isEmpty, "older-id replay vs live commit must no-op")
    // a genuinely new id still lands, and content stays exactly-once
    assert(Generations.appendCommitted(spark, Seq(5).toDF("v"), t,
      "batch=5").isDefined)
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(0, 1, 2, 3, 4, 5))
    // other writers' ids don't fence this one (prefix-scoped ordering)
    assert(Generations.appendCommitted(spark, Seq(9).toDF("v"), t,
      "other=1").isDefined)
  }

  test("bare append tags are rejected (the witness is prefix-keyed)") {
    val t = mkTable()
    intercept[IllegalArgumentException] {
      Generations.appendCommitted(spark, Seq(1).toDF("v"), t, "justatag")
    }
  }

  test("gc honors a fresh in-flight marker over the gen dir's stale mtime") {
    import java.nio.file.attribute.FileTime
    val t = mkTable()
    Generations.writeAndCommit(spark, Seq(1).toDF("v"), t)
    // a completed commit leaves no marker behind
    assert(!Files.list(Paths.get(t, "data")).iterator().asScala
      .exists(_.getFileName.toString.startsWith(".inflight-")))
    // simulate a concurrent writer deep in a LONG data write: the gen
    // dir's mtime stalled at creation (task output lands under
    // _temporary) — far past any grace — but its marker is fresh
    Seq(0).toDF("v").write.parquet(s"$t/data/g00000009-midwrite")
    val gen = Paths.get(t, "data", "g00000009-midwrite")
    val marker = Paths.get(t, "data", ".inflight-g00000009-midwrite")
    Files.createFile(marker)
    val old = FileTime.fromMillis(System.currentTimeMillis() - 100L * 3600 * 1000)
    Files.setLastModifiedTime(gen, old)
    val (_, ng) = Generations.gc(spark, t, keep = 1, orphanGraceMs = 60000L)
    assert(ng === 0, "live writer's generation must never be collected")
    assert(Files.exists(gen) && Files.exists(marker))
    // the writer dies (marker goes stale): now it IS crash debris
    Files.setLastModifiedTime(marker, old)
    val (_, ng2) = Generations.gc(spark, t, keep = 1, orphanGraceMs = 60000L)
    assert(ng2 === 1)
    assert(!Files.exists(gen) && !Files.exists(marker))
  }

  test("compactGenerations rewrites wide generations via pointer commit") {
    val t = mkTable()
    Generations.writeAndCommit(spark,
      spark.range(1000).toDF("v").repartition(16), t)
    val (b, a) = Compact.compactGenerations(spark, t)
    assert(b === 16 && a === 1)
    assert(Generations.read(spark, t).get.count() === 1000L)
    assert(Generations.latest(spark, t).get.version === 2L)
    // already compact → no-op, no new generation
    assert(Compact.compactGenerations(spark, t) === ((1, 1)))
    assert(Generations.latest(spark, t).get.version === 2L)
  }

  test("a SPLICE snapshot keeps the commits at/above its keep-from live") {
    val t = mkTable()
    (1 to 5).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    // splice v6 supersedes commits 1-2 (their content re-expressed as
    // one summary row 100 = 1+2... by the writer's contract) and keeps
    // 3..5 by reference
    Generations.writeAndCommit(spark, Seq(100).toDF("v"), t,
      tag = "=fold=x~keep=3")
    val span = Generations.logCommits(spark, t)
    assert(span.map(_.version) === Seq(3L, 4L, 5L, 6L),
      "span = kept commits beneath the splice, plus the splice")
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(3, 4, 5, 100))
    // appends continue above; span stays union-exact
    Generations.appendCommitted(spark, Seq(7).toDF("v"), t, "batch=7")
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(3, 4, 5, 7, 100))
    // a SECOND splice consolidates the first and advances the floor:
    // keep-from 7 supersedes commits 3..6 — the kept raws AND the first
    // splice's summary row merge into this one's content — so the span
    // never accretes old splices
    Generations.writeAndCommit(spark, Seq(200).toDF("v"), t,
      tag = "=fold=y~keep=7")
    assert(Generations.logCommits(spark, t).map(_.version)
      === Seq(7L, 8L))
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === Array(7, 200))
    // a FULL snapshot still truncates everything
    Generations.writeAndCommit(spark, Seq(999).toDF("v"), t)
    assert(Generations.logCommits(spark, t).map(_.version) === Seq(9L))
  }

  test("gc never collects the kept commits beneath a live splice") {
    val t = mkTable()
    (1 to 5).foreach(i => Generations.appendCommitted(spark,
      Seq(i).toDF("v"), t, s"batch=$i"))
    Generations.writeAndCommit(spark, Seq(100).toDF("v"), t,
      tag = "=fold=x~keep=3")
    val before = Generations.readLog(spark, t).get.as[Int].collect().sorted
    // keep=1 is the aggressive dial: without splice awareness it would
    // cut everything below the newest snapshot — including kept 3..5
    Generations.gc(spark, t, keep = 1, orphanGraceMs = 0L)
    assert(Generations.logCommits(spark, t).map(_.version)
      === Seq(3L, 4L, 5L, 6L), "kept commits must survive gc")
    assert(Generations.readLog(spark, t).get.as[Int].collect().sorted
      === before)
    // while the SUPERSEDED commits (1, 2) and their gens are collected
    assert(Generations.commits(spark, t).map(_.version)
      === Seq(3L, 4L, 5L, 6L))
    // replay of the newest pre-splice batch is still a witnessed no-op
    assert(Generations.appendCommitted(spark, Seq(5).toDF("v"), t,
      "batch=5").isEmpty)
  }
}
