package graft.sinks

import graft.SparkSpec

/** The cross-table atomic-commit contract: a transaction's tables become
  * visible together or not at all, concurrent disjoint transactions
  * merge, overlapping ones re-run, and catalog retention never breaks a
  * kept root's resolution.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def mkRoot(): String =
    suiteDir("cat").resolve("cat").toString

  private def tableSet(root: String, name: String): Set[Int] =
    Catalog.readTable(spark, root, name).map(_.as[Int].collect().toSet)
      .getOrElse(Set.empty)

  test("a transaction's tables appear atomically, reads are root-pinned") {
    val root = mkRoot()
    val rc1 = Catalog.transact(spark, root) { txn =>
      txn.put("a", Seq(1, 2).toDF("v"))
      txn.put("b", Seq(10).toDF("v"))
    }
    assert(rc1.version === 1L && rc1.tables.keySet === Set("a", "b"))
    assert(tableSet(root, "a") === Set(1, 2))
    assert(tableSet(root, "b") === Set(10))
    // second txn updates both; readers at the old root still see v1 of BOTH
    val rc2 = Catalog.transact(spark, root) { txn =>
      txn.put("a", Seq(3).toDF("v"))
      txn.put("b", Seq(30).toDF("v"))
    }
    assert(tableSet(root, "a") === Set(3) && tableSet(root, "b") === Set(30))
    assert(Catalog.readTableAt(spark, root, "a", rc1).get
      .as[Int].collect().toSet === Set(1, 2), "catalog-grain time travel")
    assert(Catalog.readTableAt(spark, root, "b", rc1).get
      .as[Int].collect().toSet === Set(10))
  }

  test("the reference failure path is one logical action: flag+alert+ack") {
    val root = mkRoot()
    Catalog.transact(spark, root)(txn =>
      txn.put("catalog", Seq(("s1", 1), ("s2", 1)).toDF("id", "active")))
    // the E1/E2/E3 composite the reference runs as three separate writes
    // (data_downloader.py:40-58) — here ONE atomic root publish
    graft.operators.ErrorPath.failAtomically(spark, root,
      errors = Seq(("s2", "ftp://h/x.csv", "said \"boom\""))
        .toDF("ID", "URL", "REASON"),
      acks = Seq("t-s2").toDF("task"))
    val cat = Catalog.readTable(spark, root, "catalog").get
      .orderBy("id").collect().map(r => (r.getString(0), r.getInt(1)))
    assert(cat.toSeq === Seq(("s1", 1), ("s2", 2)))
    val alert = Catalog.readTable(spark, root, "alerts").get.collect()
    assert(alert.length === 1)
    assert(alert.head.getAs[String]("REASON") === "said 'boom'",
      "alert reason sanitized (E2)")
    assert(Catalog.readTable(spark, root, "acks").get.count() === 1L)
    // a second failure accumulates: both flags, both alerts, both acks
    graft.operators.ErrorPath.failAtomically(spark, root,
      errors = Seq(("s1", "http://h/y.csv", "http 500"))
        .toDF("ID", "URL", "REASON"),
      acks = Seq("t-s1").toDF("task"))
    assert(Catalog.readTable(spark, root, "catalog").get
      .orderBy("id").collect().map(_.getInt(1)).toSeq === Seq(2, 2))
    assert(Catalog.readTable(spark, root, "alerts").get.count() === 2L)
    assert(Catalog.readTable(spark, root, "acks").get.count() === 2L)
  }

  test("a crash between table commits and the root publish is invisible") {
    val root = mkRoot()
    Catalog.transact(spark, root) { txn =>
      txn.put("a", Seq(1).toDF("v")); txn.put("b", Seq(10).toDF("v"))
    }
    // simulate the crash window: the per-table generation commits land
    // (durable!) but the process dies before the root pointer publish —
    // exactly what a half-run transact leaves behind
    Generations.writeAndCommit(spark, Seq(2).toDF("v"),
      Catalog.tablePath(root, "a"))
    Generations.writeAndCommit(spark, Seq(20).toDF("v"),
      Catalog.tablePath(root, "b"))
    assert(tableSet(root, "a") === Set(1), "in-flight version catalog-invisible")
    assert(tableSet(root, "b") === Set(10))
    // ...even though a DIRECT (non-catalog) read sees the newer version —
    // the catalog is the transactional boundary
    assert(Generations.read(spark, Catalog.tablePath(root, "a")).get
      .as[Int].collect().toSet === Set(2))
    // the next transaction proceeds normally over the debris
    Catalog.transact(spark, root)(t => t.put("a", Seq(3).toDF("v")))
    assert(tableSet(root, "a") === Set(3))
    assert(tableSet(root, "b") === Set(10), "untouched table stays at its root")
  }

  test("concurrent DISJOINT transactions both commit (root rebase)") {
    val root = mkRoot()
    Catalog.transact(spark, root) { txn =>
      txn.put("a", Seq(1).toDF("v")); txn.put("b", Seq(10).toDF("v"))
    }
    // interleave: txn X (writes a) reads its base, then txn Y (writes b)
    // commits first. X's publish collides and must rebase, not abort.
    var yDone = false
    Catalog.transact(spark, root) { txn =>
      txn.put("a", Seq(2).toDF("v"))
      if (!yDone) { // runs inside X's body, i.e. after X read its base
        Catalog.transact(spark, root)(t => t.put("b", Seq(20).toDF("v")))
        yDone = true
      }
    }
    assert(tableSet(root, "a") === Set(2) && tableSet(root, "b") === Set(20))
    assert(Catalog.latestRoot(spark, root).get.version === 3L)
  }

  test("concurrent OVERLAPPING transactions re-run the loser's body") {
    val root = mkRoot()
    Catalog.transact(spark, root)(t => t.put("n", Seq(0).toDF("v")))
    var bodies = 0
    var injected = false
    Catalog.transact(spark, root) { txn =>
      bodies += 1
      val cur = txn.read("n").get.as[Int].collect().head
      if (!injected) { // a racing increment of the SAME table
        Catalog.transact(spark, root) { t =>
          t.put("n", Seq(t.read("n").get.as[Int].collect().head + 1).toDF("v"))
        }
        injected = true
      }
      txn.put("n", Seq(cur + 1).toDF("v"))
    }
    assert(bodies === 2, "overlap must re-run the body on the new base")
    assert(tableSet(root, "n") === Set(2),
      "no lost update: both increments applied")
  }

  test("REAL THREADS: racing transactions lose no update on a contended table") {
    val root = mkRoot()
    Catalog.transact(spark, root)(t => t.put("n", Seq(0).toDF("v")))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        try (1 to 2).foreach { _ =>
          Catalog.transact(spark, root, maxRetries = 64) { txn =>
            val cur = txn.read("n").get.as[Int].collect().head
            txn.put("n", Seq(cur + 1).toDF("v"))
            txn.put(s"t$i", Seq(i).toDF("v")) // plus a per-thread member
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"cat-race-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"racing txns must retry, not fail: ${errors.peek()}")
    assert(tableSet(root, "n") === Set(6),
      "every increment must survive the contention (no lost update)")
    (1 to 3).foreach(i => assert(tableSet(root, s"t$i") === Set(i)))
  }

  test("READ-write conflicts re-run the body too (no write skew)") {
    val root = mkRoot()
    Catalog.transact(spark, root) { t =>
      t.put("a", Seq(1).toDF("v")); t.put("b", Seq(0).toDF("v"))
    }
    // txn X reads a and writes b := a*10; a racing txn updates a AFTER X
    // read it. X's tables are disjoint from the winner's WRITE set, so a
    // write-only conflict check would let X rebase and publish b derived
    // from the stale a (snapshot-isolation write skew). With reads in
    // the footprint, X's body must re-run against the new a.
    var bodies = 0
    var injected = false
    Catalog.transact(spark, root) { txn =>
      bodies += 1
      val a = txn.read("a").get.as[Int].collect().head
      if (!injected) {
        Catalog.transact(spark, root)(t => t.put("a", Seq(2).toDF("v")))
        injected = true
      }
      txn.put("b", Seq(a * 10).toDF("v"))
    }
    assert(bodies === 2, "read-write overlap must re-run the body")
    assert(tableSet(root, "b") === Set(20),
      "b must derive from the CURRENT a, not the stale read")
  }

  test("a root-referenced table whose generation was pruned fails loudly") {
    val root = mkRoot()
    Catalog.transact(spark, root)(t => t.put("a", Seq(1, 2, 3).toDF("v")))
    // mis-dialed maintenance OUTSIDE Catalog.gc: direct commits advance
    // the table, then a per-table gc without the root's protect set
    // prunes the version root v1 references
    val ap = Catalog.tablePath(root, "a")
    Generations.writeAndCommit(spark, Seq(4).toDF("v"), ap)
    Generations.writeAndCommit(spark, Seq(5).toDF("v"), ap)
    Generations.gc(spark, ap, keep = 1, orphanGraceMs = 0L)
    // a merge through the txn must NOT treat the populated table as
    // empty and commit only the changeset (silent loss of rows 1-3) —
    // it throws, forcing an operator-visible re-sync
    val e = intercept[IllegalStateException] {
      Catalog.transact(spark, root) { txn =>
        txn.merge("a", Seq((9, false)).toDF("v", "_deleted"), Seq("v"))
      }
    }
    assert(e.getMessage.contains("pruned outside Catalog.gc"))
    // absent-from-root stays a plain None — only referenced-but-missing throws
    Catalog.transact(spark, root) { txn =>
      assert(txn.read("nonexistent").isEmpty)
      txn.put("c", Seq(7).toDF("v"))
    }
    assert(tableSet(root, "c") === Set(7))
  }

  test("roots listing tolerates a concurrent gc pruning between list and open") {
    val root = mkRoot()
    (1 to 4).foreach(i =>
      Catalog.transact(spark, root)(t => t.put("a", Seq(i).toDF("v"))))
    // simulate the race: delete an older root AFTER it would be listed —
    // here simply delete it out from under roots(); the listing-based
    // readers must skip it, not throw FileNotFoundException
    val rd = new org.apache.hadoop.fs.Path(root, "_root")
    val fs = rd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(rd, f"v${2L}%016d"), false)
    assert(Catalog.roots(spark, root).map(_.version) === Seq(1L, 3L, 4L))
    assert(Catalog.latestRoot(spark, root).get.version === 4L)
  }

  test("catalog maintain: folds under root protection, re-points, yields to debris") {
    val root = mkRoot()
    // six transactions = six snapshot commits on table a; the last one
    // lands deliberately fragmented (20 files) so maintain must compact
    (1 to 6).foreach(i =>
      Catalog.transact(spark, root)(t =>
        t.put("a", Seq.fill(200)(i).toDF("v").repartition(20))))
    val headBefore = Catalog.latestRoot(spark, root).get
    val reports = Catalog.maintain(spark, root, keepRoots = 2,
      policy = Generations.MaintenancePolicy(keep = 1, orphanGraceMs = 0L))
    assert(reports.keySet === Set("a"))
    // retention: only the kept roots remain, and both still resolve a
    val roots = Catalog.roots(spark, root)
    assert(roots.size === 2)
    roots.foreach(rc =>
      assert(Catalog.readTableAt(spark, root, "a", rc).isDefined,
        s"kept root v${rc.version} must stay resolvable after maintain"))
    assert(tableSet(root, "a") === Set(6), "content unchanged")
    // the fragmented put compacts; maintain RE-POINTS the root at the
    // compacted (content-identical) version so catalog readers get the
    // new layout immediately
    val headAfter = Catalog.latestRoot(spark, root).get
    assert(headAfter.version > headBefore.version &&
      headAfter.tag === "maintain",
      s"expected a maintain re-point above v${headBefore.version}, " +
        s"got v${headAfter.version}[${headAfter.tag}]")
    // catalog-invisible debris above the root (crashed txn): maintain
    // must NOT re-point onto it
    Generations.writeAndCommit(spark, Seq(99).toDF("v"),
      Catalog.tablePath(root, "a"))
    Catalog.maintain(spark, root, keepRoots = 2,
      policy = Generations.MaintenancePolicy(keep = 1, orphanGraceMs = 0L))
    assert(tableSet(root, "a") === Set(6),
      "in-flight version must stay catalog-invisible through maintain")
  }

  test("REAL THREADS: maintain never re-points onto a racing foreign commit") {
    // the r13-ADVICE TOCTOU: the old re-point guard sampled the head
    // BEFORE maintenance ran, so a catalog-invisible transaction landing
    // in the window was folded into the maintenance commit and then
    // re-pointed into visibility. The guard now requires every version
    // in (rootV, latestAfter] to be maintenance-produced (versions are
    // dense, so a foreign commit occupies one and vetoes). Race real
    // foreign commits against maintain and require the catalog content
    // NEVER shows them — whatever the interleaving.
    (1 to 8).foreach { round =>
      val root = mkRoot()
      (1 to 4).foreach(i =>
        Catalog.transact(spark, root)(t =>
          t.put("a", Seq.fill(50)(round).toDF("v").repartition(10))))
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val foreign = new Thread(() => {
        gate.await()
        // a concurrent writer committing directly (an in-flight txn's
        // table commit whose root publish hasn't happened)
        Generations.writeAndCommit(spark, Seq(-round).toDF("v"),
          Catalog.tablePath(root, "a"))
      }, s"foreign-$round")
      foreign.start()
      gate.await()
      try Catalog.maintain(spark, root, keepRoots = 2,
        policy = Generations.MaintenancePolicy(keep = 3, orphanGraceMs = 0L))
      catch { case _: Generations.CommitConflictException => () }
      foreign.join()
      assert(tableSet(root, "a") === Set(round),
        s"round $round: maintain exposed an in-flight foreign commit")
    }
  }

  test("gc keeps every kept root resolvable while pruning older history") {
    val root = mkRoot()
    val rcs = (1 to 5).map { i =>
      Catalog.transact(spark, root) { txn =>
        txn.put("a", Seq(i).toDF("v"))
        if (i % 2 == 1) txn.put("b", Seq(i * 10).toDF("v"))
      }
    }
    Catalog.gc(spark, root, keepRoots = 2, keepPerTable = 1,
      orphanGraceMs = 0L)
    assert(Catalog.roots(spark, root).map(_.version) === Seq(4L, 5L))
    // both kept roots resolve BOTH tables, even though root 4 references
    // b's root-3 write — older than keepPerTable=1 would retain alone
    rcs.takeRight(2).foreach(rc =>
      assert(Catalog.readTableAt(spark, root, "a", rc).isDefined))
    assert(Catalog.readTableAt(spark, root, "b", rcs(3)).get
      .as[Int].collect().toSet === Set(30))
    assert(Catalog.readTableAt(spark, root, "b", rcs(4)).get
      .as[Int].collect().toSet === Set(50))
    // pruned: root 1-3 are gone, and a's first generations are collected
    assert(Generations.commits(spark, Catalog.tablePath(root, "a"))
      .map(_.version) === Seq(4L, 5L))
  }
}
