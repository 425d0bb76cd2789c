package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The bucketed layout composed INTO the Generations protocol: one
  * table is both MUTABLE (snapshot-isolated commits, replay witnesses,
  * maintenance folds, stats skipping) and EXCHANGE-FREE JOINABLE (every
  * commit writes bucket-clustered; a registered span plans co-located
  * joins) — the r16 gap where `Bucketed` lived outside the protocol and
  * a user had to choose between the two halves of the 100 TB read
  * problem.
  */
class BucketedGenerationsSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(name: String): String =
    suiteDir("bktgen").resolve(name).toString

  private def uniq(p: String): String =
    p + java.util.UUID.randomUUID.toString.take(8)

  private def fact() = spark.range(2000)
    .select(col("id").as("k"), (col("id") % 97).as("v"))

  test("co-located join stays exchange-free ACROSS an append commit") {
    val ft = mkDir("fact"); val dt = mkDir("dim")
    Generations.setBucketing(spark, ft, "k", 8)
    Generations.setBucketing(spark, dt, "k", 8)
    Generations.writeAndCommit(spark, fact().filter(col("k") % 10 =!= 0), ft)
    Generations.appendCommitted(spark,
      fact().filter(col("k") % 10 === 0), ft, "batch=1")
    Generations.writeAndCommit(spark, spark.range(2000)
      .select(col("id").as("k"), concat(lit("p"), col("id") % 5).as("p")), dt)
    val f = Bucketed.readGenerations(spark, ft, uniq("bg_f"))
    val d = Bucketed.readGenerations(spark, dt, uniq("bg_d"))
    val j = f.join(d.hint("merge"), "k")
    assert(Bucketed.exchangeCount(j) === 0,
      "the join across a 2-generation span must plan zero exchanges")
    // values: identical to the plain log read's join
    val expect = Generations.readLog(spark, ft).get
      .join(Generations.readLog(spark, dt).get, "k")
      .agg(count(lit(1)), sum(col("v"))).head()
    assert(j.agg(count(lit(1)), sum(col("v"))).head() === expect)
    assert(expect.getLong(0) === 2000L)
  }

  test("registration IS the snapshot: a later commit never moves a registered reader") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.writeAndCommit(spark, fact(), t)
    val name = uniq("bg_snap")
    val before = Bucketed.readGenerations(spark, t, name)
    Generations.appendCommitted(spark,
      spark.range(2000, 2500).select(col("id").as("k"),
        (col("id") % 97).as("v")), t, "batch=9")
    assert(before.count() === 2000L,
      "registered partitions pin the span at registration time")
    // re-registration picks up the append
    assert(Bucketed.readGenerations(spark, t, uniq("bg_snap2"))
      .count() === 2500L)
  }

  test("maintenance folds preserve the layout: squash, re-register, still 0 exchanges") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 8)
    Generations.writeAndCommit(spark, fact().filter(col("k") < 1000), t)
    Generations.appendCommitted(spark,
      fact().filter(col("k") >= 1000), t, "batch=1")
    Generations.squash(spark, t)
    assert(Generations.logCommits(spark, t).size === 1,
      "squash folded the span")
    val f = Bucketed.readGenerations(spark, t, uniq("bg_sq"))
    val j = f.join(f.hint("merge"), "k")
    assert(Bucketed.exchangeCount(j) === 0,
      "the squashed generation is still bucket-clustered")
    assert(f.count() === 2000L)
    // exactly n files in the folded generation: one per bucket
    val gen = Generations.logCommits(spark, t).head
    val genDir = new java.io.File(Generations.genPath(t, gen))
    assert(genDir.list().count(_.startsWith("part-")) === 8)
  }

  test("stats skipping composes with the bucketed layout on one table") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.setStatsCols(spark, t, Seq("v"))
    // v correlates with k%97 — use a v-clustered frame so stats bite:
    // here just check the machinery end-to-end (stats exist, pruned
    // read + real filter ≡ full + real filter)
    Generations.writeAndCommit(spark, fact(), t)
    val gen = Generations.logCommits(spark, t).head.gen
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FileStats.read(fsys, new org.apache.hadoop.fs.Path(t), gen)
      .nonEmpty, "bucketed generations still carry commit-time stats")
    val pruned = Generations.readPruned(spark, t,
      Seq(FileStats.Between("v", 0L, 9L))).get
      .filter(col("v").between(0, 9)).count()
    val full = Generations.readLog(spark, t).get
      .filter(col("v").between(0, 9)).count()
    assert(pruned === full)
  }

  test("time travel registers a historical span, still exchange-free") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    val c1 = Generations.writeAndCommit(spark,
      fact().filter(col("k") < 1000), t)
    Generations.appendCommitted(spark,
      fact().filter(col("k") >= 1000), t, "batch=1")
    // as-of v1: only the first commit's rows, and the historical span
    // joins exchange-free like the live one
    val h = Bucketed.readGenerationsAt(spark, t, uniq("bg_tt"), c1.version)
    assert(h.count() === 1000L)
    val j = h.join(h.hint("merge"), "k")
    assert(Bucketed.exchangeCount(j) === 0)
    // plain snapshot-read paths are untouched by the layout
    assert(Generations.readAt(spark, t, c1.version).get.count() === 1000L)
    // unknown version fails loudly
    intercept[IllegalArgumentException] {
      Bucketed.readGenerationsAt(spark, t, uniq("bg_tt2"), 99L)
    }
  }

  test("mergeAndCommit (upserts + deletes) preserves the bucketed layout") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.writeAndCommit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), t)
    Generations.mergeAndCommit(spark, t,
      Seq((2L, "B", false), (3L, "c", true), (4L, "d", false))
        .toDF("k", "v", "_deleted"), Seq("k"))
    val f = Bucketed.readGenerations(spark, t, uniq("bg_m"))
    assert(f.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "B"), (4L, "d")))
    val j = f.join(f.hint("merge"), "k")
    assert(Bucketed.exchangeCount(j) === 0,
      "the merged generation is still bucket-clustered")
  }

  test("ALL lakehouse layers compose on one table: buckets + stats + blooms through a squash") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.setBloomCols(spark, t, Seq("k"), fpp = 1e-6)
    // two commits of EVEN keys (every odd probe straddles ranges)
    val evens = spark.range(400)
      .select((col("id") * 2).as("k"), (col("id") % 7).as("v"))
    Generations.writeAndCommit(spark, evens.filter(col("k") < 400), t)
    Generations.appendCommitted(spark, evens.filter(col("k") >= 400), t,
      "batch=1")
    def checkAll(label: String): Unit = {
      // bucketed: registered span joins exchange-free
      val f = Bucketed.readGenerations(spark, t, uniq("bg_all"))
      assert(Bucketed.exchangeCount(f.join(f.hint("merge"), "k")) === 0,
        s"$label: co-located join")
      assert(f.count() === 400L, s"$label: content")
      // stats: on a HASH layout per-file ranges are wide so the range
      // tier prunes little-to-nothing (range skipping needs range
      // clustering) — the committed law is conservativeness, not a
      // file count: pruned scan + real filter ≡ full scan + real filter
      val rangePreds = Seq(FileStats.Between("k", 0L, 9L))
      assert(Generations.readPruned(spark, t, rangePreds).get
        .filter(col("k").between(0, 9)).count() ===
        Generations.readLog(spark, t).get
          .filter(col("k").between(0, 9)).count(), s"$label: range law")
      // blooms STILL prune what ranges cannot: absent odd keys
      val (keptB, _) = Generations.prunePlanByKeys(spark, t, "k",
        Seq(301L, 403L, 505L).toDF("k")).get
      assert(keptB.isEmpty, s"$label: blooms prune absent keys even on " +
        "a hash-clustered layout")
      // and a PRESENT key keeps only its bucket's files
      val (keptP, totalP) = Generations.prunePlanByKeys(spark, t, "k",
        Seq(42L).toDF("k")).get
      assert(keptP.size < totalP, s"$label: present-key bloom probe")
      assert(Generations.readPrunedByKeys(spark, t, "k",
        Seq(42L).toDF("k")).get.filter(col("k") === 42L).count() === 1L,
        s"$label: pruned read finds the key")
    }
    checkAll("pre-squash")
    // the maintenance fold must preserve ALL THREE layers
    Generations.squash(spark, t)
    assert(Generations.logCommits(spark, t).size === 1)
    checkAll("post-squash")
  }

  test("layout declaration is GUARDED: free before data, frozen after") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    // before any commit: changing the declaration is harmless
    Generations.setBucketing(spark, t, "k", 8)
    assert(Generations.getBucketing(spark, t) === Some(("k", 8)))
    Generations.writeAndCommit(spark, fact(), t)
    // idempotent re-declare of the SAME layout stays a no-op
    Generations.setBucketing(spark, t, "k", 8)
    // a DIFFERENT layout after commits refuses: registered scans would
    // trust bucket ids the committed files don't satisfy
    val e = intercept[IllegalStateException] {
      Generations.setBucketing(spark, t, "k", 16)
    }
    assert(e.getMessage.contains("rewrite"))
    intercept[IllegalStateException] {
      Generations.setBucketing(spark, t, "v", 8)
    }
    assert(Generations.getBucketing(spark, t) === Some(("k", 8)))
  }

  test("declaring a layout over existing UNBUCKETED commits refuses") {
    val t = mkDir("t")
    Generations.writeAndCommit(spark, fact(), t)
    val e = intercept[IllegalStateException] {
      Generations.setBucketing(spark, t, "k", 4)
    }
    assert(e.getMessage.contains("unbucketed"))
    assert(Generations.getBucketing(spark, t).isEmpty)
  }

  test("a corrupt _bucketing pointer fails loudly, naming the pointer") {
    val t = mkDir("t")
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Pointers.replace(fs, p, "_bucketing", "k notanumber")
    val e = intercept[IllegalStateException] {
      Generations.getBucketing(spark, t)
    }
    assert(e.getMessage.contains("_bucketing"))
    Pointers.replace(fs, p, "_bucketing", "onetoken")
    intercept[IllegalStateException] { Generations.getBucketing(spark, t) }
  }

  test("a corrupt _bloomcols pointer degrades to undeclared (blooms are optional)") {
    val t = mkDir("t")
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Pointers.replace(fs, p, "_bloomcols", "notadouble\nk")
    assert(Generations.getBloomCols(spark, t) === ((Nil, 0.0)))
    // commits proceed without blooms (conservative: no bloom ⇒ keep)
    Generations.writeAndCommit(spark, fact(), t)
    assert(Generations.readLog(spark, t).get.count() === 2000L)
  }

  test("registration never clobbers a foreign table; names are identifiers") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.writeAndCommit(spark, fact(), t)
    intercept[IllegalArgumentException] {
      Bucketed.registerGenerations(spark, t, "bad`name")
    }
    // a pre-existing catalog table rooted elsewhere is someone else's;
    // dropping a MANAGED table would delete its data
    val other = uniq("bg_foreign")
    spark.range(3).write.saveAsTable(other)
    val e = intercept[IllegalArgumentException] {
      Bucketed.registerGenerations(spark, t, other)
    }
    assert(e.getMessage.contains("pick another name"))
    assert(spark.table(other).count() === 3L, "the foreign table survives")
    // re-registering OUR OWN projection (same location) still replaces
    val name = uniq("bg_own")
    Bucketed.registerGenerations(spark, t, name)
    Bucketed.registerGenerations(spark, t, name)
    assert(spark.table(name).drop("_gen").count() === 2000L)
  }

  test("refreshRegistrations re-projects registrations after maintenance gc") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.writeAndCommit(spark, fact().filter(col("k") < 1000), t)
    Generations.appendCommitted(spark,
      fact().filter(col("k") >= 1000), t, "batch=1")
    val name = uniq("bg_refresh")
    assert(Bucketed.readGenerations(spark, t, name).count() === 2000L)
    // fold + gc: the registered partitions now point at swept gen dirs
    Generations.squash(spark, t)
    Generations.gc(spark, t, keep = 1, orphanGraceMs = 0L)
    intercept[Exception] { spark.table(name).drop("_gen").count() }
    // one refresh call re-projects every registration of this table
    val refreshed = Bucketed.refreshRegistrations(spark, t)
    assert(refreshed.contains(name))
    val f = spark.table(name).drop("_gen")
    assert(f.count() === 2000L)
    assert(Bucketed.exchangeCount(f.join(f.hint("merge"), "k")) === 0,
      "the refreshed registration is still exchange-free")
  }

  test("the bucket key is a contract: a commit without it fails loudly") {
    val t = mkDir("t")
    Generations.setBucketing(spark, t, "k", 4)
    Generations.writeAndCommit(spark, fact(), t)
    val e = intercept[IllegalArgumentException] {
      Generations.appendCommitted(spark,
        Seq((1L, "x")).toDF("other", "s"), t, "batch=1")
    }
    assert(e.getMessage.contains("bucket-clustered"))
  }
}
