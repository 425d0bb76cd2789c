package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed metadata planning (r17 VERDICT #1 — the Delta-checkpoint
  * analog): [[Generations.checkpointMeta]] folds the `_stats` sidecars
  * plus the file inventory into one committed parquet table, and
  * [[Generations.prunePlan]] evaluates skipping predicates as a
  * DISTRIBUTED filter over it. The contract under test: driver work is
  * O(commits + kept files), never O(total files) — zero per-generation
  * listStatus and zero driver sidecar parses for checkpointed
  * generations — while the plan stays EXACTLY the driver path's plan.
  */
class MetaPlanSpec extends SparkSpec {

  private def mkDir(name: String): String =
    suiteDir("meta").resolve(name).toString

  /** A ts/value-clustered table with `nCommits` commits × `filesPer`
    * range-clustered files each, stats on `k`.
    */
  private def build(nCommits: Int, filesPer: Int): String = {
    val t = mkDir("t")
    Generations.setStatsCols(spark, t, Seq("k"))
    (0 until nCommits).foreach { i =>
      val lo = i * 1000
      val df = spark.range(lo, lo + 1000)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(filesPer, col("k"))
        .sortWithinPartitions("k")
      if (i == 0) Generations.writeAndCommit(spark, df, t)
      else Generations.appendCommitted(spark, df, t, s"batch=$i")
    }
    t
  }

  private def counters(): (Long, Long) =
    (Generations.planListCalls.get, FileStats.readCalls.get)

  private def planBoth(t: String, preds: Seq[FileStats.Pred])
      : ((Seq[String], Int), (Seq[String], Int)) = {
    // meta-dialed plan
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val m = Generations.prunePlan(spark, t, preds).get
    // driver-path plan of the same table (dial off)
    spark.conf.set(Generations.MetaDialMinFilesKey, Long.MaxValue.toString)
    val d = Generations.prunePlan(spark, t, preds).get
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    ((m._1.map(_.toString).sorted, m._2), (d._1.map(_.toString).sorted, d._2))
  }

  test("meta-planned prune ≡ driver plan, with ZERO driver file work") {
    val t = build(nCommits = 6, filesPer = 4)
    val ck = Generations.checkpointMeta(spark, t).get
    assert(ck.nFiles === 24L)
    assert(ck.gens.size === 6)
    val preds = Seq(FileStats.Between("k", 1500L, 2500L))
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val before = counters()
    val (kept, total) = Generations.prunePlan(spark, t, preds).get
    val after = counters()
    assert(after._1 - before._1 === 0L,
      "fully checkpointed plan must make no per-gen listStatus")
    assert(after._2 - before._2 === 0L,
      "fully checkpointed plan must parse no sidecar on the driver")
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    assert(total === 24)
    assert(kept.nonEmpty && kept.size < total,
      s"range-clustered stats must prune (kept ${kept.size}/$total)")
    // the distributed plan IS the driver plan
    val (mp, dp) = planBoth(t, preds)
    assert(mp === dp)
    // and the pruned read is still the conservative law
    val got = Generations.readPruned(spark, t, preds).get
      .filter(col("k").between(1500, 2500)).count()
    val full = Generations.readLog(spark, t).get
      .filter(col("k").between(1500, 2500)).count()
    assert(got === full)
  }

  test("the uncheckpointed tail plans driver-side; equivalence holds") {
    val t = build(nCommits = 3, filesPer = 4)
    Generations.checkpointMeta(spark, t)
    // one commit AFTER the checkpoint — covered gens plan distributed,
    // the tail pays exactly one listStatus
    Generations.appendCommitted(spark, spark.range(3000, 4000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      t, "batch=tail")
    val preds = Seq(FileStats.Between("k", 3100L, 3300L))
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val before = counters()
    val (kept, total) = Generations.prunePlan(spark, t, preds).get
    val after = counters()
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    assert(after._1 - before._1 === 1L, "only the tail gen lists")
    assert(total === 16)
    val (mp, dp) = planBoth(t, preds)
    assert(mp === dp)
    assert(kept.map(_.toString).sorted === dp._1)
  }

  test("small tables stay on the driver fast path (dial)") {
    val t = build(nCommits = 2, filesPer = 2)
    Generations.checkpointMeta(spark, t)
    // default threshold (512) far above 4 files → driver path
    val before = counters()
    Generations.prunePlan(spark, t, Seq(FileStats.Between("k", 0L, 10L)))
    val after = counters()
    assert(after._1 - before._1 === 2L, "below the dial: driver loop")
  }

  test("a generation without a sidecar survives via inventory sentinels") {
    val t = mkDir("t")
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.writeAndCommit(spark, spark.range(100)
      .select(col("id").as("k")), t)
    // second commit whose frame LACKS the declared stats column — no
    // sidecar lines for it; the checkpoint inventory must still carry it
    Generations.appendCommitted(spark,
      spark.range(5).select(col("id").as("other")), t, "batch=1")
    Generations.checkpointMeta(spark, t)
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(FileStats.Between("k", -100L, -1L))).get
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    // every k-file prunes (k ≥ 0), but the no-stats gen's files KEEP
    assert(kept.nonEmpty, "no-stats files are never pruned")
    assert(kept.size < total)
    assert(Generations.readPruned(spark, t,
      Seq(FileStats.Between("k", -100L, -1L))).get
      .filter(col("k") < 0).count() === 0L)
  }

  test("a corrupt _metaptr degrades to the driver path") {
    val t = build(nCommits = 2, filesPer = 2)
    Generations.checkpointMeta(spark, t)
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Pointers.replace(fs, p, "_metaptr", "not a checkpoint")
    assert(Generations.readMetaCheckpoint(spark, t).isEmpty)
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val before = counters()
    val (kept, total) = Generations.prunePlan(spark, t, Nil).get
    val after = counters()
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    assert(after._1 - before._1 === 2L, "fell back to the driver loop")
    assert((kept.size, total) === ((4, 4)))
  }

  test("checkpointed blooms refine with ZERO driver sidecar parses") {
    val t = mkDir("b")
    // bloom-only table (no stats cols): sparse stride-1000 keys, so the
    // range tier never prunes and ONLY the bloom tier can
    Generations.setBloomCols(spark, t, Seq("k"), fpp = 1e-5)
    (0 until 3).foreach { i =>
      val df = spark.range(i * 1000L, i * 1000L + 1000L)
        .select((col("id") * 1000L).as("k"), (col("id") % 7).as("v"))
        .repartition(4)
      if (i == 0) Generations.writeAndCommit(spark, df, t)
      else Generations.appendCommitted(spark, df, t, s"batch=$i")
    }
    Generations.checkpointMeta(spark, t).get
    import spark.implicits._
    val missKeys = Seq(13L, 7919L * 3 + 13L, 104729L + 13L).toDF("k")
    val hitKeys = Seq(1000L, 2000L, 999000L).toDF("k")
    def probe(dim: org.apache.spark.sql.DataFrame,
        dial: String): (Seq[String], Int, Long) = {
      spark.conf.set(Generations.MetaDialMinFilesKey, dial)
      val r0 = BloomStats.readCache.misses
      val (kept, total) =
        Generations.prunePlanByKeys(spark, t, "k", dim).get
      spark.conf.unset(Generations.MetaDialMinFilesKey)
      (kept.map(_.toString).sorted, total,
        BloomStats.readCache.misses - r0)
    }
    // off-stride keys: bloom prunes everything, zero driver parses on
    // the meta path, and the plan equals the driver path's exactly
    val (keptM, totM, parsesM) = probe(missKeys, "0")
    val (keptD, totD, parsesD) = probe(missKeys, Long.MaxValue.toString)
    assert(parsesM === 0L,
      "checkpoint-covered bloom refine must not driver-parse sidecars")
    assert(parsesD > 0L, "control: the driver path parses sidecars")
    assert((keptM, totM) === ((keptD, totD)))
    assert(keptM.isEmpty, s"3 off-stride keys at fpp 1e-5 must prune all")
    // on-stride keys: both paths keep the (identical) hit files, and
    // the pruned read still returns every matching row
    val (keptM2, _, parsesM2) = probe(hitKeys, "0")
    val (keptD2, _, _) = probe(hitKeys, Long.MaxValue.toString)
    assert(parsesM2 === 0L)
    assert(keptM2 === keptD2)
    assert(keptM2.nonEmpty)
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val got = Generations.readPrunedByKeys(spark, t, "k", hitKeys).get
      .join(hitKeys, Seq("k")).count()
    spark.conf.unset(Generations.MetaDialMinFilesKey)
    assert(got === 3L)
    // a commit AFTER the checkpoint: its gen driver-parses (the bounded
    // tail), covered gens stay distributed
    Generations.appendCommitted(spark,
      spark.range(5000, 5100).select((col("id") * 1000L).as("k"),
        (col("id") % 7).as("v")).repartition(2), t, "batch=tail")
    val (keptM3, _, parsesM3) = probe(missKeys, "0")
    val (keptD3, _, _) = probe(missKeys, Long.MaxValue.toString)
    assert(parsesM3 === 1L, "exactly the tail gen's sidecar parses")
    assert(keptM3 === keptD3)
  }

  test("bloom rows never pollute the stats planner") {
    // a table with BOTH tiers on the same column: metaPrune must plan
    // min/max from the stats rows only (a __bloom__ row misread as
    // ColStats would corrupt the verdict), and the two plans agree
    val t = mkDir("sb")
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.setBloomCols(spark, t, Seq("k"))
    (0 until 3).foreach { i =>
      val lo = i * 1000
      val df = spark.range(lo, lo + 1000)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      if (i == 0) Generations.writeAndCommit(spark, df, t)
      else Generations.appendCommitted(spark, df, t, s"batch=$i")
    }
    Generations.checkpointMeta(spark, t)
    val (mp, dp) = planBoth(t, Seq(FileStats.Between("k", 500L, 700L)))
    assert(mp === dp)
    assert(mp._1.nonEmpty && mp._1.size < mp._2)
  }

  test("a 5k-gen live span filters without an O(gens) literal list") {
    import spark.implicits._
    val gens = (1 to 6000).map(i => f"g$i%08d-aaaaaaaa")
    // live = a gappy 5k subset INSIDE the range (folded/gc'd gens must
    // not leak through a pure range predicate)
    val live = gens.zipWithIndex.collect {
      case (g, i) if i % 6 != 5 => g }
    val rows = gens.toDF("gen").withColumn("file", lit("f"))
    val filtered = Generations.filterLiveGens(rows, live)
    assert(filtered.select("gen").as[String].collect().toSet ===
      live.toSet, "filter must be EXACT, not just the [min,max] range")
    // plan shape: a broadcast LEFT-SEMI join, not a 5000-literal In
    val plan = filtered.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi-join plan:\n$plan")
    assert(!plan.contains(live(4000)),
      "live gens must not appear as plan literals")
    // small spans keep the pushed-down isin fast path
    val small = Generations.filterLiveGens(rows, live.take(10))
    assert(small.count() === 10L)
    assert(!small.queryExecution.optimizedPlan.toString.contains("LeftSemi"))
  }

  test("maintain refreshes the checkpoint; gc sweeps superseded ones") {
    val t = build(nCommits = 4, filesPer = 2)
    val first = Generations.checkpointMeta(spark, t).get
    // maintain folds the span and must leave a FRESH checkpoint over
    // the post-fold generations
    Generations.maintain(spark, t,
      Generations.MaintenancePolicy(squashAfterCommits = 1,
        orphanGraceMs = 0L))
    val ck = Generations.readMetaCheckpoint(spark, t).get
    assert(ck.id !== first.id, "maintain refreshed the checkpoint")
    val live = Generations.logCommits(spark, t).map(_.gen).toSet
    assert(ck.gens === live)
    // superseded checkpoint dir swept by the NEXT gc (the refresh runs
    // after maintain's own gc, so the old id orphans one cycle later)
    Generations.gc(spark, t, keep = 2, orphanGraceMs = 0L)
    val md = new org.apache.hadoop.fs.Path(t, "_meta")
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(md).map(_.getPath.getName).toSet
    assert(!ids.contains(first.id), "old checkpoint dir removed by gc")
    assert(ids.contains(ck.id))
    // and the refreshed checkpoint still plans exactly
    val (mp, dp) = planBoth(t, Seq(FileStats.Between("k", 100L, 900L)))
    assert(mp === dp)
  }
}
