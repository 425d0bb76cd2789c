package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Incremental, Merge}
import graft.sinks.Generations

/** [[ChangeFeed]]'s contracts: generic polling is deliver-first
  * at-least-once with a persisted cursor; aggregate-view maintenance is
  * exactly-once by construction (applied version rides in the view's
  * own commit), and the maintained view equals a fresh recompute after
  * ANY interleaving of source commits, replays, and GC.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(name: String): String =
    suiteDir("cf").resolve(name).toString

  private def applied(mv: String,
      mark: ChangeFeed.Watermark = ChangeFeed.Watermark.single): Seq[Long] =
    ChangeFeed.appliedVersions(spark, mv, mark)

  private def src(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("k", "grp", "v")
      .withColumn("v", col("v").cast("decimal(18,4)"))

  private val aggOf: DataFrame => DataFrame =
    df => df.groupBy("grp")
      .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))

  private def maintain(table: String, mv: String) =
    ChangeFeed.maintainAggOnce(spark, table, Seq("k"), mv, Seq("grp"),
      Map("sum_v" -> "v"), "n")(aggOf)

  private def mvState(mv: String): Map[Long, (BigDecimal, Long)] =
    Generations.read(spark, mv).get
      .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"))
      .as[(Long, BigDecimal, Long)].collect()
      .map { case (g, s, n) => g -> (s, n) }.toMap

  private def recomputed(table: String): Map[Long, (BigDecimal, Long)] =
    aggOf(Generations.read(spark, table).get)
      .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"))
      .as[(Long, BigDecimal, Long)].collect()
      .map { case (g, s, n) => g -> (s, n) }.toMap

  test("maintainAggOnce: bootstrap, increment, delete-retraction, no-op") {
    val t = mkDir("t"); val mv = mkDir("mv")
    // nothing committed yet: no-op
    assert(maintain(t, mv).isEmpty)

    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 10, 7), (3, 20, 1)), t)
    val c1 = maintain(t, mv)
    assert(c1.nonEmpty && c1.get.tag === "=cdcv=1")
    assert(mvState(mv) === recomputed(t))

    // already current: no second commit
    assert(maintain(t, mv).isEmpty)

    // a MERGE tick: update k=2 (v 7→9), delete k=3, insert k=4 in grp 20
    Generations.writeAndCommit(spark,
      src((1, 10, 5), (2, 10, 9), (4, 20, 2)), t)
    val c2 = maintain(t, mv)
    assert(c2.nonEmpty && c2.get.tag === "=cdcv=2")
    assert(mvState(mv) === recomputed(t))
    assert(mvState(mv)(10L) === ((BigDecimal(14), 2L)))
  }

  test("a group retracted to zero leaves the view") {
    val t = mkDir("t"); val mv = mkDir("mv")
    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 20, 7)), t)
    maintain(t, mv)
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    maintain(t, mv)
    assert(mvState(mv) === Map(10L -> ((BigDecimal(5), 1L))))
  }

  test("exactly-once under maintainer races: loser aborts, state stays right") {
    val t = mkDir("t"); val mv = mkDir("mv")
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    maintain(t, mv)
    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 10, 6)), t)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // run two maintainers truly concurrently; at most one may commit
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Boolean]]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        gate.await()
        try results.add(Right(maintain(t, mv).nonEmpty))
        catch { case e: Generations.CommitConflictException =>
          results.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rs = results.toArray.toSeq
    val committed = rs.count { case Right(true) => true; case _ => false }
    assert(committed <= 1, s"at most one maintainer may commit: $rs")
    // a loser may have aborted (CAS conflict) — after a redo the view is
    // current and correct regardless
    maintain(t, mv)
    assert(mvState(mv) === recomputed(t))
    assert(applied(mv) === Seq(2L))
  }

  test("GC past the applied version falls back to recompute, still exact") {
    val t = mkDir("t"); val mv = mkDir("mv")
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    maintain(t, mv)
    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 20, 7)), t)
    Generations.writeAndCommit(spark, src((2, 20, 8)), t)
    // collect v1 (the applied-from generation): feed reach is gone
    Generations.gc(spark, t, keep = 1, orphanGraceMs = 0L)
    assert(Generations.readAt(spark, t, 1L).isEmpty, "v1 must be GC'd")
    val c = maintain(t, mv)
    assert(c.nonEmpty && c.get.tag === "=cdcv=3")
    assert(mvState(mv) === recomputed(t))
  }

  test("log recompute is pinned at the tick's own listing: a commit " +
      "landing mid-tick stays out, then arrives exactly once") {
    // the r13 ADVICE race: maintainAggOnceLog's recompute fallback read
    // the LIVE log while tagging =cdcv=<head> from an earlier sample, so
    // a commit landing between the two was baked into the view but not
    // the watermark — and re-applied (double-counted) next tick. The fix
    // derives head and every source read from ONE logCommits listing;
    // this pins that contract: the aggOf callback (which runs after the
    // listing, before the view commit — the widest injectable window)
    // lands a concurrent append, which must stay OUT of this tick's view
    // and arrive via the next tick exactly once.
    val t = mkDir("t"); val mv = mkDir("mv")
    Generations.appendCommitted(spark, src((1, 10, 5)), t, "batch=0")
    val injecting: DataFrame => DataFrame = df => {
      Generations.appendCommitted(spark, src((2, 20, 9)), t, "batch=1")
      aggOf(df)
    }
    val c = ChangeFeed.maintainAggOnceLog(spark, t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n")(injecting)
    assert(c.nonEmpty && c.get.tag === "=cdcv=1",
      "the watermark must record the listed head, not the mid-tick commit")
    assert(mvState(mv) === Map(10L -> (BigDecimal(5), 1L)),
      "the mid-tick commit must not leak into the view it isn't recorded in")
    // next tick: pure-delta window {v2}, applied exactly once
    assert(ChangeFeed.maintainAggOnceLog(spark, t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n")(aggOf).nonEmpty)
    assert(mvState(mv) ===
      Map(10L -> (BigDecimal(5), 1L), 20L -> (BigDecimal(9), 1L)))
    // and a third tick is a durable no-op (nothing double-counts)
    assert(ChangeFeed.maintainAggOnceLog(spark, t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n")(aggOf).isEmpty)
  }

  test("a whole tick landing inside another tick is applied once: the " +
      "loser's CAS fails and its retry is a no-op") {
    // the view's applied watermark, its CAS base and the view state the
    // incremental body reads must all be one sample: a tick that lands
    // between two samples of the view otherwise has its window applied
    // twice, under a CAS base that already includes it
    RaceFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = suiteDir("race")
    val t = s"racefs://$dir/t"; val mv = s"racefs://$dir/mv"
    def tick() = ChangeFeed.maintainAggOnceLog(spark, t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n")(aggOf)
    Generations.appendCommitted(spark, src((1, 10, 5)), t, "batch=0")
    assert(tick().nonEmpty)
    Generations.appendCommitted(spark, src((2, 20, 9)), t, "batch=1")

    val (outcome, fired) = RaceFs.at(s"$mv/_commits", 2)(tick())(
      scala.util.Try(tick()))
    assert(fired, "the racing tick never ran")
    outcome.failed.foreach {
      case _: Generations.CommitConflictException => ()
      case e => throw e
    }
    assert(tick().isEmpty, "the retry must find the view current")
    val want = Map(10L -> (BigDecimal(5), 1L), 20L -> (BigDecimal(9), 1L))
    assert(mvState(mv) === want)
    assert(aggOf(Generations.readLog(spark, t).get)
      .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"))
      .as[(Long, BigDecimal, Long)].collect()
      .map { case (g, s, n) => g -> (s, n) }.toMap === want)
  }

  test("appliedVersion survives a squash of the view table") {
    val t = mkDir("t"); val mv = mkDir("mv")
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    maintain(t, mv)
    Generations.writeAndCommit(spark, src((1, 10, 6)), t)
    maintain(t, mv)
    assert(applied(mv) === Seq(2L))
    Generations.squash(spark, mv)
    Generations.gc(spark, mv, keep = 1, orphanGraceMs = 0L)
    assert(applied(mv) === Seq(2L),
      "the cdcv watermark must ride the squash's carried witness")
    // and maintenance keeps working incrementally afterwards
    Generations.writeAndCommit(spark, src((1, 10, 6), (9, 90, 1)), t)
    assert(maintain(t, mv).nonEmpty)
    assert(mvState(mv) === recomputed(t))
  }

  test("pollOnce is deliver-first: a throwing consumer gets redelivered") {
    val t = mkDir("t")
    val cur = mkDir("cursor") + "/c"
    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 20, 7)), t)
    // consumer crash: cursor must NOT advance
    intercept[RuntimeException] {
      ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { _ =>
        throw new RuntimeException("consumer died mid-apply")
      }
    }
    assert(ChangeFeed.cursor(spark, cur) === 0L)
    // redelivery: first poll delivers the whole snapshot as inserts
    var seen = Seq.empty[(String, Long)]
    val w = ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { d =>
      seen = d.changes.get.select(col("_change_type"), col("k"))
        .as[(String, Long)].collect().toSeq.sorted
    }
    assert(w === Some((0L, 1L)))
    assert(seen === Seq(("insert", 1L), ("insert", 2L)))
    assert(ChangeFeed.cursor(spark, cur) === 1L)
    // nothing new: no delivery
    assert(ChangeFeed.pollOnce(spark, t, Seq("k"), cur)(_ => fail()).isEmpty)
    // an update tick delivers the 4-type feed
    Generations.writeAndCommit(spark, src((1, 10, 6), (2, 20, 7)), t)
    var types = Seq.empty[(String, Long)]
    ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { d =>
      types = d.changes.get.select(col("_change_type"), col("k"))
        .as[(String, Long)].collect().toSeq.sorted
    }
    assert(types === Seq(("update_postimage", 1L), ("update_preimage", 1L)))
  }

  test("min/max maintain via dirty-group re-aggregation (non-retractable monoids)") {
    val t = mkDir("t"); val mv = mkDir("mv")
    val aggMM: DataFrame => DataFrame =
      df => df.groupBy("grp").agg(sum(col("v")).as("sum_v"),
        count(lit(1)).as("n"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
    def maintainMM() = ChangeFeed.maintainAggOnce(spark, t, Seq("k"), mv,
      Seq("grp"), Map("sum_v" -> "v"), "n",
      minCols = Map("min_v" -> "v"), maxCols = Map("max_v" -> "v"))(aggMM)
    def state(): Map[Long, (BigDecimal, Long, BigDecimal, BigDecimal)] =
      Generations.read(spark, mv).get
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"),
          col("min_v").cast("decimal(18,4)"), col("max_v").cast("decimal(18,4)"))
        .as[(Long, BigDecimal, Long, BigDecimal, BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def expected(): Map[Long, (BigDecimal, Long, BigDecimal, BigDecimal)] =
      aggMM(Generations.read(spark, t).get)
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"),
          col("min_v").cast("decimal(18,4)"), col("max_v").cast("decimal(18,4)"))
        .as[(Long, BigDecimal, Long, BigDecimal, BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

    // bootstrap: k=1 holds grp 10's max (9), k=3 holds grp 20's min (1)
    Generations.writeAndCommit(spark,
      src((1, 10, 9), (2, 10, 5), (3, 20, 1), (4, 20, 4)), t)
    assert(maintainMM().nonEmpty)
    assert(state() === expected())

    // DELETE the rows holding the extremes: retraction must not leave
    // the stale max/min standing — dirty groups re-aggregate
    Generations.writeAndCommit(spark, src((2, 10, 5), (4, 20, 4)), t)
    assert(maintainMM().nonEmpty)
    assert(state() === expected())
    assert(state()(10L)._4 === BigDecimal("5.0000"), "retracted max gone")
    assert(state()(20L)._3 === BigDecimal("4.0000"), "retracted min gone")

    // insert-only tick: extremes extend monotonically (no re-agg path)
    Generations.writeAndCommit(spark,
      src((2, 10, 5), (4, 20, 4), (5, 10, 11), (6, 30, 2)), t)
    assert(maintainMM().nonEmpty)
    assert(state() === expected())
    assert(state()(10L)._4 === BigDecimal("11.0000"))
    assert(state()(30L) === ((BigDecimal("2.0000"), 1L,
      BigDecimal("2.0000"), BigDecimal("2.0000"))), "new group appears")

    // a key MOVES groups (delete+insert through its two images) and a
    // group empties entirely
    Generations.writeAndCommit(spark,
      src((2, 30, 5), (4, 20, 4), (5, 10, 11), (6, 30, 2)), t)
    assert(maintainMM().nonEmpty)
    assert(state() === expected())
    assert(!state().contains(50L) && state()(30L)._2 === 2L)
    // already current: no-op
    assert(maintainMM().isEmpty)
  }

  test("first delivery is pinned at the version the cursor records") {
    val t = mkDir("t")
    val cur = mkDir("cursor") + "/c"
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    // a commit lands WHILE the first delivery is being consumed — it must
    // not leak into the from=0 insert set (that set is pinned at the head
    // the cursor will record), and the next poll must deliver exactly it
    var firstKeys = Set.empty[Long]
    val w = ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { d =>
      Generations.writeAndCommit(spark, src((1, 10, 5), (2, 20, 9)), t)
      firstKeys = d.changes.get.select(col("k")).as[Long].collect().toSet
    }
    assert(w === Some((0L, 1L)))
    assert(firstKeys === Set(1L),
      "first delivery must be the snapshot AT the recorded head, not fresher")
    var second = Seq.empty[(String, Long)]
    ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { d =>
      second = d.changes.get.select(col("_change_type"), col("k"))
        .as[(String, Long)].collect().toSeq.sorted
    }
    assert(second === Seq(("insert", 2L)),
      "the concurrent commit arrives exactly once, as the next window")
  }

  test("parquetLogMaintained: streaming ingest + maintained view converge through replay, crash, squash") {
    val t = mkDir("log"); val mv = mkDir("logmv")
    val aggMM: DataFrame => DataFrame =
      df => df.groupBy("grp").agg(sum(col("v")).as("sum_v"),
        count(lit(1)).as("n"), max(col("v")).as("max_v"))
    val sink = TxnSink.parquetLogMaintained(t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n", maxCols = Map("max_v" -> "v"))(aggMM)
    def state(df: DataFrame): Map[Long, (BigDecimal, Long, BigDecimal)] =
      df.select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"),
        col("max_v").cast("decimal(18,4)"))
        .as[(Long, BigDecimal, Long, BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def check(where: String): Unit =
      assert(state(Generations.read(spark, mv).get) ===
        state(aggMM(Generations.readLog(spark, t).get)), where)

    sink(src((1, 10, 5), (2, 20, 7)), 0L)
    check("bootstrap batch")
    sink(src((3, 10, 9)), 1L)
    check("incremental batch (insert-only delta, no diff)")
    // foreachBatch replay of the SAME batch: both halves durable no-ops
    val vMv = Generations.latest(spark, mv).get.version
    val vT = Generations.latest(spark, t).get.version
    sink(src((3, 10, 9)), 1L)
    assert(Generations.latest(spark, t).get.version === vT &&
      Generations.latest(spark, mv).get.version === vMv,
      "replayed batch must commit nothing on either table")
    // crash BETWEEN append and maintenance: source advances, view lags…
    Generations.appendCommitted(spark, src((4, 20, 1)), t, "batch=2")
    assert(applied(mv).head <
      Generations.latest(spark, t).get.version)
    // …and the next delivery catches the view up over BOTH deltas
    sink(src((5, 30, 2)), 3L)
    check("catch-up after a crash between append and maintenance")
    // squash folds the source log: the next tick's window is not a pure
    // delta, so maintenance recomputes — still exact
    Generations.squash(spark, t)
    sink(src((6, 30, 8)), 4L)
    check("post-squash batch (recompute path)")
    // manual catch-up call with nothing new: no-op
    assert(ChangeFeed.maintainAggOnceLog(spark, t, mv, Seq("grp"),
      Map("sum_v" -> "v"), "n", maxCols = Map("max_v" -> "v"))(aggMM).isEmpty)
  }

  test("tailOnce: the sink's tag IS the cursor — exactly-once across crash, restart, widened window") {
    val t = mkDir("t"); val sink = mkDir("sink")
    def tail() = ChangeFeed.tailOnce(spark, t, Seq("k"), sink)
    def sinkRows(): Seq[(String, Long, Boolean)] =
      Generations.readLog(spark, sink).get
        .select(col("_change_type"), col("k"), col("_resync"))
        .as[(String, Long, Boolean)].collect().toSeq.sorted

    Generations.writeAndCommit(spark, src((1, 10, 5), (2, 20, 7)), t)
    assert(tail() === Some((0L, 1L)))
    assert(tail().isEmpty, "current: no duplicate delivery")
    assert(sinkRows() === Seq(("insert", 1L, false), ("insert", 2L, false)))

    // consumer CRASHES mid-batch: the append itself fails (here: a
    // constraint rejects it) — no sink commit, so the watermark stays
    Generations.writeAndCommit(spark, src((1, 10, 6), (2, 20, 7)), t)
    Generations.setChecks(spark, sink, Seq(("never", "false")))
    intercept[Generations.ConstraintViolationException] { tail() }
    assert(Generations.lastAppendId(spark, sink, "cdc") === Some(1L),
      "failed delivery must not advance the watermark")
    // ...and the source advances BEFORE the restart (widened window):
    // the retry must start at the sink's witness, not re-derive overlap
    Generations.writeAndCommit(spark,
      src((1, 10, 6), (2, 20, 7), (3, 30, 1)), t)
    Generations.setChecks(spark, sink, Nil)
    assert(tail() === Some((1L, 3L)))
    assert(sinkRows() === Seq(("insert", 1L, false), ("insert", 2L, false),
      ("insert", 3L, false), ("update_postimage", 1L, false),
      ("update_preimage", 1L, false)),
      "one net batch for the widened window, no double-applied changes")

    // a replayed whole delivery (same tag) is a durable no-op
    assert(Generations.appendCommitted(spark,
      Seq(("insert", 99L, 0L, BigDecimal(0), false))
        .toDF("_change_type", "k", "grp", "v", "_resync"),
      sink, "cdc=3").isEmpty)

    // the witness survives a squash of the SINK: still current after
    Generations.squash(spark, sink)
    assert(tail().isEmpty)

    // GC cuts the feed under the watermark: the tick re-baselines with
    // the full snapshot at head, flagged _resync = true
    Generations.writeAndCommit(spark,
      src((1, 10, 6), (3, 30, 2)), t)
    Generations.writeAndCommit(spark,
      src((1, 10, 6), (3, 30, 3)), t)
    Generations.gc(spark, t, keep = 1, orphanGraceMs = 0L)
    assert(tail() === Some((3L, 5L)))
    val resync = sinkRows().filter(_._3)
    assert(resync === Seq(("insert", 1L, true), ("insert", 3L, true)),
      "retention gap re-baselines as a flagged full snapshot")
    assert(tail().isEmpty)
  }

  test("transactMaintainAgg: source and view advance in ONE root commit") {
    import graft.sinks.Catalog
    val root = mkDir("cat")
    def chg(rows: (Long, Long, Long, Boolean)*): DataFrame =
      rows.toDF("k", "grp", "v", "_deleted")
        .withColumn("v", col("v").cast("decimal(18,4)"))
    def step(c: DataFrame) = ChangeFeed.transactMaintainAgg(spark, root,
      "orders", Seq("k"), c, "rev_mv", Seq("grp"),
      Map("sum_v" -> "v"), "n")(aggOf)

    step(chg((1, 10, 5, false), (2, 10, 7, false), (3, 20, 1, false)))
    step(chg((2, 10, 8, false), (4, 20, 2, false)))  // update + insert
    step(chg((3, 20, 1, true)))                       // delete
    // the LAW at EVERY kept root: view ≡ fresh aggregate of the source
    // AT THAT ROOT — no root ever shows the source ahead of its view
    val roots = Catalog.roots(spark, root)
    assert(roots.size === 3)
    roots.foreach { rc =>
      val srcAt = Catalog.readTableAt(spark, root, "orders", rc).get
      val viewAt = Catalog.readTableAt(spark, root, "rev_mv", rc).get
      val want = aggOf(srcAt).select(col("grp"),
          col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect().toSet
      val got = viewAt.select(col("grp"),
          col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect().toSet
      assert(got === want, s"root v${rc.version} view out of sync")
    }
    // crash window: per-table generation commits land (durable) but the
    // process dies before the root publish — catalog readers still see
    // the old CONSISTENT pair, never a fresher source with a stale view
    Generations.writeAndCommit(spark,
      src((9, 10, 100)), Catalog.tablePath(root, "orders"))
    val srcSeen = Catalog.readTable(spark, root, "orders").get
      .select(col("k")).as[Long].collect().toSet
    assert(!srcSeen.contains(9L), "half-committed source catalog-invisible")
    // min/max variant holds the law too
    val aggMM: DataFrame => DataFrame =
      df => df.groupBy("grp").agg(sum(col("v")).as("sum_v"),
        count(lit(1)).as("n"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
    val root2 = mkDir("cat2")
    def stepMM(c: DataFrame) = ChangeFeed.transactMaintainAgg(spark, root2,
      "orders", Seq("k"), c, "mm_mv", Seq("grp"), Map("sum_v" -> "v"), "n",
      minCols = Map("min_v" -> "v"), maxCols = Map("max_v" -> "v"))(aggMM)
    stepMM(chg((1, 10, 9, false), (2, 10, 5, false)))
    stepMM(chg((1, 10, 9, true)))  // delete the max holder
    val mm = Catalog.readTable(spark, root2, "mm_mv").get
      .select(col("grp"), col("max_v").cast("decimal(18,4)"))
      .as[(Long, BigDecimal)].collect().toMap
    assert(mm(10L) === BigDecimal("5.0000"), "retracted max re-aggregated")
  }

  test("maintainJoinAggOnce: agg-over-join advances from either input's feed, exactly once") {
    val fa = mkDir("fact"); val db = mkDir("dim"); val mv = mkDir("jmv")
    // fact(k, ck, v) ⋈ dim(ck, grp) — revenue per dim group
    def fact(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("k", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    def dim(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "grp")
    val aggOf: (DataFrame, DataFrame) => DataFrame = (a, b) =>
      a.join(b, "ck").groupBy("grp")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    def maintainJ() = ChangeFeed.maintainJoinAggOnce(spark, fa, Seq("k"),
      db, Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)
    def state(): Map[Long, (BigDecimal, Long)] = mvState(mv)
    def expected(): Map[Long, (BigDecimal, Long)] =
      aggOf(Generations.read(spark, fa).get, Generations.read(spark, db).get)
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap

    // only one input committed: not maintainable yet
    Generations.writeAndCommit(spark, fact((1, 100, 5), (2, 100, 7), (3, 200, 1)), fa)
    assert(maintainJ().isEmpty)
    Generations.writeAndCommit(spark, dim((100, 10), (200, 20)), db)
    // bootstrap
    val c1 = maintainJ()
    assert(c1.nonEmpty && c1.get.tag === "=cdcv2=1-1")
    assert(state() === expected())
    assert(maintainJ().isEmpty, "current: no-op")

    // only the FACT side moves: insert + update + delete
    Generations.writeAndCommit(spark, fact((1, 100, 6), (3, 200, 1), (4, 200, 2)), fa)
    val c2 = maintainJ()
    assert(c2.nonEmpty && c2.get.tag === "=cdcv2=2-1")
    assert(state() === expected())
    assert(applied(mv, ChangeFeed.Watermark.pair) === Seq(2L, 1L))

    // only the DIM side moves: ck=200 moves grp 20→30 (key-moving
    // update retracts its fact revenue from one group into another)
    Generations.writeAndCommit(spark, dim((100, 10), (200, 30)), db)
    val c3 = maintainJ()
    assert(c3.nonEmpty && c3.get.tag === "=cdcv2=2-2")
    assert(state() === expected())
    assert(state()(30L) === ((BigDecimal(3), 2L)))
    assert(!state().contains(20L), "emptied group leaves the view")

    // BOTH move in one tick, including a dim delete orphaning fact rows
    // out of the inner join (ck=100 gone) and a fact insert for it that
    // must NOT appear (ΔA⋈ΔB term with a retracted dim row)
    Generations.writeAndCommit(spark,
      fact((1, 100, 6), (4, 200, 2), (5, 100, 9), (6, 200, 4)), fa)
    Generations.writeAndCommit(spark, dim((200, 30)), db)
    val c4 = maintainJ()
    assert(c4.nonEmpty && c4.get.tag === "=cdcv2=3-3")
    assert(state() === expected())
    assert(state() === Map(30L -> ((BigDecimal(6), 2L))))

    // GC cuts the fact feed under the watermark: recompute fallback
    Generations.writeAndCommit(spark, fact((6, 200, 5)), fa)
    Generations.gc(spark, fa, keep = 1, orphanGraceMs = 0L)
    assert(Generations.readAt(spark, fa, 3L).isEmpty, "v3 must be GC'd")
    val c5 = maintainJ()
    assert(c5.nonEmpty && c5.get.tag === "=cdcv2=4-3")
    assert(state() === expected())

    // the pair watermark survives a squash of the VIEW table
    Generations.squash(spark, mv)
    Generations.gc(spark, mv, keep = 1, orphanGraceMs = 0L)
    assert(applied(mv, ChangeFeed.Watermark.pair) === Seq(4L, 3L),
      "the cdcv2 watermark must ride the squash's carried witness")
    assert(maintainJ().isEmpty)
  }

  test("maintainJoinAggOnce with min/max: dirty groups re-aggregate against the post-change join") {
    val fa = mkDir("fact"); val db = mkDir("dim"); val mv = mkDir("jmv")
    def fact(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("k", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    def dim(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "grp")
    val aggOf: (DataFrame, DataFrame) => DataFrame = (a, b) =>
      a.join(b, "ck").groupBy("grp")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"),
          max(col("v")).as("max_v"))
    def maintainJ() = ChangeFeed.maintainJoinAggOnce(spark, fa, Seq("k"),
      db, Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n",
      maxCols = Map("max_v" -> "v"))(aggOf)
    def state(): Map[Long, (BigDecimal, Long, BigDecimal)] =
      Generations.read(spark, mv).get
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"),
          col("max_v").cast("decimal(18,4)"))
        .as[(Long, BigDecimal, Long, BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def expected(): Map[Long, (BigDecimal, Long, BigDecimal)] =
      aggOf(Generations.read(spark, fa).get, Generations.read(spark, db).get)
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"),
          col("max_v").cast("decimal(18,4)"))
        .as[(Long, BigDecimal, Long, BigDecimal)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    Generations.writeAndCommit(spark, fact((1, 100, 9), (2, 100, 5)), fa)
    Generations.writeAndCommit(spark, dim((100, 10)), db)
    assert(maintainJ().nonEmpty)
    assert(state() === expected())
    // delete the fact row holding the max: the stale extreme must fall
    Generations.writeAndCommit(spark, fact((2, 100, 5)), fa)
    assert(maintainJ().nonEmpty)
    assert(state() === expected())
    assert(state()(10L)._3 === BigDecimal("5.0000"), "retracted max gone")
    // insert-only tick extends the extreme without the re-agg path
    Generations.writeAndCommit(spark, fact((2, 100, 5), (3, 100, 11)), fa)
    assert(maintainJ().nonEmpty)
    assert(state()(10L)._3 === BigDecimal("11.0000"))
  }

  test("maintainJoinAggOnce(leftOuter): null-extension rows cross with the match count") {
    val fa = mkDir("dimA"); val db = mkDir("factB"); val mv = mkDir("ljmv")
    // customer-shaped A(k=ck, grp) ⟕ order-shaped B(ck, ok, v): the view
    // keeps order-less customers as null-extended rows
    def cust(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "grp")
    def ord(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("ok", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    val aggOf: (DataFrame, DataFrame) => DataFrame = (a, b) =>
      a.join(b, Seq("ck"), "left").groupBy("grp")
        .agg(coalesce(sum(col("v")), lit(0).cast("decimal(28,4)")).as("sum_v"),
          count(lit(1)).as("n"))
    def maintainL() = ChangeFeed.maintainJoinAggOnce(spark, fa, Seq("ck"),
      db, Seq("ok"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n",
      leftOuter = true)(aggOf)
    def state(): Map[Long, (BigDecimal, Long)] =
      Generations.read(spark, mv).get
        .select(col("grp"),
          coalesce(col("sum_v"), lit(0)).cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap
    def expected(): Map[Long, (BigDecimal, Long)] =
      aggOf(Generations.read(spark, fa).get, Generations.read(spark, db).get)
        .select(col("grp"),
          coalesce(col("sum_v"), lit(0)).cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap

    // bootstrap: ck=2 has no orders — null-extended into grp 10's count
    Generations.writeAndCommit(spark, cust((1, 10), (2, 10), (3, 20)), fa)
    Generations.writeAndCommit(spark, ord((100, 1, 5), (101, 3, 7)), db)
    assert(maintainL().nonEmpty)
    assert(state() === expected())
    assert(state()(10L) === ((BigDecimal(5), 2L)), "null-extended row counted")

    // 0→1 crossing: ck=2 gains its first order — its null-extension
    // must retract while the matched row arrives (net n unchanged)
    Generations.writeAndCommit(spark,
      ord((100, 1, 5), (101, 3, 7), (102, 2, 11)), db)
    assert(maintainL().nonEmpty)
    assert(state() === expected())
    assert(state()(10L) === ((BigDecimal(16), 2L)))

    // 1→0 crossing: ck=3's only order dies — null-extension appears,
    // revenue retracts but the customer row stays counted
    Generations.writeAndCommit(spark, ord((100, 1, 5), (102, 2, 11)), db)
    assert(maintainL().nonEmpty)
    assert(state() === expected())
    assert(state()(20L) === ((BigDecimal(0), 1L)))

    // A-side churn at an empty key: order-less customer moves group
    Generations.writeAndCommit(spark, cust((1, 10), (2, 10), (3, 30)), fa)
    assert(maintainL().nonEmpty)
    assert(state() === expected())
    assert(!state().contains(20L) && state()(30L) === ((BigDecimal(0), 1L)))
    assert(maintainL().isEmpty, "current: no-op")
  }

  test("maintainJoinAggOnceLog: streaming fact log ⋈ snapshot dimension, exactly once") {
    val fl = mkDir("factlog"); val dt = mkDir("dim"); val mv = mkDir("ljmv2")
    def fact(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("ok", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    def dim(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "grp")
    val aggOf: (DataFrame, DataFrame) => DataFrame = (f, d) =>
      f.join(d, "ck").groupBy("grp")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    def maintainL() = ChangeFeed.maintainJoinAggOnceLog(spark, fl, dt,
      Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)
    def state(): Map[Long, (BigDecimal, Long)] = mvState(mv)
    def expected(): Map[Long, (BigDecimal, Long)] =
      aggOf(Generations.readLog(spark, fl).get, Generations.read(spark, dt).get)
        .select(col("grp"), col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap

    // streaming appends (batch-tagged deltas) + a committed dimension
    Generations.appendCommitted(spark, fact((100, 1, 5), (101, 2, 7)), fl, "batch=0")
    Generations.writeAndCommit(spark, dim((1, 10), (2, 20)), dt)
    assert(maintainL().nonEmpty) // bootstrap
    assert(state() === expected())
    assert(maintainL().isEmpty, "current: no-op")

    // fact-only tick: the feed is the delta commit itself, no diff
    Generations.appendCommitted(spark, fact((102, 1, 9)), fl, "batch=1")
    val c2 = maintainL()
    assert(c2.nonEmpty && c2.get.tag === "=cdcv2=2-1")
    assert(state() === expected())

    // a foreachBatch REPLAY of the same batch: append no-ops, view current
    assert(Generations.appendCommitted(spark, fact((102, 1, 9)), fl,
      "batch=1").isEmpty)
    assert(maintainL().isEmpty)

    // dim-only tick: ck=2 moves grp 20→30 (its fact revenue must move)
    Generations.writeAndCommit(spark, dim((1, 10), (2, 30)), dt)
    val c3 = maintainL()
    assert(c3.nonEmpty && c3.get.tag === "=cdcv2=2-2")
    assert(state() === expected())
    assert(state()(30L) === ((BigDecimal(7), 1L)))

    // BOTH move in one tick
    Generations.appendCommitted(spark, fact((103, 2, 4)), fl, "batch=2")
    Generations.writeAndCommit(spark, dim((1, 10), (2, 30), (3, 40)), dt)
    assert(maintainL().nonEmpty)
    assert(state() === expected())

    // squash folds the fact log: window not a pure delta → recompute path
    Generations.squash(spark, fl)
    Generations.appendCommitted(spark, fact((104, 1, 2)), fl, "batch=3")
    assert(maintainL().nonEmpty)
    assert(state() === expected())

    // dim GC under the watermark: recompute fallback, still exact
    Generations.writeAndCommit(spark, dim((1, 10), (2, 30)), dt)
    Generations.gc(spark, dt, keep = 1, orphanGraceMs = 0L)
    assert(maintainL().nonEmpty)
    assert(state() === expected())
  }

  test("maintainJoinAggOnceLog bails on a STALE listing instead of " +
      "regressing a watermark") {
    // the r14-ADVICE race: tick T lists the fact span at head v1, then a
    // full concurrent tick (list at v2 + commit) completes before T
    // proceeds. T's old guard only bailed when BOTH applied>=head, so
    // with the dim moved (appD < headD) T would rebuild from the STALE
    // v1 span and commit tag =cdcv2=1-·, REGRESSING the fact watermark —
    // commits (1, 2] re-apply and double-count next tick. The CAS can't
    // fence it (the concurrent commit precedes T's mvBase read). Feed
    // the package-private seam a stale sample and require a no-op.
    val fl = mkDir("factlog-stale"); val dt = mkDir("dim-stale")
    val mv = mkDir("mv-stale")
    def fact(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("ok", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    def dim(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "grp")
    val aggOf: (DataFrame, DataFrame) => DataFrame = (f, d) =>
      f.join(d, "ck").groupBy("grp")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    def maintainL() = ChangeFeed.maintainJoinAggOnceLog(spark, fl, dt,
      Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)

    Generations.appendCommitted(spark, fact((100, 1, 5)), fl, "batch=0")
    Generations.writeAndCommit(spark, dim((1, 10), (2, 20)), dt)
    assert(maintainL().nonEmpty) // bootstrap: applied (1, 1)
    val staleSpan = Generations.logCommits(spark, fl) // head v1
    val staleHeadD = Generations.latest(spark, dt).get.version

    // the "concurrent" tick: fact advances to v2 AND the view applies it
    Generations.appendCommitted(spark, fact((101, 2, 7)), fl, "batch=1")
    val c2 = maintainL()
    assert(c2.nonEmpty && c2.get.tag === "=cdcv2=2-1")

    // dim moves, so the stale tick is NOT short-circuited by the
    // both-current guard (appD=1 < headD=2) — only the stale bail saves it
    Generations.writeAndCommit(spark, dim((1, 10), (2, 30)), dt)
    val stale = ChangeFeed.maintainJoinAggOnceLogAt(spark, staleSpan,
      Generations.latest(spark, dt).get.version, fl, dt,
      Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)
    assert(stale.isEmpty, "a tick whose listing a concurrent tick " +
      "overtook must be a no-op")
    // the REAL tick then converges exactly once
    assert(maintainL().nonEmpty)
    val got = mvState(mv)
    assert(got === Map(10L -> (BigDecimal(5), 1L),
      30L -> (BigDecimal(7), 1L)), s"state diverged: $got")
    // now the view's applied dim (2) is ahead of the stale sample (1)
    assert(ChangeFeed.maintainJoinAggOnceLogAt(spark,
      Generations.logCommits(spark, fl), staleHeadD, fl, dt,
      Seq("ck"), Seq("ck"), mv, Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)
      .isEmpty, "stale dim sample after the view passed it must no-op")
    assert(maintainL().isEmpty, "everything applied: durable no-op")
  }

  test("maintainDistinctOnce: support table tracks distinct counts exactly once") {
    val t = mkDir("t"); val sup = mkDir("support")
    def distinctState(): Map[Long, Long] =
      ChangeFeed.distinctView(spark, sup, Seq("grp")).get
        .as[(Long, Long)].collect().toMap
    def expected(): Map[Long, Long] =
      Generations.read(spark, t).get.groupBy("grp")
        .agg(countDistinct(col("v")).as("n")).as[(Long, Long)].collect().toMap
    def maintainD() = ChangeFeed.maintainDistinctOnce(spark, t, Seq("k"),
      sup, Seq("grp"), Seq("v"))

    // bootstrap: grp 10 supplies v∈{5,7} (5 twice), grp 20 v∈{5}
    Generations.writeAndCommit(spark,
      src((1, 10, 5), (2, 10, 5), (3, 10, 7), (4, 20, 5)), t)
    assert(maintainD().nonEmpty)
    assert(distinctState() === expected())
    assert(distinctState()(10L) === 2L)
    assert(maintainD().isEmpty, "current: no-op")

    // delete ONE of grp 10's two v=5 rows: distinct must NOT drop
    Generations.writeAndCommit(spark,
      src((2, 10, 5), (3, 10, 7), (4, 20, 5)), t)
    assert(maintainD().nonEmpty)
    assert(distinctState() === expected())
    assert(distinctState()(10L) === 2L, "one of two suppliers survives")

    // delete the LAST v=7 row: distinct drops; grp 20 empties entirely
    Generations.writeAndCommit(spark, src((2, 10, 5)), t)
    assert(maintainD().nonEmpty)
    assert(distinctState() === expected())
    assert(distinctState() === Map(10L -> 1L))
  }

  test("maintainJoinsAggOnce: a 3-way join chain advances from any level's feed") {
    val ft = mkDir("fact"); val ct = mkDir("cust"); val nt = mkDir("nat")
    val mv = mkDir("chainmv")
    def fact(rows: (Long, Long, Long)*): DataFrame =
      rows.toDF("ok", "ck", "v").withColumn("v", col("v").cast("decimal(18,4)"))
    def cust(rows: (Long, Long)*): DataFrame = rows.toDF("ck", "nk")
    def nat(rows: (Long, String)*): DataFrame = rows.toDF("nk", "name")
    val aggOf: Seq[DataFrame] => DataFrame = { case Seq(f, c, n) =>
      f.join(c, "ck").join(n, "nk").groupBy("name")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    }
    def maintainC() = ChangeFeed.maintainJoinsAggOnce(spark,
      Seq(ChangeFeed.JoinSource(ft, Seq("ok")),
        ChangeFeed.JoinSource(ct, Seq("ck")),
        ChangeFeed.JoinSource(nt, Seq("nk"))),
      Seq(Seq("ck"), Seq("nk")), mv, Seq("name"),
      Map("sum_v" -> "v"), "n")(aggOf)
    def state(): Map[String, (BigDecimal, Long)] =
      Generations.read(spark, mv).get
        .select(col("name"), col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(String, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap
    def expected(): Map[String, (BigDecimal, Long)] =
      aggOf(Seq(ft, ct, nt).map(Generations.read(spark, _).get))
        .select(col("name"), col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(String, BigDecimal, Long)].collect()
        .map { case (g, s, n) => g -> (s, n) }.toMap

    Generations.writeAndCommit(spark, fact((100, 1, 5), (101, 2, 7)), ft)
    Generations.writeAndCommit(spark, cust((1, 0), (2, 1)), ct)
    assert(maintainC().isEmpty, "all inputs must be committed first")
    Generations.writeAndCommit(spark, nat((0, "A"), (1, "B")), nt)
    val c1 = maintainC()
    assert(c1.nonEmpty && c1.get.tag === "=cdcvn=1-1-1")
    assert(state() === expected())
    assert(maintainC().isEmpty, "current: no-op")

    // bottom level only: nation rename (key-move for a name-grouped view)
    Generations.writeAndCommit(spark, nat((0, "A"), (1, "B2")), nt)
    val c2 = maintainC()
    assert(c2.nonEmpty && c2.get.tag === "=cdcvn=1-1-2")
    assert(state() === expected())
    assert(state().contains("B2") && !state().contains("B"))

    // middle level: ck=1 moves nation 0→1; top level: fact churn — one tick
    Generations.writeAndCommit(spark, cust((1, 1), (2, 1)), ct)
    Generations.writeAndCommit(spark,
      fact((100, 1, 5), (102, 2, 3)), ft)
    val c3 = maintainC()
    assert(c3.nonEmpty && c3.get.tag === "=cdcvn=2-2-2")
    assert(state() === expected())
    assert(state() === Map("B2" -> ((BigDecimal(8), 2L))))

    // the vector watermark survives a squash of the view table
    Generations.squash(spark, mv)
    Generations.gc(spark, mv, keep = 1, orphanGraceMs = 0L)
    assert(applied(mv, ChangeFeed.Watermark.chain(3)) === Seq(2L, 2L, 2L))
    assert(maintainC().isEmpty)

    // GC under any input's watermark: recompute fallback, still exact
    Generations.writeAndCommit(spark, fact((102, 2, 3)), ft)
    Generations.writeAndCommit(spark, fact((102, 2, 4)), ft)
    Generations.gc(spark, ft, keep = 1, orphanGraceMs = 0L)
    val c4 = maintainC()
    assert(c4.nonEmpty && c4.get.tag === "=cdcvn=4-2-2")
    assert(state() === expected())
  }

  test("maintainTopKOnce: stored leaders replaced exactly once when retracted") {
    val t = mkDir("t"); val mv = mkDir("topkmv")
    def maintainT() = ChangeFeed.maintainTopKOnce(spark, t, Seq("k"), mv,
      Seq("grp"), "v", "k", k = 2, viewCols = Seq("grp", "k", "v"))
    def state(): Set[(Long, Long, BigDecimal)] =
      Generations.read(spark, mv).get
        .select(col("grp"), col("k"), col("v").cast("decimal(18,4)"))
        .as[(Long, Long, BigDecimal)].collect().toSet
    def expected(): Set[(Long, Long, BigDecimal)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(col("v").desc, col("k").asc)
      Generations.read(spark, t).get
        .withColumn("_r", row_number().over(w)).filter(col("_r") <= 2)
        .select(col("grp"), col("k"), col("v").cast("decimal(18,4)"))
        .as[(Long, Long, BigDecimal)].collect().toSet
    }
    Generations.writeAndCommit(spark,
      src((1, 10, 9), (2, 10, 5), (3, 10, 3), (4, 20, 1)), t)
    val c1 = maintainT()
    assert(c1.nonEmpty && c1.get.tag === "=cdcv=1")
    assert(state() === expected())
    assert(maintainT().isEmpty, "current: no-op")
    // delete the group leader: the k+1-th (not stored) must surface
    Generations.writeAndCommit(spark,
      src((2, 10, 5), (3, 10, 3), (4, 20, 1)), t)
    assert(maintainT().nonEmpty)
    assert(state() === expected())
    assert(state().contains((10L, 3L, BigDecimal("3.0000"))),
      "the unstored k+1-th row replaces the retracted leader")
    // insert-only tick: rank-merge without touching the source
    Generations.writeAndCommit(spark,
      src((2, 10, 5), (3, 10, 3), (4, 20, 1), (5, 10, 7)), t)
    assert(maintainT().nonEmpty)
    assert(state() === expected())
  }

  test("transactMaintainJoinAgg: two sources and their join view in ONE root commit") {
    import graft.sinks.Catalog
    val root = mkDir("cat")
    def factChg(rows: (Long, Long, Long, Boolean)*): DataFrame =
      rows.toDF("k", "ck", "v", "_deleted")
        .withColumn("v", col("v").cast("decimal(18,4)"))
    def dimChg(rows: (Long, Long, Boolean)*): DataFrame =
      rows.toDF("ck", "grp", "_deleted")
    val aggOf: (DataFrame, DataFrame) => DataFrame = (a, b) =>
      a.join(b, "ck").groupBy("grp")
        .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
    def step(fc: DataFrame, dc: DataFrame) =
      ChangeFeed.transactMaintainJoinAgg(spark, root,
        "fact", Seq("k"), fc, "dim", Seq("ck"), dc, Seq("ck"),
        "rev_mv", Seq("grp"), Map("sum_v" -> "v"), "n")(aggOf)

    step(factChg((1, 100, 5, false), (2, 200, 7, false)),
      dimChg((100, 10, false), (200, 20, false)))
    step(factChg((3, 100, 2, false)), dimChg((200, 30, false))) // both move
    step(factChg((2, 200, 7, true)), dimChg())                   // fact delete
    // the LAW at EVERY kept root: view ≡ agg of the join AT THAT ROOT
    val roots = Catalog.roots(spark, root)
    assert(roots.size === 3)
    roots.foreach { rc =>
      val fAt = Catalog.readTableAt(spark, root, "fact", rc).get
      val dAt = Catalog.readTableAt(spark, root, "dim", rc).get
      val vAt = Catalog.readTableAt(spark, root, "rev_mv", rc).get
      val want = aggOf(fAt, dAt).select(col("grp"),
          col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect().toSet
      val got = vAt.select(col("grp"),
          col("sum_v").cast("decimal(18,4)"), col("n"))
        .as[(Long, BigDecimal, Long)].collect().toSet
      assert(got === want, s"root v${rc.version} join view out of sync")
    }
  }

  test("pollOnce surfaces a GC gap instead of silently skipping") {
    val t = mkDir("t")
    val cur = mkDir("cursor") + "/c"
    Generations.writeAndCommit(spark, src((1, 10, 5)), t)
    ChangeFeed.pollOnce(spark, t, Seq("k"), cur)(_ => ())
    Generations.writeAndCommit(spark, src((1, 10, 6)), t)
    Generations.writeAndCommit(spark, src((1, 10, 7)), t)
    Generations.gc(spark, t, keep = 1, orphanGraceMs = 0L)
    var gap: Option[ChangeFeed.Delivery] = None
    val w = ChangeFeed.pollOnce(spark, t, Seq("k"), cur) { d => gap = Some(d) }
    assert(w === Some((1L, 3L)))
    assert(gap.get.changes.isEmpty, "GC'd from-version must surface as a gap")
    assert(ChangeFeed.cursor(spark, cur) === 3L,
      "the gap is crossed exactly once")
  }
}
