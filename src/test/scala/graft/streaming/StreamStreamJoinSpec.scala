package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Generations

/** The EIGHTH streaming-IVM shape (r17 VERDICT #5): a maintained view
  * over TWO append-only event logs joined to each other, each side
  * growing under its own event-time watermark. Laws under test:
  * maintained ≡ recomputed over every tick of a two-sided out-of-order
  * history; late rows evict independently per side; the tick replays to
  * the no-crash run when killed at ANY of its six commit boundaries
  * (A-append, A-mark, B-append, B-mark — the foreachBatch redelivery
  * contract); a replayed batch id is a durable no-op.
  */
class StreamStreamJoinSpec extends SparkSpec {
  import spark.implicits._

  private case class SimulatedCrash(point: String)
    extends RuntimeException(point)

  private val CrashPoints = Seq(
    "before-append-a", "after-append-a", "after-mark-a",
    "before-append-b", "after-append-b", "after-mark-b")

  private def mkDir(name: String): String =
    suiteDir("ssj").resolve(name).toString

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private type Batch = Seq[(Long, Timestamp, Double)]

  private def df(b: Batch): DataFrame = b.toDF("user_id", "ts", "value")

  private def tick(a: Batch, b: Batch, id: Long, la: String, lb: String,
      mv: String, failAt: Option[String] = None): Unit =
    try StreamingIvm.ingestStreamJoinBatch(spark, df(a), df(b), id,
      la, lb, mv, failpoint = p => failAt.filter(_ == p)
        .foreach(x => throw SimulatedCrash(x)))
    catch { case _: SimulatedCrash => () }

  private def state(mv: String): Map[Long, (Long, Double)] =
    Generations.read(spark, mv).map(
      _.select(col("user_id"), col("n_pairs"),
          col("sum_value").cast("double"))
        .as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap)
      .getOrElse(Map.empty)

  /** Admitted-set replay in plain Scala: the oracle the view must equal. */
  private def recompute(as: Seq[Batch], bs: Seq[Batch],
      latenessH: Int = 2): Map[Long, (Long, Double)] = {
    def admitted(batches: Seq[Batch]): Seq[(Long, Double)] = {
      var mark = Long.MinValue
      batches.flatMap { b =>
        val adm = b.filter(r =>
          mark == Long.MinValue ||
            r._2.getTime >= mark - latenessH * 3600000L)
        if (adm.nonEmpty)
          mark = math.max(mark, adm.map(_._2.getTime).max)
        adm.map(r => (r._1, r._3))
      }
    }
    val a = admitted(as)
    val bAdm = admitted(bs)
    val byUserB = bAdm.groupBy(_._1)
    a.flatMap { case (u, _) => byUserB.getOrElse(u, Nil).map(u -> _._2) }
      .groupBy(_._1)
      .map { case (u, vs) =>
        u -> ((vs.size.toLong, vs.map(_._2).sum))
      }
  }

  test("maintained ≡ recomputed across a two-sided out-of-order history") {
    val la = mkDir("a"); val lb = mkDir("b"); val mv = mkDir("mv")
    // A-side late row (7:50 after A's mark hit 12:00 → admitted, inside
    // lateness? 12:00−2h = 10:00 > 7:50 → DROPPED) while B keeps its
    // own, younger mark (B admits its 9:30 row — independent eviction)
    val as: Seq[Batch] = Seq(
      Seq((1L, ts(8), 1.25), (2L, ts(8, 30), 2.0)),
      Seq((1L, ts(12), 3.0)),
      Seq((1L, ts(7, 50), 9.0), (3L, ts(12, 10), 1.0)))
    val bs: Seq[Batch] = Seq(
      Seq((1L, ts(9), 10.0)),
      Seq((2L, ts(9, 15), 20.0)),
      Seq((1L, ts(9, 30), 40.0), (2L, ts(6), 80.0)))
    as.indices.foreach(i => tick(as(i), bs(i), i.toLong, la, lb, mv))
    val expect = recompute(as, bs)
    assert(state(mv) === expect)
    // sanity on the fixture itself: A dropped its 7:50 row, B dropped
    // its 6:00 row, B admitted 9:30 (marks move independently)
    assert(!expect.contains(3L) || expect(3L)._1 > 0) // u3 has no B rows → absent
    assert(expect(1L)._1 === 2L * 2L, "u1: 2 admitted clicks × 2 purchases")
  }

  test("a replayed batch id is a durable no-op") {
    val la = mkDir("a"); val lb = mkDir("b"); val mv = mkDir("mv")
    val a0: Batch = Seq((1L, ts(8), 1.0))
    val b0: Batch = Seq((1L, ts(9), 5.0))
    tick(a0, b0, 0L, la, lb, mv)
    val s1 = state(mv)
    tick(a0, b0, 0L, la, lb, mv) // foreachBatch redelivery
    assert(state(mv) === s1)
    assert(Generations.logCommits(spark, la).size === 1)
    assert(Generations.logCommits(spark, lb).size === 1)
  }

  private def attribTick(c: Batch, p: Batch, id: Long, lc: String,
      lp: String, mv: String, failAt: Option[String] = None): Unit =
    try StreamingIvm.ingestAttributionBatch(spark, df(c), df(p), id,
      lc, lp, mv, failpoint = pt => failAt.filter(_ == pt)
        .foreach(x => throw SimulatedCrash(x)))
    catch { case _: SimulatedCrash => () }

  test("TIME-BAND attribution: maintained ≡ recomputed, band honored") {
    val lc = mkDir("c"); val lp = mkDir("p"); val mv = mkDir("mv")
    // purchases open [ts, ts+1h]; clicks attribute iff inside. u1's
    // 9:30 click lands in BOTH its 9:00 and 9:20 purchase windows (2
    // pairs); the 11:00 click is outside both; u2's 10:30 click is
    // outside its 9:00 purchase window.
    val cs: Seq[Batch] = Seq(
      Seq((1L, ts(9, 30), 4.0), (2L, ts(10, 30), 8.0)),
      Seq((1L, ts(11), 16.0)),
      Seq((1L, ts(9, 45), 32.0))) // late but in-horizon: 2 more pairs
    val ps: Seq[Batch] = Seq(
      Seq((1L, ts(9), 100.0), (2L, ts(9), 100.0)),
      Seq((1L, ts(9, 20), 100.0)),
      Seq.empty)
    cs.indices.foreach(i => attribTick(cs(i), ps(i), i.toLong, lc, lp, mv))
    // u1: 9:30 ∈ [9:00,10:00] and ∈ [9:20,10:20] → 2 pairs of 4.0;
    //     9:45 ∈ both windows too → 2 pairs of 32.0; 11:00 ∈ neither.
    // u2: no click inside its window → absent from the view.
    assert(state(mv) === Map(1L -> ((4L, 2 * 4.0 + 2 * 32.0))))
  }

  test("band attribution replays clean from a mid-tick crash") {
    val cs: Seq[Batch] = Seq(
      Seq((1L, ts(9, 30), 4.0)), Seq((1L, ts(9, 40), 8.0)))
    val ps: Seq[Batch] = Seq(
      Seq((1L, ts(9), 100.0)), Seq((1L, ts(9, 35), 100.0)))
    val (clc, clp, cmv) = (mkDir("cc"), mkDir("cp"), mkDir("cm"))
    cs.indices.foreach(i => attribTick(cs(i), ps(i), i.toLong, clc, clp, cmv))
    val expected = state(cmv)
    Seq("after-append-a", "before-append-b", "after-mark-b").foreach { cp =>
      val lc = mkDir("c"); val lp = mkDir("p"); val mv = mkDir("mv")
      attribTick(cs(0), ps(0), 0L, lc, lp, mv)
      attribTick(cs(1), ps(1), 1L, lc, lp, mv, failAt = Some(cp))
      attribTick(cs(1), ps(1), 1L, lc, lp, mv)
      assert(state(mv) === expected, s"crash at $cp must replay clean")
    }
  }

  /** Raw (pair-formable) rows of a possibly-folded log. */
  private def rawCount(log: String): Long =
    Generations.readLog(spark, log).map { df =>
      if (df.columns.contains(ChangeFeed.GsumCol))
        df.filter(coalesce(col(ChangeFeed.GsumCol), lit(false)) === false)
          .count()
      else df.count()
    }.getOrElse(0L)

  /** An 8-hour attribution history: every tick advances the marks ~1h,
    * so by the later ticks the early rows are past the band horizon
    * (mark − lateness − window) and foldable.
    */
  private def longHistory: (Seq[Batch], Seq[Batch]) = {
    val cs = (0 until 8).map { i =>
      val u = (i % 3 + 1).toLong
      Seq((u, ts(8 + i, 30), i + 1.0), (3L, ts(8 + i, 45), 0.5)): Batch
    }
    val ps = (0 until 8).map { i =>
      val u = (i % 3 + 1).toLong
      Seq((u, ts(8 + i), 100.0), (3L, ts(8 + i, 40), 100.0)): Batch
    }
    (cs, ps)
  }

  test("FOLDED ≡ RAW: the band-horizon fold never changes the view") {
    val (cs, ps) = longHistory
    // control (no folds) and folding run (ingest dial folds once spans
    // exceed 2 commits) advance in lockstep; the views must agree at
    // EVERY tick
    val (rc, rp, rmv) = (mkDir("rc"), mkDir("rp"), mkDir("rm"))
    val (fc, fp, fmv) = (mkDir("fc"), mkDir("fp"), mkDir("fm"))
    cs.indices.foreach { i =>
      attribTick(cs(i), ps(i), i.toLong, rc, rp, rmv)
      StreamingIvm.ingestAttributionBatch(spark, df(cs(i)), df(ps(i)),
        i.toLong, fc, fp, fmv, foldAfterCommits = 2)
      assert(state(fmv) === state(rmv), s"view diverged at tick $i")
    }
    // the fold actually dropped raw history (bounded retention), and
    // carried the dropped pairs as summary rows
    assert(rawCount(fc) < rawCount(rc),
      s"click log must shrink (${rawCount(fc)} vs ${rawCount(rc)})")
    assert(rawCount(fp) < rawCount(rp), "purchase log must shrink")
    val foldedC = Generations.readLog(spark, fc).get
    assert(foldedC.columns.contains(ChangeFeed.GsumCol))
    assert(foldedC.filter(col(ChangeFeed.GsumCol) === true).count() > 0L,
      "dropped pairs live on as summary rows")
    // and the folded state keeps maintaining: one more tick, still
    // equal — AND through the INCREMENTAL path, not a recompute: the
    // ingest dial folds right after maintenance (view at both heads),
    // so the fold commit is tagged quiescent (=sjfoldq=) and the next
    // tick resumes from the fold snapshot as its pre-side instead of
    // paying a full recompute (r19 fold-resume)
    val extraC: Batch = Seq((1L, ts(16, 10), 64.0))
    val extraP: Batch = Seq((1L, ts(16), 100.0))
    attribTick(extraC, extraP, 8L, rc, rp, rmv)
    StreamingIvm.ingestAttributionBatch(spark, df(extraC), df(extraP),
      8L, fc, fp, fmv, foldAfterCommits = 2)
    assert(ChangeFeed.lastMaintainIncremental.get,
      "a tick after a quiescent fold must take the incremental path")
    assert(state(fmv) === state(rmv))
  }

  test("EQUI shape with a DECLARED pair TTL folds without changing the view") {
    // data honoring the declaration: each key's A and B rows sit within
    // 30 minutes of each other; keys never recur across hours
    def aB(i: Int): Batch = Seq(
      (100L + i, ts(8 + i, 10), i + 1.0), (200L + i, ts(8 + i, 20), 0.5))
    def bB(i: Int): Batch = Seq(
      (100L + i, ts(8 + i, 25), 10.0), (200L + i, ts(8 + i, 35), 20.0))
    val (rc, rp, rmv) = (mkDir("ra"), mkDir("rb"), mkDir("rm"))
    val (fc, fp, fmv) = (mkDir("fa"), mkDir("fb"), mkDir("fm"))
    (0 until 8).foreach { i =>
      StreamingIvm.ingestStreamJoinBatch(spark, df(aB(i)), df(bB(i)),
        i.toLong, rc, rp, rmv)
      StreamingIvm.ingestStreamJoinBatch(spark, df(aB(i)), df(bB(i)),
        i.toLong, fc, fp, fmv, pairTtl = Some("1 hour"),
        foldAfterCommits = 2)
      assert(state(fmv) === state(rmv), s"view diverged at tick $i")
    }
    assert(rawCount(fc) < rawCount(rc), "declared-TTL fold must shrink A")
    assert(rawCount(fp) < rawCount(rp), "declared-TTL fold must shrink B")
    // no-TTL runs never fold, even with the dial set (the contract is
    // the DECLARATION, not the dial)
    val (nc, np, nmv) = (mkDir("na"), mkDir("nb"), mkDir("nm"))
    (0 until 4).foreach { i =>
      StreamingIvm.ingestStreamJoinBatch(spark, df(aB(i)), df(bB(i)),
        i.toLong, nc, np, nmv, foldAfterCommits = 2)
    }
    assert(rawCount(nc) === 8L, "undeclared TTL keeps full retention")
  }

  test("a declared pair TTL is ENFORCED: violating pairs are excluded " +
      "deterministically, independent of fold timing") {
    // u1's A row at 8:00 pairs with B at 8:30 (in the 1h band) but NOT
    // with the LATE-ARRIVING B at 12:30 (4.5h apart — a declaration
    // violation, landing at tick 3 AFTER the per-tick fold dial has
    // already dropped the 8:00 row past its horizon). Pre-r19 the
    // trusted-declaration semantics made that pair's fate depend on
    // fold TIMING: counted by a never-folded run, lost by the folding
    // run. Enforcement makes both runs agree: out by definition.
    val as: Seq[Batch] = Seq(
      Seq((1L, ts(8), 1.0)), Seq((2L, ts(10), 2.0)),
      Seq((2L, ts(12), 3.0)), Seq.empty)
    val bs: Seq[Batch] = Seq(
      Seq((1L, ts(8, 30), 10.0)), Seq((2L, ts(10, 15), 20.0)),
      Seq((2L, ts(12, 40), 80.0)), Seq((1L, ts(12, 30), 40.0)))
    // run F folds aggressively (per tick); run N never folds — with an
    // enforced band their views MUST agree, including on the violating
    // 8:00 ⋈ 12:30 pair (excluded in both)
    val (fa, fb, fmv) = (mkDir("fa"), mkDir("fb"), mkDir("fm"))
    val (na, nb, nmv) = (mkDir("na"), mkDir("nb"), mkDir("nm"))
    as.indices.foreach { i =>
      StreamingIvm.ingestStreamJoinBatch(spark, df(as(i)), df(bs(i)),
        i.toLong, fa, fb, fmv, pairTtl = Some("1 hour"),
        foldAfterCommits = 1)
      StreamingIvm.ingestStreamJoinBatch(spark, df(as(i)), df(bs(i)),
        i.toLong, na, nb, nmv, pairTtl = Some("1 hour"))
      assert(state(fmv) === state(nmv), s"fold timing changed the view at tick $i")
    }
    // the in-band pairs and ONLY those: u1 8:00⋈8:30 (10.0); u2
    // 10:00⋈10:15 (20.0) and 12:00⋈12:40 (80.0); u2 10:00⋈12:40 and
    // u1 8:00⋈12:30 are out (violations), u2 12:00⋈10:15 is out too
    assert(state(nmv) === Map(
      1L -> ((1L, 10.0)), 2L -> ((2L, 20.0 + 80.0))))
    // and the folding run actually folded (bounded retention)
    assert(rawCount(fa) < 3L || rawCount(fb) < 4L,
      "the per-tick fold dial must have dropped some raw history")
    // an UNDECLARED run on the same data keeps unrestricted-equi
    // semantics: all four key-matched pairs count
    val (ua, ub, umv) = (mkDir("ua"), mkDir("ub"), mkDir("um"))
    as.indices.foreach { i =>
      StreamingIvm.ingestStreamJoinBatch(spark, df(as(i)), df(bs(i)),
        i.toLong, ua, ub, umv)
    }
    assert(state(umv) === Map(
      1L -> ((2L, 10.0 + 40.0)), 2L -> ((4L, 2 * (20.0 + 80.0)))))
  }

  test("STACKED quiescent folds: back-to-back folds stay quiescent and " +
      "the next tick still resumes incrementally") {
    val (cs, ps) = longHistory
    val (rc, rp, rmv) = (mkDir("rc"), mkDir("rp"), mkDir("rm"))
    val (fc, fp, fmv) = (mkDir("fc"), mkDir("fp"), mkDir("fm"))
    cs.indices.foreach { i =>
      attribTick(cs(i), ps(i), i.toLong, rc, rp, rmv)
      attribTick(cs(i), ps(i), i.toLong, fc, fp, fmv)
    }
    val markC = StreamingIvm.highMark(spark, fc).get
    val markP = StreamingIvm.highMark(spark, fp).get
    val hourUs = 3600000000L
    def foldC(horizon: Long) = ChangeFeed.foldStreamJoinLogOnce(spark,
      fc, fp, foldIsLeft = true, horizon, "ts",
      Seq("user_id"), Seq("sum_value"), "n_pairs", Some(fmv))(
      attribPairs)(attribAgg)
    def foldP(horizon: Long) = ChangeFeed.foldStreamJoinLogOnce(spark,
      fp, fc, foldIsLeft = false, horizon, "ts",
      Seq("user_id"), Seq("sum_value"), "n_pairs", Some(fmv))(
      attribPairs)(attribAgg)
    // two C folds at ADVANCING horizons with NO intervening maintenance
    // — pre-r19 the second degraded to the plain =sjfold= tag (the base
    // was no longer the applied head) and forced a recompute; chain
    // quiescence keeps it =sjfoldq=
    val c1 = foldC(markP - 4L * hourUs)
    val c2 = foldC(markP - 2L * hourUs)
    assert(c1.exists(_.tag.startsWith("=sjfoldq=")), s"first C fold: $c1")
    assert(c2.exists(_.tag.startsWith("=sjfoldq=")),
      s"STACKED C fold must stay quiescent: $c2")
    // the P side now sees TWO stacked foldq commits on the other log
    // (one hidden behind the other's head snapshot) — its own chain
    // check must certify the hidden run
    val p1 = foldP(markC - 4L * hourUs)
    val p2 = foldP(markC - 2L * hourUs - hourUs)
    assert(p1.exists(_.tag.startsWith("=sjfoldq=")), s"first P fold: $p1")
    assert(p2.exists(_.tag.startsWith("=sjfoldq=")),
      s"STACKED P fold must stay quiescent: $p2")
    // the next tick resumes INCREMENTALLY from the head fold snapshots
    // — four unapplied fold commits, zero recompute — and still equals
    // the never-folded control
    val extraC: Batch = Seq((1L, ts(16, 10), 64.0))
    val extraP: Batch = Seq((1L, ts(16), 100.0))
    attribTick(extraC, extraP, 8L, rc, rp, rmv)
    attribTick(extraC, extraP, 8L, fc, fp, fmv)
    assert(ChangeFeed.lastMaintainIncremental.get,
      "a tick after stacked quiescent folds must take the incremental path")
    assert(state(fmv) === state(rmv))
  }

  test("fold-per-tick dial (foldAfterCommits = 1): amortized folds track " +
      "the control at every tick, all post-fold ticks incremental") {
    val (cs, ps) = longHistory
    val (rc, rp, rmv) = (mkDir("rc"), mkDir("rp"), mkDir("rm"))
    val (fc, fp, fmv) = (mkDir("fc"), mkDir("fp"), mkDir("fm"))
    cs.indices.foreach { i =>
      attribTick(cs(i), ps(i), i.toLong, rc, rp, rmv)
      StreamingIvm.ingestAttributionBatch(spark, df(cs(i)), df(ps(i)),
        i.toLong, fc, fp, fmv, foldAfterCommits = 1)
      assert(state(fmv) === state(rmv), s"view diverged at tick $i")
      // every tick past the first folds right behind maintenance; the
      // NEXT maintenance must still be incremental (no recompute tax
      // for folding often — the amortization the dial exists for)
      if (i > 2) assert(ChangeFeed.lastMaintainIncremental.get,
        s"tick $i must be incremental under fold-per-tick")
    }
    assert(rawCount(fc) < rawCount(rc), "per-tick folds must bound A")
    assert(rawCount(fp) < rawCount(rp), "per-tick folds must bound B")
    // structural splice asserts (r19): the standing fold commits are
    // PREFIX SPLICES — summary-only content, with the kept append
    // commits live BENEATH them by reference, never rewritten — so each
    // fold's I/O is O(dropped prefix), not O(retained log)
    val spanC = Generations.logCommits(spark, fc)
    val newestSplice = spanC.reverse.find(c => c.tag.contains("~keep="))
    assert(newestSplice.nonEmpty, s"no splice in ${spanC.map(_.tag)}")
    assert(spanC.exists(c => c.tag.startsWith("batch=") &&
      c.version < newestSplice.get.version),
      "kept append commits must live beneath the splice by reference")
    val sgen = spark.read.parquet(
      Generations.genPath(fc, newestSplice.get))
    assert(sgen.filter(col(ChangeFeed.GsumCol) === true).count()
      === sgen.count(), "a splice commit holds ONLY summary rows")
  }

  /** The attribution pair-builder/agg pair, as the manual-fold tests
    * need them (mirrors [[StreamingIvm]]'s private helpers: 1h band,
    * binned point-in-interval).
    */
  private def attribPairs: (DataFrame, DataFrame) => DataFrame = (a, b) => {
    val iv = b.select(col("user_id"), col("ts").as("_ps"),
      timestamp_micros(unix_micros(col("ts")) + 3600000000L).as("_pe"))
    graft.operators.RangeJoin.pointInInterval(
      a.select(col("user_id"), col("ts"), col("_va")), iv,
      "user_id", "ts", "_ps", "_pe", binSeconds = 3600L,
      strictStart = false, inclusiveEnd = true)
  }

  private def attribAgg: DataFrame => DataFrame = pairs =>
    pairs.groupBy(col("user_id"))
      .agg(sum(col("_va")).as("sum_value"), count(lit(1)).as("n_pairs"))

  test("a one-sided fold (the cross-log crash window) stays consistent") {
    val (cs, ps) = longHistory
    val (rc, rp, rmv) = (mkDir("rc"), mkDir("rp"), mkDir("rm"))
    val (fc, fp, fmv) = (mkDir("fc"), mkDir("fp"), mkDir("fm"))
    cs.indices.foreach { i =>
      attribTick(cs(i), ps(i), i.toLong, rc, rp, rmv)
      attribTick(cs(i), ps(i), i.toLong, fc, fp, fmv)
    }
    // fold ONLY the click log (as if the process died before the
    // purchase-side fold): each side's fold is independently exact, so
    // the next tick's recompute must still equal the control
    val markP = StreamingIvm.highMark(spark, fp).get
    val c = ChangeFeed.foldStreamJoinLogOnce(spark, fc, fp,
      foldIsLeft = true, horizonMicros = markP - 2L * 3600000000L, "ts",
      Seq("user_id"), Seq("sum_value"), "n_pairs")(
      (a, b) => {
        val iv = b.select(col("user_id"), col("ts").as("_ps"),
          timestamp_micros(unix_micros(col("ts")) + 3600000000L).as("_pe"))
        graft.operators.RangeJoin.pointInInterval(
          a.select(col("user_id"), col("ts"), col("_va")), iv,
          "user_id", "ts", "_ps", "_pe", binSeconds = 3600L,
          strictStart = false, inclusiveEnd = true)
      })(pairs => pairs.groupBy(col("user_id"))
        .agg(sum(col("_va")).as("sum_value"),
          count(lit(1)).as("n_pairs")))
    assert(c.nonEmpty, "the 8h history must have foldable clicks")
    // a fold with NO quiescence proof (no mvTable) carries the plain
    // =sjfold= tag: the next tick must take the RECOMPUTE path — the
    // incremental resume is only sound for quiescent folds
    assert(c.exists(_.tag.startsWith("=sjfold=")), "plain tag expected")
    val extraC: Batch = Seq((2L, ts(16, 10), 64.0))
    val extraP: Batch = Seq((2L, ts(16), 100.0))
    attribTick(extraC, extraP, 8L, rc, rp, rmv)
    attribTick(extraC, extraP, 8L, fc, fp, fmv)
    assert(!ChangeFeed.lastMaintainIncremental.get,
      "an unproven fold in the window must force the recompute path")
    assert(state(fmv) === state(rmv),
      "half-applied fold pair must still recompute exactly")
  }

  test("every crash boundary replays to the no-crash run") {
    val as: Seq[Batch] = Seq(
      Seq((1L, ts(8), 1.25), (2L, ts(9), 2.0)),
      Seq((1L, ts(11), 3.0)))
    val bs: Seq[Batch] = Seq(
      Seq((1L, ts(8, 30), 10.0)),
      Seq((2L, ts(11, 30), 20.0), (1L, ts(10), 40.0)))
    val (cla, clb, cmv) = (mkDir("ca"), mkDir("cb"), mkDir("cmv"))
    as.indices.foreach(i => tick(as(i), bs(i), i.toLong, cla, clb, cmv))
    val expected = state(cmv)
    CrashPoints.foreach { cp =>
      val la = mkDir("a"); val lb = mkDir("b"); val mv = mkDir("mv")
      tick(as(0), bs(0), 0L, la, lb, mv)
      // tick 1 dies at cp, then the stream redelivers batch 1
      tick(as(1), bs(1), 1L, la, lb, mv, failAt = Some(cp))
      tick(as(1), bs(1), 1L, la, lb, mv)
      assert(state(mv) === expected, s"crash at $cp must replay clean")
      assert(StreamingIvm.highMark(spark, la) ===
        StreamingIvm.highMark(spark, cla), s"A-mark after $cp")
      assert(StreamingIvm.highMark(spark, lb) ===
        StreamingIvm.highMark(spark, clb), s"B-mark after $cp")
    }
  }
}
