package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Generations

/** Bounded retention for the session-IVM event log
  * ([[StreamingIvm.foldSessionLog]]): sessions closed relative to the
  * committed mark collapse into one summary row each, and maintenance
  * over the FOLDED log — including late arrivals inside the lateness
  * horizon that merge open sessions — equals the run that kept every
  * raw event. Without the fold, "the event log IS the state of record"
  * means the state of record grows as the full event history; with it,
  * the log holds O(closed sessions + live events).
  */
class StreamingIvmFoldSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(name: String): String =
    suiteDir("sfold").resolve(name).toString

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private def evS(rows: (Long, Timestamp, Long)*) =
    rows.toDF("event_id", "ts", "user_id")

  private def sessions(mv: String): Set[(Long, Timestamp, Timestamp, Long)] =
    Generations.read(spark, mv).get
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet

  // identical batch sequence driven through two pipelines; FOLD only
  // differs by folding between ticks — the convergence law is mvF ≡ mvU
  test("post-fold maintenance ≡ the unfolded run, on late in-horizon merges") {
    val logF = mkDir("logF"); val mvF = mkDir("mvF")
    val logU = mkDir("logU"); val mvU = mkDir("mvU")
    def tickBoth(b: Seq[(Long, Timestamp, Long)], id: Long): Unit = {
      StreamingIvm.ingestSessionBatch(spark, evS(b: _*), id, logF, mvF)
      StreamingIvm.ingestSessionBatch(spark, evS(b: _*), id, logU, mvU)
    }
    // batch 0: user 1 sessions [00:00,00:10]×2ev and [02:00]×1ev;
    // user 2 session [00:05]×1ev — mark 02:00, horizon 23:30 prev day
    tickBoth(Seq((1, ts(0), 1L), (2, ts(0, 10), 1L), (3, ts(2), 1L),
      (4, ts(0, 5), 2L)), 0L)
    // batch 1 advances the mark to 10:05 → horizon 07:35: everything
    // so far is CLOSED; the 10:00/10:05 rows open live sessions
    tickBoth(Seq((5, ts(10), 1L), (6, ts(10, 5), 2L)), 1L)
    // fold the F log: 3 closed sessions → 3 summary rows + 2 live raws
    assert(StreamingIvm.foldSessionLog(spark, logF).nonEmpty)
    val foldedLog = Generations.readLog(spark, logF).get
    assert(foldedLog.count() === 5L,
      "4 closed events fold to 3 summaries; 2 live raws stay")
    assert(Generations.readLog(spark, logU).get.count() === 6L)
    // the folded summaries carry the session intervals and counts
    val summaries = foldedLog.filter(col("_n") > 1L)
      .select(col("user_id"), col("ts"), col("_end"), col("_n"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(summaries === Set((1L, ts(0), ts(0, 10), 2L)))
    // batch 2: LATE arrivals inside the horizon — 09:45 (user 1)
    // merges into the live 10:00 session; 10:20 (user 2) extends; a
    // fresh user 3 appears; 07:00 is below mark−lateness → dropped
    tickBoth(Seq((7, ts(9, 45), 1L), (8, ts(10, 20), 2L),
      (9, ts(10, 30), 3L), (10, ts(7), 1L)), 2L)
    assert(sessions(mvF) === sessions(mvU),
      "maintenance over the folded log must equal the unfolded run")
    assert(sessions(mvF) === Set(
      (1L, ts(0), ts(0, 10), 2L), // closed, carried through the fold
      (1L, ts(2), ts(2), 1L),
      (1L, ts(9, 45), ts(10), 2L), // late merge across the fold
      (2L, ts(0, 5), ts(0, 5), 1L),
      (2L, ts(10, 5), ts(10, 20), 2L),
      (3L, ts(10, 30), ts(10, 30), 1L)))
    // fold again (mark 10:30 → horizon 08:00): only the three early
    // sessions are closed and they are ALREADY summaries — a summary
    // re-folds to itself, so the fold is idempotent on content
    val before = Generations.readLog(spark, logF).get.count()
    assert(StreamingIvm.foldSessionLog(spark, logF).nonEmpty)
    assert(Generations.readLog(spark, logF).get.count() === before,
      "refolding an already-folded prefix changes nothing")
    // and one more maintenance tick over the refolded log still agrees
    tickBoth(Seq((11, ts(10, 40), 3L)), 3L)
    assert(sessions(mvF) === sessions(mvU))
  }

  test("non-session log columns ride through the fold on open rows") {
    val log = mkDir("log"); val mv = mkDir("mv")
    // session ticks write bare (user, ts); another producer sharing the
    // log appends rows WITH a payload column (additive evolution)
    StreamingIvm.ingestSessionBatch(spark, evS(
      (1, ts(0), 1L), (2, ts(0, 10), 1L), (4, ts(0, 5), 2L)), 0L, log, mv)
    Generations.appendCommitted(spark,
      Seq((1L, ts(10), "a"), (2L, ts(10, 5), "b"))
        .toDF("user_id", "ts", "payload"), log, "batch=side")
    // mark → 10:30, horizon 08:00: the early sessions close, the
    // payload-bearing rows stay open
    StreamingIvm.ingestSessionBatch(spark, evS((9, ts(10, 30), 3L)),
      1L, log, mv)
    assert(StreamingIvm.foldSessionLog(spark, log).nonEmpty)
    val folded = Generations.readLog(spark, log).get
    assert(folded.columns.toSet ===
      Set("payload", "ts", "user_id", "_end", "_n"),
      "the fold preserves the full log schema, not just session columns")
    // open (live) raw rows keep their payload verbatim — other views
    // maintained over the same log still see their inputs
    assert(folded.filter(col("payload").isNotNull)
      .select(col("payload")).as[String].collect().toSet === Set("a", "b"))
    // summaries stand for many events (payload NULL), plus the open
    // u3 row that never had one: 2 + 1
    assert(folded.filter(col("payload").isNull).count() === 3L)
    assert(folded.count() === 5L)
  }

  test("auto-fold dial bounds the log while the view stays exact") {
    val log = mkDir("log"); val mv = mkDir("mv")
    val logU = mkDir("logU"); val mvU = mkDir("mvU")
    // 8 ticks, each a singleton session 3h apart (every tick closes the
    // previous session); foldAfterCommits=3 keeps the F log collapsed
    (0 until 8).foreach { i =>
      val b = Seq((i.toLong, ts(i * 3), 100L + i))
      StreamingIvm.ingestSessionBatch(spark, evS(b: _*), i.toLong,
        log, mv, foldAfterCommits = 3)
      StreamingIvm.ingestSessionBatch(spark, evS(b: _*), i.toLong,
        logU, mvU)
    }
    assert(sessions(mv) === sessions(mvU))
    assert(Generations.logCommits(spark, log).size <=
      Generations.logCommits(spark, logU).size,
      "the folded log's commit span stays bounded")
    // every event is in a singleton session; the folded log still
    // reproduces them all
    assert(Generations.readLog(spark, log).get
      .agg(sum(coalesce(col("_n"), lit(1L)))).head().getLong(0) === 8L)
  }
}
