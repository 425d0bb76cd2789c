package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Generations

/** Crash-replay property of the streaming-IVM tick (r15 VERDICT task #7):
  * admission is deterministic from COMMITTED state, the log append is
  * witnessed, and the mark advance is an idempotent monotonic max — so a
  * tick killed at ANY commit boundary, then replayed (the foreachBatch
  * redelivery contract: same batch id, same rows), converges to exactly
  * the no-crash run's view AND high-mark.
  *
  * This is the spec form of the idempotence argument at
  * `StreamingIvm.ingestBatch` (and the regression test for the r15
  * ADVICE medium: a crash between the log append and the pointer write
  * must not skip the mark advance forever — the replay sees the append
  * witness, and before the fix that gated the advance away).
  */
class StreamingIvmReplaySpec extends SparkSpec {
  import spark.implicits._

  private case class SimulatedCrash(point: String)
    extends RuntimeException(point)

  private val CrashPoints = Seq("before-append", "after-append", "after-mark")

  private def mkDir(name: String): String =
    suiteDir("sivm-replay").resolve(name).toString

  private def ts(h: Int, m: Int) =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private type Batch = Seq[(Long, Timestamp, String, Double)]

  /** Random out-of-order history: unique event ids, hours 8-15, exact
    * quarter values (decimal-safe). Seeded — reruns are deterministic. */
  private def genHistory(rnd: scala.util.Random, nBatches: Int): Seq[Batch] = {
    var id = 0L
    (0 until nBatches).map { _ =>
      (0 until 3 + rnd.nextInt(3)).map { _ =>
        id += 1
        (id, ts(8 + rnd.nextInt(8), rnd.nextInt(60)),
          if (rnd.nextBoolean()) "click" else "buy",
          rnd.nextInt(100) / 4.0)
      }
    }
  }

  private def df(b: Batch): DataFrame =
    b.toDF("event_id", "ts", "event_type", "value")

  private def tick(b: Batch, id: Long, log: String, mv: String,
      failAt: Option[String] = None): Unit =
    try StreamingIvm.ingestBatch(spark, df(b), id, log, mv,
      failpoint = p => failAt.filter(_ == p)
        .foreach(x => throw SimulatedCrash(x)))
    catch { case _: SimulatedCrash => () } // the "kill"

  private def state(mv: String): Map[(Timestamp, String), (Long, Double)] =
    Generations.read(spark, mv).map(
      _.select(col("bucket"), col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(Timestamp, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap)
      .getOrElse(Map.empty)

  test("every prefix × crash boundary replays to the no-crash run") {
    val rnd = new scala.util.Random(16L) // fixed seed: deterministic CI
    val history = genHistory(rnd, 3)
    // the no-crash reference
    val (cleanLog, cleanMv) = (mkDir("clean-log"), mkDir("clean-mv"))
    history.zipWithIndex.foreach { case (b, i) =>
      tick(b, i.toLong, cleanLog, cleanMv) }
    val expectedState = state(cleanMv)
    val expectedMark = StreamingIvm.highMark(spark, cleanLog)
    assert(expectedState.nonEmpty && expectedMark.nonEmpty)

    for (i <- history.indices; point <- CrashPoints) {
      val tag = s"crash@batch$i/$point"
      val (log, mv) = (mkDir(s"log-$i-$point"), mkDir(s"mv-$i-$point"))
      history.take(i).zipWithIndex.foreach { case (b, j) =>
        tick(b, j.toLong, log, mv) }
      tick(history(i), i.toLong, log, mv, failAt = Some(point)) // killed
      // foreachBatch redelivery: batch i replays verbatim, then the
      // stream continues
      (i until history.length).foreach { j =>
        tick(history(j), j.toLong, log, mv) }
      assert(state(mv) === expectedState, s"$tag: view diverged")
      assert(StreamingIvm.highMark(spark, log) === expectedMark,
        s"$tag: committed high-mark diverged")
    }
  }

  test("session path: kill at each boundary, replay converges " +
      "(including a crash-interrupted session MERGE)") {
    def evS(rows: (Long, Timestamp, Long)*): DataFrame =
      rows.toDF("event_id", "ts", "user_id")
    def sessions(mv: String): Map[(Long, Timestamp), (Timestamp, Long)] =
      Generations.read(spark, mv).get
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .as[(Long, Timestamp, Timestamp, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // batch 1's late 10:25 row MERGES user 1's two sessions — the
    // maintenance a crash must not half-apply
    val batches = Seq(
      evS((1, ts(10, 0), 1L), (2, ts(10, 50), 1L), (3, ts(10, 0), 2L)),
      evS((4, ts(10, 25), 1L)))
    def run(failAt: Option[String]): (Map[(Long, Timestamp), (Timestamp, Long)], Option[Long]) = {
      val (log, mv) = (mkDir("slog"), mkDir("smv"))
      def t(b: DataFrame, id: Long, fp: Option[String]): Unit =
        try StreamingIvm.ingestSessionBatch(spark, b, id, log, mv,
          failpoint = p => fp.filter(_ == p)
            .foreach(x => throw SimulatedCrash(x)))
        catch { case _: SimulatedCrash => () }
      t(batches(0), 0L, None)
      t(batches(1), 1L, failAt) // possibly killed mid-merge
      t(batches(1), 1L, None)   // redelivery
      (sessions(mv), StreamingIvm.highMark(spark, log))
    }
    val expected = run(None)
    assert(expected._1 === Map( // sanity: the merge actually happened
      (1L, ts(10, 0)) -> ((ts(10, 50), 3L)),
      (2L, ts(10, 0)) -> ((ts(10, 0), 1L))))
    CrashPoints.foreach { p =>
      assert(run(Some(p)) === expected, s"session crash@$p diverged")
    }
  }

  test("kmv path: kill at each boundary, replay converges " +
      "(idempotent state merge absorbs the redelivered delta)") {
    def evK(rows: (Long, Timestamp, Long)*): DataFrame =
      rows.toDF("event_id", "ts", "user_id")
    def kmvState(mv: String) = Generations.read(spark, mv).get
      .select(col("bucket"), col("hashes"), col("n_kept"), col("hk"))
      .as[(Timestamp, Seq[Long], Long, Long)].collect().toSet
    // batch 1 touches BOTH an existing bucket (late row, dirty-state
    // merge) and a new one — the two maintenance paths a half-applied
    // crash could tear apart
    val batches = Seq(
      evK((1, ts(10, 0), 1L), (2, ts(10, 30), 2L), (3, ts(11, 0), 3L)),
      evK((4, ts(10, 45), 4L), (5, ts(12, 0), 5L)))
    def run(failAt: Option[String]): (Set[(Timestamp, Seq[Long], Long, Long)], Option[Long]) = {
      val (log, mv) = (mkDir("klog"), mkDir("kmv"))
      def t(b: DataFrame, id: Long, fp: Option[String]): Unit =
        try StreamingIvm.ingestKmvBatch(spark, b, id, log, mv, k = 3,
          failpoint = p => fp.filter(_ == p)
            .foreach(x => throw SimulatedCrash(x)))
        catch { case _: SimulatedCrash => () }
      t(batches(0), 0L, None)
      t(batches(1), 1L, failAt) // possibly killed mid-merge
      t(batches(1), 1L, None)   // redelivery
      (kmvState(mv), StreamingIvm.highMark(spark, log))
    }
    val expected = run(None)
    assert(expected._1.size === 3, "3 hourly buckets expected")
    CrashPoints.foreach { p =>
      assert(run(Some(p)) === expected, s"kmv crash@$p diverged")
    }
  }

  test("join path: kill between append and mark, replay converges") {
    def evJ(rows: (Long, Timestamp, Long, Double)*): DataFrame =
      rows.toDF("event_id", "ts", "user_id", "value")
    def joinState(mv: String): Map[String, (Long, Double)] =
      Generations.read(spark, mv).get
        .select(col("grp"), col("n"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val batches = Seq(
      evJ((1, ts(10, 0), 1L, 5.0), (2, ts(10, 30), 2L, 7.0)),
      evJ((3, ts(11, 0), 1L, 2.25), (4, ts(11, 15), 2L, 0.5)))
    def run(failAt: Option[String]): (Map[String, (Long, Double)], Option[Long]) = {
      val (log, dim, mv) = (mkDir("jlog"), mkDir("jdim"), mkDir("jmv"))
      Generations.writeAndCommit(spark,
        Seq((1L, "a"), (2L, "b")).toDF("user_id", "grp"), dim)
      def t(b: DataFrame, id: Long, fp: Option[String]): Unit =
        try StreamingIvm.ingestJoinBatch(spark, b, id, log, dim,
          dimKeys = Seq("user_id"), joinKeys = Seq("user_id"),
          mvTable = mv, mvKeys = Seq("grp"),
          failpoint = p => fp.filter(_ == p)
            .foreach(x => throw SimulatedCrash(x)))
        catch { case _: SimulatedCrash => () }
      t(batches(0), 0L, None)
      t(batches(1), 1L, failAt) // possibly killed
      t(batches(1), 1L, None)   // redelivery (no-op when not killed)
      (joinState(mv), StreamingIvm.highMark(spark, log))
    }
    val expected = run(None)
    CrashPoints.foreach { p =>
      assert(run(Some(p)) === expected, s"join crash@$p diverged")
    }
  }
}
