package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Generations

/** [[StreamingIvm]] — event-time windowed aggregates maintained in a
  * Generations table: watermark-drop of late rows, exactly-once under
  * batch replay, and the maintained state ≡ fresh aggregate of the
  * admitted rows (the law the driver gate pins at the
  * `mv_stream_hourly_revenue` shape).
  */
class StreamingIvmSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(name: String): String =
    suiteDir("sivm").resolve(name).toString

  private def ts(h: Int, m: Int = 0) =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private def ev(rows: (Long, Timestamp, String, Double)*) =
    rows.toDF("event_id", "ts", "event_type", "value")

  private def state(mv: String): Map[(Timestamp, String), (Long, Double)] =
    Generations.read(spark, mv).get
      .select(col("bucket"), col("event_type"), col("n"),
        col("sum_value").cast("double"))
      .as[(Timestamp, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap

  test("grid quantiles: lower-quantile law over a known histogram; " +
      "maintained histogram ≡ one-shot") {
    // hand-computed: bucket h8 = cells 0×4, 1×4, 2×2 (tot 10) →
    // p50 at cum 5 ⇒ cell 1; p90 at cum 9 ⇒ cell 2; p100 ⇒ cell 2.
    // bucket h9 = cell 7×1 → every quantile is cell 7.
    val view = Seq(
      (ts(8), 0L, 4L), (ts(8), 1L, 4L), (ts(8), 2L, 2L),
      (ts(9), 7L, 1L)).toDF("bucket", "_cell", "n")
    val got = StreamingIvm.gridQuantiles(view, step = 10.0,
      qs = Map("p50" -> 0.50, "p90" -> 0.90, "p100" -> 1.0))
      .select(col("bucket"), col("p50"), col("p90"), col("p100"), col("n"))
      .as[(Timestamp, Double, Double, Double, Long)].collect().toSet
    assert(got === Set(
      (ts(8), 10.0, 20.0, 20.0, 10L),
      (ts(9), 70.0, 70.0, 70.0, 1L)))
    // and the MAINTAINED histogram (ingestBatch keyed on the cell, two
    // ticks with a late-but-admissible row) equals the one-shot
    // histogram of the admitted union — the tenth shape rides the
    // existing abelian machinery unchanged
    val log = mkDir("qlog"); val mv = mkDir("qmv")
    def batch(rows: Seq[(Long, Timestamp, Double)]) =
      rows.toDF("user_id", "ts", "value")
        .withColumn("_cell", floor(col("value") / 10.0).cast("long"))
    val b0 = Seq((1L, ts(8, 10), 5.0), (2L, ts(8, 20), 15.0),
      (3L, ts(9), 25.0))
    val b1 = Seq((4L, ts(8, 40), 15.0), (5L, ts(10), 95.0))
    StreamingIvm.ingestBatch(spark, batch(b0), 0L, log, mv,
      keyCols = Seq("_cell"))
    StreamingIvm.ingestBatch(spark, batch(b1), 1L, log, mv,
      keyCols = Seq("_cell"))
    val maintained = StreamingIvm.gridQuantiles(
      Generations.read(spark, mv).get, 10.0, Map("p50" -> 0.5))
      .select(col("bucket"), col("p50"), col("n"))
      .as[(Timestamp, Double, Long)].collect().toSet
    val oneShot = StreamingIvm.gridQuantiles(
      batch(b0 ++ b1).groupBy(
          window(col("ts"), "1 hour").getField("start").as("bucket"),
          col("_cell")).agg(count(lit(1)).as("n")),
      10.0, Map("p50" -> 0.5))
      .select(col("bucket"), col("p50"), col("n"))
      .as[(Timestamp, Double, Long)].collect().toSet
    assert(maintained === oneShot)
    assert(maintained.exists { case (b, p50, n) =>
      b == ts(8) && p50 == 10.0 && n == 3L }) // cells 0,1,1 → p50=cell 1
  }

  test("late rows within lateness reopen their bucket; older ones drop") {
    val log = mkDir("log"); val mv = mkDir("mv")
    // batch 0: hours 10 and 12 → high-mark 12:30
    StreamingIvm.ingestBatch(spark, ev(
      (1, ts(10), "click", 1.0), (2, ts(12, 30), "click", 2.0)),
      0L, log, mv)
    assert(StreamingIvm.highMark(spark, log)
      .contains(Timestamp.valueOf("2026-01-01 12:30:00").getTime * 1000))
    // batch 1: one row at 11:00 (within 12:30−2h=10:30 → admitted into
    // the closed hour-11 bucket), one at 09:00 (older → DROPPED), one
    // at 13:00 advancing the mark
    StreamingIvm.ingestBatch(spark, ev(
      (3, ts(11), "click", 4.0), (4, ts(9), "click", 100.0),
      (5, ts(13), "buy", 8.0)),
      1L, log, mv)
    assert(state(mv) === Map(
      (ts(10), "click") -> ((1L, 1.0)),
      (ts(11), "click") -> ((1L, 4.0)), // late row landed in its bucket
      (ts(12), "click") -> ((1L, 2.0)),
      (ts(13), "buy") -> ((1L, 8.0))), "9:00 row must be dropped")
    assert(StreamingIvm.highMark(spark, log)
      .contains(Timestamp.valueOf("2026-01-01 13:00:00").getTime * 1000))
  }

  test("a replayed micro-batch is a no-op: exactly-once end to end") {
    val log = mkDir("log"); val mv = mkDir("mv")
    assert(StreamingIvm.ingestBatch(spark,
      ev((1, ts(10), "click", 1.0)), 0L, log, mv).nonEmpty)
    val before = state(mv)
    // the same batch id again (a foreachBatch redelivery after a crash
    // between the sink commit and the checkpoint write)
    assert(StreamingIvm.ingestBatch(spark,
      ev((1, ts(10), "click", 1.0)), 0L, log, mv).isEmpty)
    assert(state(mv) === before, "replay must not double-count")
  }

  test("min/max track insert-only extremes through late reopens") {
    val log = mkDir("log"); val mv = mkDir("mv")
    StreamingIvm.ingestBatch(spark, ev(
      (1, ts(10), "click", 5.0), (2, ts(10, 30), "click", 1.0)),
      0L, log, mv, trackMinMax = true)
    // late row reopens hour 10 with a NEW max
    StreamingIvm.ingestBatch(spark, ev(
      (3, ts(10, 45), "click", 9.0), (4, ts(11), "click", 2.0)),
      1L, log, mv, trackMinMax = true)
    val st = Generations.read(spark, mv).get
      .select(col("bucket"), col("event_type"), col("n"),
        col("min_value").cast("double"), col("max_value").cast("double"))
      .as[(Timestamp, String, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(st === Map(
      (ts(10), "click") -> ((3L, 1.0, 9.0)),
      (ts(11), "click") -> ((1L, 2.0, 2.0))))
  }

  test("join view: a key-moving dim update mid-stream moves revenue; " +
      "replayed ticks are no-ops") {
    val log = mkDir("log"); val dim = mkDir("dim"); val mv = mkDir("mv")
    def dimDf(rows: (Long, String)*) = rows.toDF("user_id", "grp")
    def evJ(rows: (Long, Timestamp, Long, Double)*) =
      rows.toDF("event_id", "ts", "user_id", "value")
    def tick(b: Long, batch: org.apache.spark.sql.DataFrame) =
      StreamingIvm.ingestJoinBatch(spark, batch, b, log, dim,
        dimKeys = Seq("user_id"), joinKeys = Seq("user_id"),
        mvTable = mv, mvKeys = Seq("grp"))
    def state(): Map[String, (Long, Double)] =
      Generations.read(spark, mv).get
        .select(col("grp"), col("n"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

    Generations.writeAndCommit(spark, dimDf((1L, "a"), (2L, "b")), dim)
    assert(tick(0L, evJ((1, ts(10), 1L, 5.0), (2, ts(10), 2L, 7.0))).nonEmpty)
    assert(state() === Map("a" -> ((1L, 5.0)), "b" -> ((1L, 7.0))))
    // user 1 MOVES a→b while the fact stream also advances: the batch-1
    // tick must apply both feeds — user 1's accumulated 5.0 follows it
    Generations.writeAndCommit(spark, dimDf((1L, "b"), (2L, "b")), dim)
    assert(tick(1L, evJ((3, ts(11), 1L, 2.0))).nonEmpty)
    assert(state() === Map("b" -> ((3L, 14.0))),
      "moved user's accumulated revenue must follow the dim update")
    // foreachBatch replay of batch 1: append no-ops AND the view tick
    // no-ops (nothing re-applied)
    assert(tick(1L, evJ((3, ts(11), 1L, 2.0))).isEmpty)
    assert(state() === Map("b" -> ((3L, 14.0))))
    // late row beyond lateness is dropped even through the join path
    assert(tick(2L, evJ((4, ts(8), 1L, 100.0))).isEmpty,
      "an all-dropped batch with current dim must be a view no-op")
    assert(state() === Map("b" -> ((3L, 14.0))))
  }

  test("session view: a late arrival MERGES two sessions; untouched " +
      "users carry; replay no-ops; too-late rows drop") {
    val log = mkDir("log"); val mv = mkDir("mv")
    def evS(rows: (Long, Timestamp, Long)*) =
      rows.toDF("event_id", "ts", "user_id")
    def sessions(): Map[(Long, Timestamp), (Timestamp, Long)] =
      Generations.read(spark, mv).get
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
        .as[(Long, Timestamp, Timestamp, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def tick(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingIvm.ingestSessionBatch(spark, b, id, log, mv)
    // batch 0: user 1 at 10:00 and 10:50 → TWO sessions (30 min gap);
    // user 2 at 10:00 — the carried-untouched control
    assert(tick(evS((1, ts(10), 1L), (2, ts(10, 50), 1L), (3, ts(10), 2L)),
      0L).nonEmpty)
    assert(sessions() === Map(
      (1L, ts(10)) -> ((ts(10), 1L)),
      (1L, ts(10, 50)) -> ((ts(10, 50), 1L)),
      (2L, ts(10)) -> ((ts(10), 1L))))
    // batch 1: 10:25 for user 1 — late (mark 10:50) but admitted, and it
    // BRIDGES the two sessions (25 min to both sides ≤ gap): they must
    // merge into ONE. An 8:00 row is beyond 10:50−2h → dropped.
    assert(tick(evS((4, ts(10, 25), 1L), (5, ts(8), 1L)), 1L).nonEmpty)
    assert(sessions() === Map(
      (1L, ts(10)) -> ((ts(10, 50), 3L)), // merged span, 3 events
      (2L, ts(10)) -> ((ts(10), 1L))), // carried verbatim
      "the late bridge event must merge the user's two sessions")
    // foreachBatch redelivery of batch 1: append witnessed, mark re-max,
    // view already at head → full no-op
    assert(tick(evS((4, ts(10, 25), 1L), (5, ts(8), 1L)), 1L).isEmpty)
    assert(sessions().size === 2)
  }

  test("top-k view: a late event EVICTS a carried entity from its " +
      "window; untouched windows carry; replay no-ops") {
    val log = mkDir("log"); val mv = mkDir("mv")
    def evT(rows: (Long, Timestamp, Long, Double)*) =
      rows.toDF("event_id", "ts", "user_id", "value")
    def tick(b: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingIvm.ingestTopKBatch(spark, b, id, log, mv, k = 2)
    def state(): Set[(Timestamp, Long, Int, Long, Double)] =
      Generations.read(spark, mv).get
        .select(col("bucket"), col("user_id"), col("rank"), col("n"),
          col("sum_value").cast("double"))
        .as[(Timestamp, Long, Int, Long, Double)].collect().toSet
    // batch 0 — hour 10: users 1(5.0) 2(3.0) 3(1.0); hour 12: user 9
    // (advances the mark to 12:00, so hour-10 lates stay admissible)
    assert(tick(evT((1, ts(10), 1L, 5.0), (2, ts(10, 5), 2L, 3.0),
      (3, ts(10, 10), 3L, 1.0), (4, ts(12), 9L, 1.0)), 0L).nonEmpty)
    assert(state() === Set(
      (ts(10), 1L, 1, 1L, 5.0), (ts(10), 2L, 2, 1L, 3.0),
      (ts(12), 9L, 1, 1L, 1.0)))
    // batch 1 — a LATE hour-10 event lifts user 3 to 5.0: ties user 1
    // (id tiebreak keeps 1 first) and EVICTS user 2 from the top-2;
    // hour 12 is untouched and must carry verbatim
    assert(tick(evT((5, ts(10, 20), 3L, 4.0)), 1L).nonEmpty)
    val afterLate = Set(
      (ts(10), 1L, 1, 1L, 5.0), (ts(10), 3L, 2, 2L, 5.0),
      (ts(12), 9L, 1, 1L, 1.0))
    assert(state() === afterLate,
      "late event must evict the carried rank-2 entity")
    // replayed micro-batch: witnessed append no-ops, view unchanged
    assert(tick(evT((5, ts(10, 20), 3L, 4.0)), 1L).isEmpty)
    assert(state() === afterLate)
    // a too-late row (beyond mark − lateness) is dropped
    assert(tick(evT((6, ts(9), 1L, 100.0)), 2L).isEmpty)
    assert(state() === afterLate)
  }

  test("session view survives a log squash: the non-pure-delta tick " +
      "recomputes instead of double-counting the fold") {
    val log = mkDir("log"); val mv = mkDir("mv")
    def evS(rows: (Long, Timestamp, Long)*) =
      rows.toDF("event_id", "ts", "user_id")
    StreamingIvm.ingestSessionBatch(spark, evS((1, ts(10), 1L)), 0L, log, mv)
    StreamingIvm.ingestSessionBatch(spark,
      evS((2, ts(10, 10), 1L), (3, ts(12), 2L)), 1L, log, mv)
    // fold the whole log span into one snapshot commit: the next tick's
    // window contains a snapshot, so pure-delta is unprovable and the
    // maintenance must take the full-recompute path (unioning the fold
    // would double-count rows already applied)
    Generations.maintain(spark, log,
      Generations.MaintenancePolicy(squashAfterCommits = 1))
    StreamingIvm.ingestSessionBatch(spark, evS((4, ts(12, 5), 2L)), 2L, log, mv)
    val st = Generations.read(spark, mv).get
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(st === Set(
      (1L, ts(10), ts(10, 10), 2L),
      (2L, ts(12), ts(12, 5), 2L)))
  }

  test("KMV view: multi-tick state merge ≡ one-shot bootstrap, " +
      "k-min cut enforced, replayed tick is a no-op") {
    def evK(rows: (Long, Timestamp, Long)*) =
      rows.toDF("event_id", "ts", "user_id")
    val all = Seq[(Long, Timestamp, Long)](
      (1, ts(10), 1L), (2, ts(10, 10), 2L), (3, ts(10, 20), 3L),
      (4, ts(10, 30), 4L), (5, ts(10, 40), 5L),
      (6, ts(11), 1L), (7, ts(11, 10), 6L))
    def kmvState(mv: String) = Generations.read(spark, mv).get
      .select(col("bucket"), col("hashes"), col("n_kept"), col("hk"),
        col("est_kmv"))
      .as[(Timestamp, Seq[Long], Long, Long, Double)].collect().toSet
    val log = mkDir("klog"); val mv = mkDir("kmv")
    StreamingIvm.ingestKmvBatch(spark, evK(all.take(3): _*), 0L, log, mv,
      k = 3)
    StreamingIvm.ingestKmvBatch(spark, evK(all.slice(3, 5): _*), 1L, log,
      mv, k = 3)
    StreamingIvm.ingestKmvBatch(spark, evK(all.drop(5): _*), 2L, log, mv,
      k = 3)
    // the incremental state-merge path must land exactly where a single
    // bootstrap tick over the same rows does (union∘k-min is abelian +
    // idempotent, so arrival shape cannot matter)
    val log1 = mkDir("klog1"); val mv1 = mkDir("kmv1")
    StreamingIvm.ingestKmvBatch(spark, evK(all: _*), 0L, log1, mv1, k = 3)
    assert(kmvState(mv) === kmvState(mv1))
    // hour 10 saw 5 distinct users but the sketch keeps k=3 hashes, and
    // the estimate leaves the exact regime: est = (k−1)·2⁶⁰/h₍ₖ₎
    val b10 = kmvState(mv).find(_._1 === ts(10)).get
    assert(b10._2.size === 3 && b10._3 === 3L)
    assert(b10._2 === b10._2.sorted && b10._4 === b10._2.max)
    assert(math.abs(b10._5 - 2.0 * 1152921504606846976.0 / b10._4) < 1e-6)
    // hour 11: 2 distinct users < k → exact readout
    val b11 = kmvState(mv).find(_._1 === ts(11)).get
    assert(b11._3 === 2L && b11._5 === 2.0)
    // a redelivered micro-batch is a visible no-op: witnessed append +
    // applied =cdcv= watermark, no new view version
    val v = Generations.latest(spark, mv).get.version
    assert(StreamingIvm.ingestKmvBatch(spark, evK(all.drop(5): _*), 2L,
      log, mv, k = 3).isEmpty)
    assert(Generations.latest(spark, mv).get.version === v)
  }

  test("KMV view survives a log squash: the non-pure-delta tick " +
      "recomputes from the hash log") {
    def evK(rows: (Long, Timestamp, Long)*) =
      rows.toDF("event_id", "ts", "user_id")
    def kmvState(mv: String) = Generations.read(spark, mv).get
      .select(col("bucket"), col("hashes"), col("n_kept"), col("hk"),
        col("est_kmv"))
      .as[(Timestamp, Seq[Long], Long, Long, Double)].collect().toSet
    val log = mkDir("klog"); val mv = mkDir("kmv")
    StreamingIvm.ingestKmvBatch(spark,
      evK((1, ts(10), 1L), (2, ts(10, 10), 2L)), 0L, log, mv, k = 3)
    StreamingIvm.ingestKmvBatch(spark, evK((3, ts(10, 20), 3L)), 1L, log,
      mv, k = 3)
    // fold the log: the next window contains a snapshot commit, so the
    // pure-delta state merge is unprovable and the tick must recompute
    // from the folded hash log (which carries every (bucket, _h) row)
    Generations.maintain(spark, log,
      Generations.MaintenancePolicy(squashAfterCommits = 1))
    StreamingIvm.ingestKmvBatch(spark, evK((4, ts(10, 40), 4L)), 2L, log,
      mv, k = 3)
    val log1 = mkDir("klog1"); val mv1 = mkDir("kmv1")
    StreamingIvm.ingestKmvBatch(spark,
      evK((1, ts(10), 1L), (2, ts(10, 10), 2L), (3, ts(10, 20), 3L),
        (4, ts(10, 40), 4L)), 0L, log1, mv1, k = 3)
    assert(kmvState(mv) === kmvState(mv1))
  }

  test("REAL STREAM, sessions: late bridge event merges mid-stream") {
    val log = mkDir("log"); val mv = mkDir("mv")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingIvm.start(
      input.toDF().toDF("event_id", "ts", "user_id"), mkDir("ckpt")) {
      (b, id) => StreamingIvm.ingestSessionBatch(b.sparkSession, b, id, log, mv)
    }
    try {
      input.addData((1L, ts(10), 1L), (2L, ts(10, 50), 1L))
      q.processAllAvailable()
      input.addData((3L, ts(10, 25), 1L)) // late bridge → merge
      q.processAllAvailable()
    } finally q.stop()
    val st = Generations.read(spark, mv).get
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(st === Set((1L, ts(10), ts(10, 50), 3L)))
  }

  test("REAL STREAM, KMV: sketch state merges across micro-batches") {
    val log = mkDir("log"); val mv = mkDir("mv")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingIvm.start(
      input.toDF().toDF("event_id", "ts", "user_id"), mkDir("ckpt")) {
      (b, id) => StreamingIvm.ingestKmvBatch(b.sparkSession, b, id, log, mv, k = 3)
    }
    try {
      input.addData((1L, ts(10), 1L), (2L, ts(10, 10), 2L))
      q.processAllAvailable()
      // second batch: two more users in hour 10 → the carried state
      // merges past the k=3 cut; plus a fresh hour-11 bucket
      input.addData((3L, ts(10, 20), 3L), (4L, ts(10, 30), 4L),
        (5L, ts(11), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val st = Generations.read(spark, mv).get
      .select(col("bucket"), col("n_kept"), col("hk"), col("est_kmv"))
      .as[(Timestamp, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(st.keySet === Set(ts(10), ts(11)))
    assert(st(ts(10))._1 === 3L, "hour 10: 4 distinct users cut to k=3")
    assert(math.abs(st(ts(10))._3 -
      2.0 * 1152921504606846976.0 / st(ts(10))._2) < 1e-6)
    assert(st(ts(11)) === ((1L, st(ts(11))._2, 1.0)))
  }

  test("REAL STREAM: foreachBatch pipeline converges across late data") {
    val log = mkDir("log"); val mv = mkDir("mv")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val q = StreamingIvm.start(
      input.toDF().toDF("event_id", "ts", "event_type", "value"),
      mkDir("ckpt")) {
      (b, id) => StreamingIvm.ingestBatch(b.sparkSession, b, id, log, mv)
    }
    try {
      input.addData((1L, ts(10), "click", 1.0), (2L, ts(12), "click", 2.0))
      q.processAllAvailable()
      input.addData((3L, ts(11), "click", 4.0), // late, admitted
        (4L, ts(8), "click", 50.0)) // too late, dropped
      q.processAllAvailable()
      input.addData((5L, ts(12), "buy", 8.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(state(mv) === Map(
      (ts(10), "click") -> ((1L, 1.0)),
      (ts(11), "click") -> ((1L, 4.0)),
      (ts(12), "click") -> ((1L, 2.0)),
      (ts(12), "buy") -> ((1L, 8.0))))
  }
}
