package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Anomaly, TextAnalysis}

/** Batch-equivalence proofs for the streaming monitors: the same fixture
  * events fed through the stream (across several micro-batches, so state
  * genuinely carries over) must reproduce the batch operators' answers
  * row for row.
  */
class MonitorStreamSpec extends SparkSpec {
  import spark.implicits._

  // (event_id, user_id, tsSec, value): two users, in-order per key. User
  // 1 has 12 steady baseline points then a spike (id 113): with the
  // current row included in its own frame |z| tops out at (n-1)/sqrt(n),
  // so a flag at threshold 3 needs n >= 12 — the spike lands z ~ 3.3.
  private val zFixture: Seq[(Long, Long, Long, Double)] =
    (1 to 12).map(i =>
      (100L + i, 1L, 1000L * i, 10.0 + (i % 3) * 0.3 - 0.3)) ++ Seq(
      (113L, 1L, 13000L, 55.0), (114L, 1L, 14000L, 10.1),
      (201L, 2L, 1500L, 5.0), (202L, 2L, 2500L, 5.1), (203L, 2L, 3500L, 4.9),
      (204L, 2L, 4500L, 5.05), (205L, 2L, 5500L, 12.0)
    )

  private def zDF(rows: Seq[(Long, Long, Long, Double)]) =
    rows.toDF("event_id", "user_id", "tsSec", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("tsSec")).as("ts"), col("value"))

  test("streamed rolling z-score equals the batch window answer across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val windowMicros = 20000L * 1000000L // 20000 s trailing window

    val batch = Anomaly.rollingZ(zDF(zFixture), windowMicros).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Boolean])))).toMap

    val input = MemoryStream[(Long, Long, Long, Double)]
    val q = Monitors.rollingZStream(
        input.toDF().toDF("event_id", "user_id", "tsSec", "value")
          .select(col("event_id"), col("user_id"),
            timestamp_seconds(col("tsSec")).as("ts"), col("value")),
        windowMicros)
      .writeStream.format("memory").queryName("zmon")
      .outputMode("append").start()
    // three micro-batches — state must carry the trailing window across
    zFixture.grouped(5).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
    q.stop()

    val streamed = spark.table("zmon").collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Boolean])))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (id, got) =>
      assert(got === batch(id), s"event $id: stream $got vs batch ${batch(id)}")
    }
    // sanity: the planted spike actually flagged
    assert(streamed(113L)._2 === Some(true))
  }

  test("streamed KL drift monitor equals batch sourceDivergence after merges") {
    implicit val sqlCtx = spark.sqlContext
    val dims = 64
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma delta alpha"),
      (2L, "srcA", "alpha beta common words"),
      (3L, "srcB", "omega psi chi omega omega"),
      (4L, "srcB", "psi chi more words"),
      (5L, "srcA", "gamma delta alpha beta"),
      (6L, "srcB", "omega chi psi filler")
    )
    val outDir = suiteDir("divmon").toString

    val input = MemoryStream[(Long, String, String)]
    val q = Monitors.divergenceMonitor(
      input.toDF().toDF("doc_id", "source", "text"), outDir, dims)
    docs.grouped(2).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
    q.stop()

    val expect = TextAnalysis.sourceDivergence(
        docs.toDF("doc_id", "source", "text"), dims).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = spark.read.parquet(s"$outDir/kl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expect)
    // state really is the bounded count monoid, not raw documents
    val stateDir = Monitors.latestStateDir(spark, outDir).get
    val state = spark.read.parquet(stateDir)
    assert(state.columns.toSet === Set("source", "bucket", "s_cnt"))
    assert(state.count() <= 2L * dims)
    // replaying the last batch (a foreachBatch retry) must NOT
    // double-count: versioned state rebuilds from the same base
    val before = state.collect().map(r =>
      (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    Monitors.mergeDivergenceBatch(
      docs.grouped(2).toSeq.last.toDF("doc_id", "source", "text"),
      outDir, dims, batchId = 2L) // ids 0,1,2 were used by the stream
    val after = spark.read.parquet(Monitors.latestStateDir(spark, outDir).get)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(after === before)
    // un-checkpointed restart: batch ids reset to 0. Replaying batch 0
    // must prune the prior run's ABANDONED higher versions so
    // latestStateDir never serves stale state mid-replay.
    Monitors.mergeDivergenceBatch(
      docs.grouped(2).toSeq.head.toDF("doc_id", "source", "text"),
      outDir, dims, batchId = 0L)
    assert(Monitors.latestStateDir(spark, outDir).get.endsWith("state_v0"))
  }

  test("streamed span-hotspot monitor equals batch spanHotspots with eviction active") {
    implicit val sqlCtx = spark.sqlContext
    // Every doc repeats the same hot 3-gram ("spam spam spam" x2 in two
    // docs per batch); each doc also carries unique tail spans that churn
    // through the eviction floor. maxSpans = 6 < distinct spans, so the
    // heavy-hitter cut is genuinely exercised.
    val docs = Seq(
      (1L, "spam spam spam spam alpha beta"),
      (2L, "spam spam spam gamma delta"),
      (3L, "spam spam spam epsilon zeta"),
      (4L, "spam spam spam eta theta"),
      (5L, "spam spam spam iota kappa"),
      (6L, "spam spam spam lambda mu")
    )
    val outDir = suiteDir("spanmon").toString

    val input = MemoryStream[(Long, String)]
    val q = Monitors.spanHotspotMonitor(
      input.toDF().toDF("doc_id", "text"), outDir,
      n = 3, minDocs = 2, topN = 3, maxSpans = 6)
    docs.grouped(2).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
    q.stop()

    val expect = TextAnalysis.spanHotspots(
        docs.toDF("doc_id", "text"), n = 3, minDocs = 2, topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = spark.read.parquet(s"$outDir/hot").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (-t._2, -t._3, t._1))
    assert(got === expect)
    // state really is capped at maxSpans rows
    val state = spark.read.parquet(Monitors.latestStateDir(spark, outDir).get)
    assert(state.count() <= 6L)
    // a foreachBatch retry of the last batch must not double-count
    Monitors.mergeSpanBatch(
      docs.grouped(2).toSeq.last.toDF("doc_id", "text"),
      outDir, n = 3, minDocs = 2, topN = 3, maxSpans = 6, batchId = 2L)
    val replayed = spark.read.parquet(s"$outDir/hot").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (-t._2, -t._3, t._1))
    assert(replayed === expect)
  }

  test("streamed PSI drift monitor equals batch psiDrift exactly, any batch split") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val refVals = (1 to 100).map(i => (i.toDouble % 10))
    val curVals = (1 to 60).map(i => 5.0 + i % 8) // shifted right
    val ref = refVals.toDF("v")

    val pr = Monitors.psiReference(ref, "v", nBuckets = 5)
    assert(pr.binCounts.sum === 100L)
    val outDir = suiteDir("psimon").toString

    val input = MemoryStream[Double]
    val q = Monitors.psiDriftMonitor(
      input.toDF().toDF("v"), pr, "v", outDir)
    // uneven batch split: 7, 7, ..., remainder
    curVals.grouped(7).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
    q.stop()

    // bin counts are additive ⇒ stream report EQUALS the batch PSI
    val expect = graft.operators.Profile
      .psiDrift(ref, curVals.toDF("v"), "v", nBuckets = 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = spark.read.parquet(s"$outDir/psi").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expect)

    // state is the <= nBuckets-row count monoid
    val state = spark.read.parquet(Monitors.latestStateDir(spark, outDir).get)
    assert(state.columns.toSet === Set("bucket", "n_cur"))
    assert(state.count() <= 5L)
    // foreachBatch retry of the last batch must not double-count
    val lastId = curVals.grouped(7).size - 1L
    Monitors.mergePsiBatch(curVals.grouped(7).toSeq.last.toDF("v"),
      pr, "v", outDir, batchId = lastId)
    val replayed = spark.read.parquet(s"$outDir/psi").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(replayed === expect)
    // drift is actually detected on this shifted stream
    assert(expect.toSeq.map(_._4).sum > 0.1)
  }

  test("streaming contamination gate matches the batch contamination flag") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a totally unrelated document about spark plans"),
      (12L, "quick brown fox jumps over fences daily"),
      (13L, "words with no benchmark overlap at all here")
    ).toDF("doc_id", "text")
    val probes = Seq(
      (1L, "the quick brown fox jumps high")
    ).toDF("doc_id", "text")

    val grams = Monitors.probeGramSet(probes, n = 4)
    val batchFlagged = TextAnalysis.contamination(corpus, probes, n = 4)
      .collect().map(_.getLong(0)).toSet // docs sharing >= 1 distinct 4-gram

    val input = MemoryStream[(Long, String)]
    val q = Monitors.contaminationGate(
        input.toDF().toDF("doc_id", "text"), grams, n = 4)
      .writeStream.format("memory").queryName("cgate")
      .outputMode("append").start()
    corpus.collect().foreach(r => input.addData(r.getLong(0) -> r.getString(1)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("cgate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(streamed.size === 4)
    streamed.foreach { case (id, flag) =>
      assert(flag === batchFlagged.contains(id),
        s"doc $id: stream=$flag batch=${batchFlagged.contains(id)}")
    }
    assert(streamed(10L)) // shares "the quick brown fox" etc.
    assert(!streamed(11L))
  }
}
