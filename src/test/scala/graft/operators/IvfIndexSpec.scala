package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Generations

/** The persistent IVF index's lifecycle contract: build+query ≡ the
  * in-plan operator, incremental upsert (visible, exactly-once under
  * replay), optimize (invariant results, restored cell clustering with
  * real file-pruning evidence).
  */
class IvfIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def embs = spark.read.parquet(s"$sf/embeddings.parquet")

  private def mkDir(): String =
    suiteDir("ivfidx").resolve("idx").toString

  test("build once + query ≡ the in-plan ivfTopKProbe") {
    val dir = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, dir)
    val fromIndex = IvfIndex.topK(spark, dir, queryId = 0L, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val inPlan = Similarity.ivfTopKProbe(embs, queryId = 0L, k = 10,
        nCells = 16, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(fromIndex === inPlan,
      "persisted quantizer+postings must reproduce the in-plan result")
  }

  test("topKVec serves an external query vector (not an indexed row)") {
    import spark.implicits._
    val dir = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, dir)
    val v0 = embs.filter(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].collect().head
    val got = IvfIndex.topKVec(spark, dir, v0, k = 11, nProbe = 2).collect()
    // the indexed copy of the same vector ranks first at cosine 1.0 ...
    assert(got.head.getLong(0) === 0L && got.head.getDouble(2) === 1.0)
    // ... and the rest is exactly the by-id search's answer
    val byId = IvfIndex.topK(spark, dir, queryId = 0L, k = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got.tail.map(_.getLong(0)).toSeq === byId)
  }

  test("topKVecPruned ≡ topKVec, reading only the probed cells' files") {
    import spark.implicits._
    val dir = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, dir, numFiles = 8)
    val v0 = embs.filter(col("vec_id") === 7L)
      .select("embedding").as[Seq[Float]].collect().head
    val full = IvfIndex.topKVec(spark, dir, v0, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val pruned = IvfIndex.topKVecPruned(spark, dir, v0, k = 10, nProbe = 2)
    assert(pruned.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      === full)
    // file-level evidence READ FROM THE PRUNE PLAN (a distinct-file
    // count over the post-filter result is vacuous — the cell filter
    // restricts rows to the probed cells even on an unpruned scan):
    // 2 probed cells over 8 cluster-sorted files keep a strict subset
    val cells = IvfIndex.probeCells(spark, dir, v0, nProbe = 2)
    val (kept, total) = IvfIndex.prunedPostingsPlan(spark, dir, cells)
    assert(total === 8 && kept < total,
      s"pruned serving plan must skip postings files ($kept/$total)")
    // upsert deltas (wide cell range, statless clustering) stay
    // conservative: results still identical after an append
    IvfIndex.upsert(spark, dir, embs.filter(col("vec_id") >= 450L)
      .withColumn("vec_id", col("vec_id") + 1000L), "b=1")
    val afterUp = IvfIndex.topKVecPruned(spark, dir, v0, k = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    val afterUpFull = IvfIndex.topKVec(spark, dir, v0, k = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(afterUp === afterUpFull)
  }

  test("serveTopKVec auto-dials pruned vs in-plan by postings file count") {
    import spark.implicits._
    val v0 = embs.filter(col("vec_id") === 7L)
      .select("embedding").as[Seq[Float]].collect().head
    // SMALL index (4 files ≤ 2×nProbe): driver-side stats planning
    // exceeds the saved scan (measured at 2k vectors, SCALING.md r16)
    // — the dial picks the in-plan scan
    val small = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, small, numFiles = 4)
    assert(!IvfIndex.usePrunedServing(spark, small, nProbe = 2))
    // LARGE-enough index (8 files > 2×nProbe): the dial picks the
    // stats-pruned scan
    val big = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, big, numFiles = 8)
    assert(IvfIndex.usePrunedServing(spark, big, nProbe = 2))
    // one entrypoint, same answer at both scales
    val expect = IvfIndex.topKVec(spark, big, v0, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(IvfIndex.serveTopKVec(spark, small, v0, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq === expect)
    assert(IvfIndex.serveTopKVec(spark, big, v0, k = 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq === expect)
  }

  test("maintain auto-folds the upsert pile-up once the span exceeds the dial") {
    import spark.implicits._
    val dir = mkDir()
    IvfIndex.build(spark, embs.filter(col("vec_id") < 400), nCells = 16,
      dir, numFiles = 8)
    val v0 = embs.filter(col("vec_id") === 7L)
      .select("embedding").as[Seq[Float]].collect().head
    // two deltas: span = 3 commits, within the dial → maintain no-ops
    IvfIndex.upsert(spark, dir, embs.filter(col("vec_id").between(400, 449)),
      "b=1")
    IvfIndex.upsert(spark, dir, embs.filter(col("vec_id").between(450, 499)),
      "b=2")
    assert(IvfIndex.maintain(spark, dir, maxSpanCommits = 3).isEmpty)
    val before = IvfIndex.topKVec(spark, dir, v0, k = 10, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // a third delta pushes the span past the dial → the fold runs,
    // restores a single cell-clustered generation, preserves results
    IvfIndex.upsert(spark, dir, embs.filter(col("vec_id") === 7L)
      .withColumn("vec_id", col("vec_id") + 5000L), "b=3")
    assert(IvfIndex.maintain(spark, dir, maxSpanCommits = 3,
      numFiles = 8).nonEmpty)
    assert(graft.sinks.Generations.logCommits(spark,
      IvfIndex.postingsTable(dir)).size === 1)
    // the folded index serves the same corpus: the b=3 twin of vec 7
    // joins at cosine 1.0, so the top-11 minus the twin is exactly the
    // pre-fold top-10
    val after = IvfIndex.topKVec(spark, dir, v0, k = 11, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(after.filter(_._1 != 5007L) === before)
  }

  test("upsert assigns only the new batch; replay is a no-op") {
    import spark.implicits._
    val dir = mkDir()
    val base = embs.filter(col("vec_id") % 10 =!= 9)
    IvfIndex.build(spark, base, nCells = 16, dir)
    val nBase = IvfIndex.postings(spark, dir).get.count()
    val fresh = embs.filter(col("vec_id") % 10 === 9)
    assert(IvfIndex.upsert(spark, dir, fresh, "batch=1").isDefined)
    val post = IvfIndex.postings(spark, dir).get
    assert(post.count() === nBase + fresh.count())
    // new vectors are queryable without any rebuild
    val newIds = fresh.select("vec_id").as[Long].collect().toSet
    val hits = IvfIndex.topK(spark, dir, queryId = 9L, k = 5, nProbe = 16)
      .select("vec_id").as[Long].collect()
    assert(hits.nonEmpty)
    // replay of the same batch tag: durable no-op
    assert(IvfIndex.upsert(spark, dir, fresh, "batch=1").isEmpty)
    assert(IvfIndex.postings(spark, dir).get.count() === nBase + fresh.count())
    // upserted assignments agree with a from-scratch assignment against
    // the same persisted centroids (the oracle-gated math)
    val cents = IvfIndex.centroids(spark, dir).get
    val expect = Similarity.assignCellsTo(fresh, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    val got = post.filter(col("vec_id").isin(newIds.toSeq.map(Long.box): _*))
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(got === expect)
  }

  test("topKBatch ≡ union of single-query searches, one postings scan") {
    val dir = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, dir)
    val ids = Seq(0L, 11L, 23L)
    val queries = embs.filter(col("vec_id").isin(ids.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val batch = IvfIndex.topKBatch(spark, dir, queries, k = 10, nProbe = 2,
      excludeSelf = true)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    // ids ascending matches the batch's (query_id, cosine DESC, vec_id) order
    val singles = ids.flatMap { id =>
      IvfIndex.topK(spark, dir, id, k = 10, nProbe = 2)
        .collect().map(r => (id, r.getLong(0), r.getDouble(2))).toSeq
    }
    assert(got === singles,
      "batch search must equal the union of per-query searches")
    // the whole batch reads the postings ONCE (the looped form reads |Q|×).
    // Scans are matched on their root paths in AQE's final plan: the plan
    // string abbreviates a long scan location before its `/postings/`.
    val postingsScans = new AdaptiveSparkPlanHelper {}
      .collect(batch.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/postings/")) => s
      }.size
    assert(postingsScans === 1,
      s"expected exactly one postings scan, got $postingsScans")
  }

  test("topKBatch auto-dials: a large index file-prunes the batch scan") {
    import spark.implicits._
    val big = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, big, numFiles = 8)
    assert(IvfIndex.usePrunedServing(spark, big, nProbe = 2))
    val ids = Seq(0L, 11L, 23L)
    val queries = embs.filter(col("vec_id").isin(ids.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // the union of the batch's probed cells keeps a strict file subset
    // (plan-level evidence, same discipline as the single-vector test)
    val cents = IvfIndex.centroids(spark, big).get
    val cells = Similarity.batchProbedCells(cents, queries, nProbe = 2)
      .as[Long].collect().toSeq
    val (kept, total) = IvfIndex.prunedPostingsPlan(spark, big, cells)
    assert(total === 8 && kept < total,
      s"the batched prune plan must skip postings files ($kept/$total)")
    // dialed batch ≡ the in-plan batch
    val expect = Similarity.ivfBatchTopK(IvfIndex.postings(spark, big).get,
        cents, queries, k = 10, nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val got = IvfIndex.topKBatch(spark, big, queries, k = 10, nProbe = 2,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got === expect)
    // below the dial the batch stays on the in-plan scan, same answer
    val small = mkDir()
    IvfIndex.build(spark, embs, nCells = 16, small, numFiles = 4)
    assert(!IvfIndex.usePrunedServing(spark, small, nProbe = 2))
    val gotSmall = IvfIndex.topKBatch(spark, small, queries, k = 10,
        nProbe = 2, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(gotSmall === expect)
  }

  test("optimize folds deltas, preserves results, restores cell pruning") {
    val dir = mkDir()
    val base = embs.filter(col("vec_id") % 10 =!= 9)
    IvfIndex.build(spark, base, nCells = 16, dir, numFiles = 4)
    IvfIndex.upsert(spark, dir, embs.filter(col("vec_id") % 10 === 9),
      "batch=1")
    val before = IvfIndex.topK(spark, dir, 0L, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    val c = IvfIndex.optimize(spark, dir, numFiles = 4).get
    assert(c.tag === "-")
    val after = IvfIndex.topK(spark, dir, 0L, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(after === before, "optimize must not change query results")
    // replay protection survives the fold (carried witness)
    assert(IvfIndex.upsert(spark, dir,
      embs.filter(col("vec_id") % 10 === 9), "batch=1").isEmpty)
    // pruning evidence: with postings range-clustered by cell, a
    // one-cell predicate emits only the matching row groups from the
    // scan (min/max skipping), not the whole table — the same metric
    // LayoutSkippingSpec uses (numFiles reflects only partition pruning)
    val post = IvfIndex.postings(spark, dir).get
    val total = post.count()
    val oneCell = post.filter(col("cell") === 0)
    oneCell.collect()
    val scan = oneCell.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned < total / 2,
      s"cell-clustered scan should skip row groups: scanned $scanned of $total")
  }
}
