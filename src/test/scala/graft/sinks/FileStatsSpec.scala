package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Data-skipping contract: commit-time footer stats are exact per file,
  * pruning is CONSERVATIVE under every predicate/type combination (the
  * pruned scan + real filter always equals the full scan + real filter),
  * and the stats lifecycle follows the generation lifecycle.
  */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._
  import FileStats._

  private def mkTable(): String =
    suiteDir("stats").resolve("t").toString

  private def fs(t: String) = new Path(t)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // 4 range-disjoint files over k = 0..399, v = k/10.0, s = "s%03d"
  private def clustered() = spark.range(400)
    .select(col("id").as("k"), (col("id") / 10.0).as("v"),
      format_string("s%03d", col("id")).as("s"))
    .repartitionByRange(4, col("k")).sortWithinPartitions("k")

  test("commit-time stats match the data exactly, per file") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k", "v", "s"))
    val c = Generations.writeAndCommit(spark, clustered(), t)
    val entries = FileStats.read(fs(t), new Path(t), c.gen).get
    assert(entries.size === 4)
    assert(entries.map(_.rows).sum === 400L)
    // ground truth per physical file from the data itself
    val truth = spark.read.parquet(Generations.genPath(t, c))
      .select(input_file_name().as("f"), col("k"), col("v"), col("s"))
      .groupBy("f").agg(min("k"), max("k"), min("v"), max("v"),
        min("s"), max("s"), count(lit(1)))
      .collect().map(r => r.getString(0).split("/").last ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getString(5), r.getString(6), r.getLong(7))).toMap
    entries.foreach { e =>
      val (kmin, kmax, vmin, vmax, smin, smax, n) = truth(e.file)
      assert(e.rows === n)
      assert(e.cols("k") === ColStats("long", 0, kmin.toString, kmax.toString))
      assert(e.cols("v").kind === "double")
      assert(e.cols("v").min.toDouble === vmin)
      assert(e.cols("v").max.toDouble === vmax)
      assert(e.cols("s") === ColStats("string", 0, smin, smax))
    }
  }

  test("pruned scan + real filter == full scan + real filter (ranges)") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k", "v", "s"))
    Generations.writeAndCommit(spark, clustered(), t)
    val full = Generations.readLog(spark, t).get
    // a grid of predicates spanning in-range, boundary, out-of-range
    val cases: Seq[(Seq[Pred], org.apache.spark.sql.Column)] = Seq(
      (Seq(Between("k", 120L, 180L)), col("k").between(120, 180)),
      (Seq(Ge("k", 399L)), col("k") >= 399),
      (Seq(Le("k", 0L)), col("k") <= 0),
      (Seq(Ge("k", 400L)), col("k") >= 400), // nothing matches
      (Seq(Between("v", 5.0, 7.5)), col("v").between(5.0, 7.5)),
      (Seq(Eq("v", 12.3)), col("v") === 12.3),
      (Seq(Between("s", "s100", "s199")), col("s").between("s100", "s199")),
      (Seq(Eq("s", "s250")), col("s") === "s250"),
      (Seq(Between("k", 100L, 150L), Ge("v", 12.0)),
        col("k").between(100, 150) && col("v") >= 12.0))
    cases.foreach { case (preds, realFilter) =>
      val pruned = Generations.readPruned(spark, t, preds).get
      assert(pruned.filter(realFilter).select("k").as[Long].collect().sorted
        .toSeq === full.filter(realFilter).select("k").as[Long].collect()
        .sorted.toSeq, s"divergence under $preds")
    }
    // effectiveness on the clustered column: a quarter-range box reads
    // one file of four
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Between("k", 120L, 180L))).get
    assert(total === 4 && kept.size < total,
      s"clustered range scan must skip files (kept ${kept.size}/$total)")
  }

  test("conservative under nulls; all-null columns prune entirely") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k", "v"))
    // file 0: k null mixed in; v entirely null
    val df = spark.range(100).select(
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("k"),
      lit(null).cast("double").as("v"))
    Generations.writeAndCommit(spark, df.coalesce(1), t)
    val full = Generations.readLog(spark, t).get
    // null-rejecting predicate on the mixed column: identical results
    val pruned = Generations.readPruned(spark, t, Seq(Ge("k", 50L))).get
    assert(pruned.filter(col("k") >= 50).count() ===
      full.filter(col("k") >= 50).count())
    // all-null column: any range predicate on it excludes the file
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Ge("v", 0.0))).get
    assert(total === 1 && kept.isEmpty,
      "an all-null column must prune its file for null-rejecting preds")
    val empty = Generations.readPruned(spark, t, Seq(Ge("v", 0.0))).get
    assert(empty.count() === 0L)
    assert(empty.schema.fieldNames.toSeq === full.schema.fieldNames.toSeq,
      "all-pruned scan keeps the live schema")
  }

  test("no declaration -> no stats file, pruning keeps everything") {
    val t = mkTable()
    val c = Generations.writeAndCommit(spark, clustered(), t)
    assert(FileStats.read(fs(t), new Path(t), c.gen).isEmpty)
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Ge("k", 99999L))).get
    assert(kept.size === total, "statless generations never prune")
  }

  test("log tables: per-commit stats, pruning across the whole span") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    // three appends with disjoint ranges, one file each
    Seq(0L until 100L, 100L until 200L, 200L until 300L)
      .zipWithIndex.foreach { case (r, i) =>
        Generations.appendCommitted(spark,
          r.toDF("k").coalesce(1), t, s"batch=$i")
      }
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Between("k", 150L, 160L))).get
    assert(total === 3 && kept.size === 1,
      s"one append's range admits the predicate (kept ${kept.size}/$total)")
    val got = Generations.readPruned(spark, t, Seq(Between("k", 150L, 160L)))
      .get.filter(col("k").between(150, 160)).as[Long].collect().sorted
    assert(got.toSeq === (150L to 160L))
  }

  test("timestamp columns prune in micros regardless of physical unit") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("ts"))
    val df = spark.range(48).select(
      expr("timestampadd(HOUR, cast(id AS int), timestamp'2024-01-01 00:00:00')").as("ts"))
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
    Generations.writeAndCommit(spark, df, t)
    val lo = tsMicros("2024-01-01T13:00:00")
    val hi = tsMicros("2024-01-01T20:00:00")
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Between("ts", lo, hi))).get
    assert(total === 4 && kept.size < total)
    val got = Generations.readPruned(spark, t, Seq(Between("ts", lo, hi)))
      .get.filter(col("ts").between("2024-01-01 13:00:00",
        "2024-01-01 20:00:00")).count()
    assert(got === 8L)
  }

  test("gc deletes stats files with their generations") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("v"))
    val c1 = Generations.writeAndCommit(spark, Seq(1.0).toDF("v"), t)
    val c2 = Generations.writeAndCommit(spark, Seq(2.0).toDF("v"), t)
    val c3 = Generations.writeAndCommit(spark, Seq(3.0).toDF("v"), t)
    Generations.gc(spark, t, keep = 2)
    val f = fs(t)
    assert(!f.exists(FileStats.statsPath(new Path(t), c1.gen)),
      "gc'd generation keeps no stats file")
    assert(f.exists(FileStats.statsPath(new Path(t), c2.gen)))
    assert(f.exists(FileStats.statsPath(new Path(t), c3.gen)))
    // orphan stats (gen dir gone, stats left) are swept once stale
    val orphan = FileStats.statsPath(new Path(t), "g99999999-dead")
    f.create(orphan, false).close()
    f.setTimes(orphan, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    Generations.gc(spark, t, keep = 2)
    assert(!f.exists(orphan), "stale orphan stats are gc debris")
    // a crash between stats-tmp create and publish leaks a dot-prefixed
    // .tmp that orphans() skips by design — gc sweeps it once stale
    val tmp = new Path(new Path(t, "_stats"), ".g99999999-dead.abcd1234.tmp")
    f.create(tmp, false).close()
    f.setTimes(tmp, System.currentTimeMillis() - 48L * 3600 * 1000, -1)
    Generations.gc(spark, t, keep = 2)
    assert(!f.exists(tmp), "stale in-flight stats tmp is gc debris")
  }

  test("a stats-collection failure degrades the commit, never aborts it") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    FileStats.collectFailpoint =
      _ => throw new java.io.IOException("injected footer failure")
    val c = try Generations.writeAndCommit(spark, clustered(), t)
    finally FileStats.collectFailpoint = _ => ()
    // the commit published despite the stats failure...
    assert(c.rows === 400L)
    assert(Generations.read(spark, t).get.count() === 400L)
    // ...with no stats file for the generation, so pruning keeps all
    assert(FileStats.read(fs(t), new Path(t), c.gen).isEmpty)
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Between("k", 0L, 9L))).get
    assert(total === 4 && kept.size === 4,
      "absent stats must keep every file")
    // the NEXT commit's stats collection works again
    val c2 = Generations.writeAndCommit(spark, clustered(), t)
    assert(FileStats.read(fs(t), new Path(t), c2.gen).nonEmpty)
  }

  test("pruning preserves the live schema under additive evolution") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.appendCommitted(spark,
      spark.range(10).select(col("id").as("k")), t, "batch=0")
    // the evolved column exists ONLY in the second generation; a k<5
    // prune keeps only gen-1 files, but the pruned frame must still
    // present the LIVE union schema (lang reads as null), exactly like
    // the unpruned readLog — pruning is a transparent optimization
    Generations.appendCommitted(spark,
      spark.range(100, 110).select(col("id").as("k"), lit("en").as("lang")),
      t, "batch=1")
    val full = Generations.readLog(spark, t).get
    val pruned = Generations.readPruned(spark, t, Seq(Le("k", 5L))).get
    assert(pruned.schema === full.schema,
      "pruned scan must present the live table schema")
    val got = pruned.filter(col("k") <= 5)
      .select(col("k"), col("lang")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === (0L to 5L).map(k => (k, None)).toSet)
    // and the all-pruned branch agrees (already did pre-fix)
    val none = Generations.readPruned(spark, t, Seq(Le("k", -1L))).get
    assert(none.schema === full.schema && none.count() === 0L)
  }

  test("z-order layout + 2-D box predicate prunes multiplicatively") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("x", "y"))
    // 64x64 grid, 16 files: z-clustered files cover ~16x16 tiles, so a
    // 12x12 box touches a few; the same data sorted linearly by x alone
    // admits every file on a y-only constraint
    val grid = spark.range(64L * 64).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    Generations.writeAndCommit(spark,
      Layout.zOrdered(grid, Seq("x", "y"), numFiles = 16, bitsPerCol = 6), t)
    val box = Seq(Between("x", 10L, 21L), Between("y", 30L, 41L))
    val (kept, total) = Generations.prunePlan(spark, t, box).get
    assert(total === 16 && kept.size <= 6,
      s"z-layout box scan must skip most files (kept ${kept.size}/$total)")
    val got = Generations.readPruned(spark, t, box).get
      .filter(col("x").between(10, 21) && col("y").between(30, 41)).count()
    assert(got === 144L)
  }

  test("dynamic file pruning from a filtered dimension's keys") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.writeAndCommit(spark, clustered(), t)
    val full = Generations.readLog(spark, t).get
    // two keys in one file's range: one file kept, join values equal
    val dim = Seq(42L, 57L).toDF("key")
    val pruned = Generations.readPrunedByKeys(spark, t, "k", dim).get
    val a = pruned.join(dim, pruned("k") === dim("key"))
      .select("k").as[Long].collect().sorted
    val b = full.join(dim, full("k") === dim("key"))
      .select("k").as[Long].collect().sorted
    assert(a.toSeq === b.toSeq && a.length === 2)
    assert(pruned.select(input_file_name()).distinct().count() === 1L,
      "two nearby keys must plan a single file")
    // keys straddling a GAP: the exact In set skips the middle files
    // the min/max range alone would admit
    val gap = Seq(50L, 350L).toDF("key")
    val gapPruned = Generations.readPrunedByKeys(spark, t, "k", gap).get
    assert(gapPruned.select(input_file_name()).distinct().count() === 2L,
      "the In set must skip the straddled middle files")
    // a dim past maxKeys falls back to the range only (conservative)
    val wide = spark.range(400).select(col("id").as("key"))
    val widePruned = Generations.readPrunedByKeys(spark, t, "k", wide,
      maxKeys = 10).get
    assert(widePruned.count() === full.count())
    // an empty (fully filtered) dim prunes everything, schema kept
    val none = Generations.readPrunedByKeys(spark, t, "k",
      dim.filter(col("key") < 0)).get
    assert(none.count() === 0L &&
      none.schema.fieldNames.toSeq === full.schema.fieldNames.toSeq)
  }

  test("maintenance folds re-collect stats: pruning works post-squash") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    (0 to 3).foreach { i =>
      Generations.appendCommitted(spark,
        (i * 100L until (i + 1) * 100L).toDF("k").coalesce(1), t,
        s"batch=$i")
    }
    // the fold rides writeAndCommit, so the squashed generation gets
    // fresh stats with zero per-site code — and clusterBy folds restore
    // per-file locality for the pruner
    Generations.maintain(spark, t, Generations.MaintenancePolicy(
      squashAfterCommits = 2, targetBytes = 4096))
    val cs = Generations.logCommits(spark, t)
    assert(cs.size === 1, "maintain must fold the span")
    assert(FileStats.read(fs(t), new Path(t), cs.head.gen).isDefined,
      "the folded generation must carry stats")
    val (kept, total) = Generations.prunePlan(spark, t,
      Seq(Between("k", 0L, 10L))).get
    assert(kept.size < total || total == 1,
      s"post-fold pruning must still bite (kept ${kept.size}/$total)")
    val got = Generations.readPruned(spark, t, Seq(Between("k", 0L, 10L)))
      .get.filter(col("k") <= 10).as[Long].collect().sorted
    assert(got.toSeq === (0L to 10L))
  }

  test("stats persistence roundtrips adversarial strings exactly") {
    val t = mkTable()
    val f = fs(t)
    f.mkdirs(new Path(t))
    // min/max carrying every separator the format uses: spaces,
    // newlines, tabs, unicode, URL-escape metacharacters, empty-ish
    val entries = Seq(
      FileStats.FileEntry("part-00000-x.parquet", 7, Map(
        "s" -> FileStats.ColStats("string", 0,
          java.net.URLEncoder.encode("a b\tc\nd", "UTF-8"),
          java.net.URLEncoder.encode("z%20+&=日本語", "UTF-8")),
        "k" -> FileStats.ColStats("long", 2, "-9", "42"),
        "v" -> FileStats.ColStats("none", 7, "", ""))),
      FileStats.FileEntry("part-00001 y.parquet", 0, Map(
        "u" -> FileStats.ColStats("unk", -1, "", ""))))
    FileStats.write(f, new Path(t), "g00000001-test", entries)
    val back = FileStats.read(f, new Path(t), "g00000001-test").get
    assert(back.toSet === entries.toSet)
    // and the decoded string bounds compare correctly after the trip
    val e = back.find(_.file == "part-00000-x.parquet").get
    assert(FileStats.mightMatch(e, FileStats.Eq("s", "mmm")))
    assert(!FileStats.mightMatch(e, FileStats.Eq("s", "ÿÿ")))
    // a torn/corrupt stats file reads as None (keep everything)
    val p = FileStats.statsPath(new Path(t), "g00000002-torn")
    val out = f.create(p, false)
    out.write("part-x 3 k long".getBytes("UTF-8")); out.close()
    // short lines are skipped; a file of only short lines = no entries,
    // which the pruner treats as stats-absent for those files
    assert(FileStats.read(f, new Path(t), "g00000002-torn")
      .forall(_.isEmpty))
  }

  test("randomized conservativeness: pruned+filter == full+filter") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k", "v"))
    val rnd = new scala.util.Random(1234)
    val rows = Seq.fill(500)((
      if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(1000).toLong),
      if (rnd.nextInt(10) == 0) null else Double.box(rnd.nextDouble() * 100)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 5),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    Generations.writeAndCommit(spark, df, t)
    val full = Generations.readLog(spark, t).get
    (1 to 25).foreach { _ =>
      val lo = rnd.nextInt(1200).toLong - 100
      val hi = lo + rnd.nextInt(400)
      val vlo = rnd.nextDouble() * 120 - 10
      val preds = Seq(Between("k", lo, hi), Ge("v", vlo))
      val realFilter = col("k").between(lo, hi) && col("v") >= vlo
      val a = Generations.readPruned(spark, t, preds).get
        .filter(realFilter).count()
      val b = full.filter(realFilter).count()
      assert(a === b, s"divergence at k in [$lo,$hi], v >= $vlo")
    }
  }
}
