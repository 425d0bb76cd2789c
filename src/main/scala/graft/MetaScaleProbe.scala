package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.{FileStats, Generations}

/** Offline probe for the distributed-metadata-planning claim (r17
  * VERDICT #1): build a Generations table with ~10k committed parquet
  * files, then plan the same range prune (a) through the classic driver
  * loop and (b) through the committed metadata checkpoint, reporting
  * wall times, the driver-work counters (per-gen listStatus + sidecar
  * parses — the O(total files) component), and plan equality. Wall
  * times are host-weather; the COUNTERS are the structural evidence
  * (SCALING.md discipline).
  *
  * Usage: runMain graft.MetaScaleProbe [workDir] [nCommits] [filesPer]
  *        (default 40 commits x 256 files = 10240 files)
  */
object MetaScaleProbe {
  def main(args: Array[String]): Unit = {
    val work = if (args.length > 0) args(0) else "var/metaprobe"
    val nCommits = if (args.length > 1) args(1).toInt else 40
    val filesPer = if (args.length > 2) args(2).toInt else 256
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tab = s"$work/t${System.nanoTime()}"
    Generations.setStatsCols(spark, tab, Seq("k"))
    val t0 = System.nanoTime()
    // commit-file opens are the commit cache's misses: every append walks
    // the commit log several times (witness check, latest, carried tags);
    // with the create-only parse cache each commit FILE is opened once, so
    // the build's total opens are O(nCommits), not O(nCommits²)
    val cfr0 = Generations.commitCache.misses
    (0 until nCommits).foreach { i =>
      val lo = i.toLong * 100000L
      val df = spark.range(lo, lo + 100000L)
        .select(col("id").as("k"), (col("id") % 97).as("v"))
        .repartitionByRange(filesPer, col("k")).sortWithinPartitions("k")
      if (i == 0) Generations.writeAndCommit(spark, df, tab)
      else Generations.appendCommitted(spark, df, tab, s"batch=$i")
    }
    val buildS = (System.nanoTime() - t0) / 1e9
    val cfrBuild = Generations.commitCache.misses - cfr0
    val preds = Seq(FileStats.Between("k", 1000000L, 1005000L))

    def measure(label: String): (Double, Long, Long, Seq[String], Int) = {
      val l0 = Generations.planListCalls.get
      val r0 = FileStats.readCalls.get
      val s = System.nanoTime()
      val (kept, total) = Generations.prunePlan(spark, tab, preds).get
      val w = (System.nanoTime() - s) / 1e9
      (w, Generations.planListCalls.get - l0, FileStats.readCalls.get - r0,
        kept.map(_.toString).sorted, total)
    }

    spark.conf.set(Generations.MetaDialMinFilesKey, Long.MaxValue.toString)
    val (wDrv, lDrv, rDrv, keptDrv, totDrv) = measure("driver")
    val c0 = System.nanoTime()
    val ck = Generations.checkpointMeta(spark, tab).get
    val ckS = (System.nanoTime() - c0) / 1e9
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    // twice: first pays the parquet-footer read of the checkpoint,
    // second shows the steady serving pattern
    val (wMeta1, lM1, rM1, keptM1, totM1) = measure("meta-cold")
    val (wMeta2, lM2, rM2, _, _) = measure("meta-warm")
    val equal = keptDrv == keptM1 && totDrv == totM1
    println(
      s"""{"metric":"meta_plan_probe","files":$totDrv,"commits":$nCommits,""" +
      s""""build_s":${f"$buildS%.1f"},"commit_file_reads_build":$cfrBuild,""" +
      s""""checkpoint_s":${f"$ckS%.1f"},""" +
      s""""driver_plan_s":${f"$wDrv%.3f"},"driver_listings":$lDrv,"driver_sidecar_parses":$rDrv,""" +
      s""""meta_plan_cold_s":${f"$wMeta1%.3f"},"meta_plan_warm_s":${f"$wMeta2%.3f"},""" +
      s""""meta_listings":${lM1 + lM2},"meta_sidecar_parses":${rM1 + rM2},""" +
      s""""kept":${keptM1.size},"plans_equal":$equal}""")
    require(equal, "meta plan must equal the driver plan")
    require(lM1 + lM2 == 0 && rM1 + rM2 == 0,
      "meta plan must do zero per-file driver work")

    // ---- BLOOM tier (r18 VERDICT #1): checkpointed blooms must plan
    // with ZERO driver sidecar parses, on both probe paths, and the
    // kept set must equal the driver path's. Smaller build (blooms are
    // built at commit — one distributed pass per commit) but the same
    // structural counters.
    val bCommits = math.max(4, nCommits / 4)
    val bFiles = math.max(8, filesPer / 4)
    val btab = s"$work/b${System.nanoTime()}"
    // fpp auto-dial: declare the EXPECTED PROBE CARDINALITY (the 2000-
    // key broadcast probe below) instead of a per-key fpp
    Generations.setBloomColsForProbes(spark, btab, Seq("k"),
      expectedProbes = 2000L)
    val bFpp = Generations.getBloomCols(spark, btab)._2
    val b0 = System.nanoTime()
    (0 until bCommits).foreach { i =>
      // sparse keys (stride 1000): every file's [min,max] straddles any
      // probe range, so ONLY the bloom tier can prune
      val lo = i.toLong * 1000000L
      val df = spark.range(lo / 1000L, lo / 1000L + 10000L)
        .select((col("id") * 1000L).as("k"), (col("id") % 97).as("v"))
        .repartition(bFiles)
      if (i == 0) Generations.writeAndCommit(spark, df, btab)
      else Generations.appendCommitted(spark, df, btab, s"batch=$i")
    }
    val bBuildS = (System.nanoTime() - b0) / 1e9
    val bc0 = System.nanoTime()
    Generations.checkpointMeta(spark, btab).get
    val bCkS = (System.nanoTime() - bc0) / 1e9
    // probe keys that DON'T exist (off-stride): blooms prune everything
    import spark.implicits._
    val dimExact = (0 until 64).map(i => i * 7919L + 13L).toDF("k")
    val dimBig = (0 until 2000).map(i => i * 7919L + 13L).toDF("k")
    def measureKeys(dim: org.apache.spark.sql.DataFrame)
        : (Double, Long, Long, Seq[String], Int) = {
      val l0 = Generations.planListCalls.get
      val r0 = graft.sinks.BloomStats.readCache.misses
      val s = System.nanoTime()
      val (kept, total) =
        Generations.prunePlanByKeys(spark, btab, "k", dim).get
      val w = (System.nanoTime() - s) / 1e9
      (w, Generations.planListCalls.get - l0,
        graft.sinks.BloomStats.readCache.misses - r0,
        kept.map(_.toString).sorted, total)
    }
    spark.conf.set(Generations.MetaDialMinFilesKey, Long.MaxValue.toString)
    val (wBd, _, rBd, keptBd, totBd) = measureKeys(dimExact)
    val (wBbd, _, rBbd, keptBbd, _) = measureKeys(dimBig)
    spark.conf.set(Generations.MetaDialMinFilesKey, "0")
    val (wBm, lBm, rBm, keptBm, totBm) = measureKeys(dimExact)
    val (wBbm, lBbm, rBbm, keptBbm, _) = measureKeys(dimBig)
    val bEqual = keptBd == keptBm && totBd == totBm && keptBbd == keptBbm
    println(
      s"""{"metric":"meta_bloom_probe","files":$totBd,"commits":$bCommits,""" +
      s""""fpp_dialed":$bFpp,"build_s":${f"$bBuildS%.1f"},""" +
      s""""checkpoint_s":${f"$bCkS%.1f"},""" +
      s""""driver_exact_s":${f"$wBd%.3f"},"driver_bloom_parses":${rBd + rBbd},""" +
      s""""driver_bcast_s":${f"$wBbd%.3f"},""" +
      s""""meta_exact_s":${f"$wBm%.3f"},"meta_bcast_s":${f"$wBbm%.3f"},""" +
      s""""meta_listings":${lBm + lBbm},"meta_bloom_parses":${rBm + rBbm},""" +
      s""""kept_exact":${keptBm.size},"kept_bcast":${keptBbm.size},""" +
      s""""total":$totBm,"plans_equal":$bEqual}""")
    require(bEqual, "bloom meta plan must equal the driver plan")
    require(rBm + rBbm == 0 && lBm + lBbm == 0,
      "checkpointed bloom refine must parse no sidecar on the driver")
    // off-stride keys prune ~everything; the dialed fpp admits ~0.16%
    // false-positive survival per file on the 64-key probe (that is the
    // declared miss budget, deterministic per build — not flake)
    require(keptBm.size <= totBm / 16,
      s"off-stride probe keys must bloom-prune (kept ${keptBm.size}/$totBm)")
    spark.stop()
  }
}
