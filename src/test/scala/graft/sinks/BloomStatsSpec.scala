package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bloom-tier skipping contract (the third DFP tier): a file whose
  * committed bloom contains NONE of the probe keys prunes even when its
  * [min, max] straddles every key — and every degradation path (no
  * bloom, corrupt sidecar, unsupported type, huge key set) keeps files,
  * never drops a match. The pruned join always equals the full join.
  */
class BloomStatsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String =
    suiteDir("bloom").resolve("t").toString

  private def fs(t: String) = new Path(t)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // 4 range-disjoint files over EVEN keys 0,2,…,798 — every odd probe
  // key falls inside some file's [min, max] but is present in none
  private def evens() = spark.range(400)
    .select((col("id") * 2).as("k"), (col("id") % 7).as("v"))
    .repartitionByRange(4, col("k")).sortWithinPartitions("k")

  private def commitEvens(t: String): Unit = {
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.setBloomCols(spark, t, Seq("k"), fpp = 1e-6)
    Generations.writeAndCommit(spark, evens(), t)
  }

  test("bloom prunes what the range and exact-key tiers cannot") {
    val t = mkTable()
    commitEvens(t)
    // probe keys: present evens in file 0's range + absent ODDS spread
    // across files 1-3's ranges — the range tier keeps all 4 files
    // ([0, 798] straddles everything) and the exact-key In tier ALSO
    // keeps files 1-3 (their [min,max] contains the odd probes); only
    // the bloom knows the odds are absent
    val keys = ((0L to 98L by 2L) ++ Seq(301L, 403L, 505L, 607L, 709L))
      .toDF("k")
    // driver-side branch (key set ≤ maxKeys)
    val (kept, total) = Generations.prunePlanByKeys(spark, t, "k", keys).get
    assert(total === 4 && kept.size === 1,
      s"bloom must prune the straddled-but-absent files (${kept.size}/$total)")
    // distributed branch (maxKeys forced below the key count): same plan
    val (keptD, totalD) =
      Generations.prunePlanByKeys(spark, t, "k", keys, maxKeys = 4).get
    assert(totalD === 4 && keptD.map(_.getName).toSet
      === kept.map(_.getName).toSet,
      "distributed bloom probe must agree with the driver-side probe")
    // conservative: pruned scan + real join ≡ full scan + real join
    val pruned = Generations.readPrunedByKeys(spark, t, "k", keys).get
      .join(keys, "k").agg(count(lit(1)), sum(col("k"))).head()
    val full = Generations.readLog(spark, t).get
      .join(keys, "k").agg(count(lit(1)), sum(col("k"))).head()
    assert(pruned === full)
    assert(pruned.getLong(0) === 50L)
  }

  test("files without blooms are always kept (older gens, absence, corruption)") {
    val t = mkTable()
    // FIRST commit before blooms are declared: gen-1 files have none
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.appendCommitted(spark, evens(), t, "batch=0")
    Generations.setBloomCols(spark, t, Seq("k"), fpp = 1e-6)
    Generations.appendCommitted(spark,
      spark.range(400).select((col("id") * 2 + 1000L).as("k"),
        (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      t, "batch=1")
    // probe keys absent EVERYWHERE, one per file's range in both gens
    // (mid-quarter positions, safe against range-boundary wobble):
    // gen-1 (bloomless) keeps all 4 files, gen-2 prunes all 4
    val keys = Seq(101L, 301L, 501L, 701L, 1101L, 1301L, 1501L, 1701L)
      .toDF("k")
    val (kept, total) = Generations.prunePlanByKeys(spark, t, "k", keys).get
    assert(total === 8 && kept.size === 4,
      s"bloomless gen keeps, bloomed gen prunes (${kept.size}/$total)")
    assert(kept.forall(_.getParent.getName ==
      kept.head.getParent.getName), "all kept files are the bloomless gen's")
    // corrupt the gen-2 sidecar: reads as None, everything kept again
    val gen2 = Generations.logCommits(spark, t).last.gen
    val f = fs(t)
    val bp = BloomStats.bloomPath(new Path(t), gen2)
    f.delete(bp, false)
    val out = f.create(bp, true)
    out.write("not a bloom sidecar".getBytes("UTF-8")); out.close()
    val (keptC, _) = Generations.prunePlanByKeys(spark, t, "k", keys).get
    assert(keptC.size === 8, "corrupt sidecar must degrade to keep-all")
  }

  test("string keys bloom; unsupported (double) columns record no bloom") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("s"))
    Generations.setBloomCols(spark, t, Seq("s", "d"), fpp = 1e-6)
    Generations.writeAndCommit(spark, spark.range(400)
      .select(format_string("k%05d", col("id") * 2).as("s"),
        (col("id") / 10.0).as("d"))
      .repartitionByRange(4, col("s")).sortWithinPartitions("s"), t)
    val gen = Generations.logCommits(spark, t).head.gen
    val blooms = BloomStats.read(fs(t), new Path(t), gen).get
    assert(blooms.keys.forall(_._2 == "s"),
      "a double column must carry NO bloom (partial blooms would lie)")
    // absent odd strings inside the files' ranges prune via the bloom
    val keys = Seq("k00301", "k00403", "k00505").toDF("s")
    val (kept, total) = Generations.prunePlanByKeys(spark, t, "s", keys).get
    assert(total === 4 && kept.isEmpty,
      s"string bloom must prune absent-but-straddled keys (${kept.size}/$total)")
  }

  test("cross-domain probes keep files (no false negatives from sloppy key types)") {
    val t = mkTable()
    commitEvens(t) // LONG-domain blooms over k = 0,2,…,798
    // STRING probe values: putString("42") and mightContainLong(42)
    // hash differently — a naive probe would read PRESENT longs as
    // absent and prune matching files. The domain tag keeps them all.
    val strKeys = Seq("42", "100", "301").toDF("k")
    val (kept, total) = Generations.prunePlanByKeys(spark, t, "k", strKeys).get
    assert(total === 4 && kept.size === 4,
      s"string probes against long-domain blooms must keep every file " +
        s"(${kept.size}/$total)")
    // same-domain probes still prune as before
    val (keptL, _) = Generations.prunePlanByKeys(spark, t, "k",
      Seq(301L, 403L).toDF("k")).get
    assert(keptL.isEmpty)
  }

  test("bloom sidecars follow the generation lifecycle (gc)") {
    val t = mkTable()
    Generations.setBloomCols(spark, t, Seq("v"), fpp = 1e-4)
    val c1 = Generations.writeAndCommit(spark, Seq(1L).toDF("v"), t)
    val c2 = Generations.writeAndCommit(spark, Seq(2L).toDF("v"), t)
    val c3 = Generations.writeAndCommit(spark, Seq(3L).toDF("v"), t)
    val f = fs(t)
    val tp = new Path(t)
    assert(f.exists(BloomStats.bloomPath(tp, c3.gen)))
    Generations.gc(spark, t, keep = 2)
    assert(!f.exists(BloomStats.bloomPath(tp, c1.gen)),
      "gc'd generation keeps no bloom sidecar")
    assert(f.exists(BloomStats.bloomPath(tp, c2.gen)))
    // stale orphan sidecar + stale in-flight tmp are swept
    val orphan = BloomStats.bloomPath(tp, "g99999999-dead")
    val tmp = new Path(BloomStats.bloomDir(tp), ".g99999999-dead.ab12cd34.tmp")
    f.create(orphan, false).close()
    f.create(tmp, false).close()
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    f.setTimes(orphan, old, -1)
    f.setTimes(tmp, old, -1)
    Generations.gc(spark, t, keep = 2)
    assert(!f.exists(orphan) && !f.exists(tmp),
      "stale bloom orphans and tmp debris are gc'd")
  }

  test("fpp auto-dial: expected probe cardinality drives the declared fpp") {
    // survival math: 1 − (1 − fpp)^K ≤ miss ⇒ fpp = miss/K (clamped)
    assert(Generations.fppForProbes(1000L) === 5e-5)
    assert(Generations.fppForProbes(10L, missRate = 0.01) === 1e-3)
    assert(Generations.fppForProbes(1L) === 1e-2, "clamped high")
    assert(Generations.fppForProbes(1000000000L) === 1e-7, "clamped low")
    intercept[IllegalArgumentException] {
      Generations.fppForProbes(0L)
    }
    // the declaration writes the DERIVED fpp plus the cardinality, and
    // both read back (old per-key pointers still parse: no cardinality)
    val t = mkTable()
    Generations.setBloomColsForProbes(spark, t, Seq("k"),
      expectedProbes = 10000L)
    assert(Generations.getBloomCols(spark, t) === ((Seq("k"), 5e-6)))
    assert(Generations.getBloomProbes(spark, t) === Some(10000L))
    val tOld = mkTable()
    Generations.setBloomCols(spark, tOld, Seq("k"), fpp = 1e-4)
    assert(Generations.getBloomCols(spark, tOld) === ((Seq("k"), 1e-4)))
    assert(Generations.getBloomProbes(spark, tOld) === None)
    // the WRITE honors it: the 5e-6 sidecar carries ~2.4x the bits of a
    // 1e-2 one for the same data (bits/value = -ln(fpp)/ln²2)
    Generations.writeAndCommit(spark, evens(), t)
    val tLoose = mkTable()
    Generations.setBloomColsForProbes(spark, tLoose, Seq("k"),
      expectedProbes = 1L) // dials to the 1e-2 clamp
    Generations.writeAndCommit(spark, evens(), tLoose)
    def sidecarLen(table: String): Long = {
      val p = new Path(table)
      val gen = Generations.latest(spark, table).get.gen
      fs(table).getFileStatus(BloomStats.bloomPath(p, gen)).getLen
    }
    val tight = sidecarLen(t)
    val loose = sidecarLen(tLoose)
    assert(tight > loose * 3 / 2,
      s"dialed fpp must size the filters ($tight vs $loose bytes)")
  }

  test("a bloom-build failure degrades the commit (no sidecar, tiers 1-2 still prune)") {
    val t = mkTable()
    Generations.setStatsCols(spark, t, Seq("k"))
    Generations.setBloomCols(spark, t, Seq("k"), fpp = 1e-6)
    BloomStats.buildFailpoint =
      () => throw new java.io.IOException("injected bloom-build failure")
    val c = try Generations.writeAndCommit(spark, evens(), t)
    finally BloomStats.buildFailpoint = () => ()
    // the commit published; no bloom sidecar exists for the generation
    assert(c.rows === 400L)
    assert(BloomStats.read(fs(t), new Path(t), c.gen).isEmpty)
    // probe with absent odds: the range+exact tiers still prune file 0
    // (no key in its [0,198]) but must KEEP the straddled files 1-3
    // that only a bloom could rule out
    val keys = Seq(301L, 403L, 505L, 709L).toDF("k")
    val (kept, total) = Generations.prunePlanByKeys(spark, t, "k", keys).get
    assert(total === 4 && kept.size === 3,
      s"without blooms the straddled files stay kept (${kept.size}/$total)")
    // the NEXT commit's bloom build works again and prunes them
    val t2 = mkTable()
    Generations.setStatsCols(spark, t2, Seq("k"))
    Generations.setBloomCols(spark, t2, Seq("k"), fpp = 1e-6)
    Generations.writeAndCommit(spark, evens(), t2)
    val (kept2, _) = Generations.prunePlanByKeys(spark, t2, "k", keys).get
    assert(kept2.isEmpty)
  }
}
