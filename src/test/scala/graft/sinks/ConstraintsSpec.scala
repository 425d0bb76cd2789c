package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Commit-time data contracts on [[Generations]]: declared CHECK
  * constraints enforced inside the commit's own single scan (a
  * violating generation is never published), and append-path schema
  * enforcement (additive evolution allowed, type changes rejected
  * unless the commit is a full snapshot rewrite).
  */
class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(): String =
    suiteDir("constraints").resolve("t").toString

  test("declared checks gate every commit; violations never publish") {
    val t = mkTable()
    Generations.setChecks(spark, t, Seq(
      "k_positive" -> "k > 0",
      "v_not_null" -> "v IS NOT NULL"))
    assert(Generations.getChecks(spark, t).map(_._1) ===
      Seq("k_positive", "v_not_null"))

    // clean rows commit fine
    val c1 = Generations.appendCommitted(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, "batch=1")
    assert(c1.nonEmpty && c1.get.rows === 2L)

    // poison batch: one non-positive key, one null value — BOTH counted,
    // nothing published, live content untouched
    val bad = Seq((-1L, Some("x")), (3L, None), (4L, Some("ok")))
      .toDF("k", "v")
    val e = intercept[Generations.ConstraintViolationException] {
      Generations.appendCommitted(spark, bad, t, "batch=2")
    }
    assert(e.violations.toMap === Map("k_positive" -> 1L, "v_not_null" -> 1L))
    assert(Generations.latest(spark, t).get.version === 1L,
      "a rejected commit must not advance the table")
    assert(Generations.readLog(spark, t).get.count() === 2L)
    // the orphaned generation was cleaned eagerly: only the live gen dir
    // (plus markers) remains under data/
    val dd = new org.apache.hadoop.fs.Path(t, "data")
    val fs = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(dd).filter(s =>
      s.isDirectory && !s.getPath.getName.startsWith("."))
    assert(gens.length === 1, "rejected generation must not linger")

    // a MERGE through the same protocol is gated too
    val e2 = intercept[Generations.ConstraintViolationException] {
      Generations.mergeAndCommit(spark, t,
        Seq((0L, "zero", false)).toDF("k", "v", "_deleted"), Seq("k"))
    }
    assert(e2.violations.toMap === Map("k_positive" -> 1L))
    assert(Generations.readLog(spark, t).get.count() === 2L)
  }

  test("a null check result counts as a violation (ANSI CHECK-on-write)") {
    val t = mkTable()
    Generations.setChecks(spark, t, Seq("v_positive" -> "v > 0"))
    val e = intercept[Generations.ConstraintViolationException] {
      Generations.writeAndCommit(spark,
        Seq(Some(1L), None, Some(-2L)).toDF("v"), t)
    }
    // null > 0 is null, not true: both the null and the negative count
    assert(e.violations.toMap === Map("v_positive" -> 2L))
  }

  test("setChecks replaces; an empty declaration disarms") {
    val t = mkTable()
    Generations.setChecks(spark, t, Seq("no_rows" -> "false"))
    intercept[Generations.ConstraintViolationException] {
      Generations.writeAndCommit(spark, Seq(1L).toDF("v"), t)
    }
    Generations.setChecks(spark, t, Seq.empty)
    assert(Generations.writeAndCommit(spark, Seq(1L).toDF("v"), t).rows === 1L)
  }

  test("append schema enforcement: additive ok, type change rejected, snapshot rewrite allowed") {
    val t = mkTable()
    Generations.appendCommitted(spark,
      Seq((1L, "a")).toDF("k", "v"), t, "batch=1")
    // additive evolution: a new column appends fine (older gens surface null)
    assert(Generations.appendCommitted(spark,
      Seq((2L, "b", 0.5)).toDF("k", "v", "score"), t, "batch=2").nonEmpty)
    // type change on a live column: rejected for deltas
    val e = intercept[Generations.ConstraintViolationException] {
      Generations.appendCommitted(spark,
        Seq((3, "c")).toDF("k", "v"), t, "batch=3") // k: int, was bigint
    }
    assert(e.getMessage.contains("k"))
    assert(Generations.logCommits(spark, t).size === 2)
    // a snapshot rewrite may reshape freely (the overwriteSchema path)
    val c = Generations.writeAndCommit(spark,
      Seq(("x", 1)).toDF("v", "k"), t)
    assert(c.rows === 1L)
    assert(Generations.read(spark, t).get.schema("k").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("rewriteColumn is the sanctioned type change: rejected append, rewrite, accepted") {
    val t = mkTable()
    Generations.appendCommitted(spark,
      Seq((1L, "0.5"), (2L, "1.5")).toDF("k", "score"), t, "batch=1")
    // the gate rejects the retyping delta...
    intercept[Generations.ConstraintViolationException] {
      Generations.appendCommitted(spark,
        Seq((3L, 2.5)).toDF("k", "score"), t, "batch=2")
    }
    // ...rewriteColumn commits the cast snapshot (witness carried)...
    val c = Generations.rewriteColumn(spark, t, "score", "double")
    assert(Generations.read(spark, t).get.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(c.carried.exists(_.startsWith("batch=")),
      "replay witness must ride the rewrite snapshot")
    // ...and the same append now lands; values survived the cast exactly
    assert(Generations.appendCommitted(spark,
      Seq((3L, 2.5)).toDF("k", "score"), t, "batch=2").nonEmpty)
    assert(Generations.readLog(spark, t).get
      .select("score").as[Double].collect().toSet === Set(0.5, 1.5, 2.5))
    // a replay of the PRE-rewrite batch is still a no-op
    assert(Generations.appendCommitted(spark,
      Seq((1L, 0.5)).toDF("k", "score"), t, "batch=1").isEmpty)
    // the gate now guards the NEW type: the old string shape is rejected
    intercept[Generations.ConstraintViolationException] {
      Generations.appendCommitted(spark,
        Seq((4L, "3.5")).toDF("k", "score"), t, "batch=3")
    }
    // unknown column fails fast
    intercept[IllegalArgumentException] {
      Generations.rewriteColumn(spark, t, "nope", "int")
    }
  }
}
