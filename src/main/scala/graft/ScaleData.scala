package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an sf1-class dataset from the driver's sf0.1 tables by
  * replicating each table `factor`× with re-keyed ids — the data for
  * the data-dominated scaling step recorded in SCALING.md's opening
  * section and "sf10 step (r11, second pass)" (VERDICT r10 ask
  * #1: the sf0.01→sf0.1 slopes are fixed-overhead-dominated, so 100 TB
  * linearity was extrapolated, not measured).
  *
  * Replica 0 is ALWAYS the source table verbatim, so every fixed query
  * anchor (a specific vec_id, an eval query term) still resolves; the
  * scaled table is a strict superset. Replicas 1..factor-1 offset every
  * id key by `i * KeyStride` (all keys are BIGINT and far below the
  * stride) and keep foreign keys aligned by offsetting both sides with
  * the same stride (orders.o_custkey ↔ customer.c_custkey,
  * lineitem.l_orderkey ↔ orders.o_orderkey). Dimension tables
  * (region/nation/part/supplier) copy unchanged — dimensions don't
  * scale with fact data, which also keeps lineitem's part/supp FKs
  * valid.
  *
  * Two columns need DECORRELATION, not copying, or the replication
  * changes the workload's SHAPE instead of its SIZE:
  *  - `documents.text`: verbatim copies would make every doc a member
  *    of a 10-way near-dup cluster (C(10,2)=45 pairs each), turning the
  *    LSH family's output quadratic in factor. Each replica instead
  *    stamps a replica-unique marker token every 5th word: intra-replica
  *    dup structure is preserved EXACTLY (identical texts stay
  *    identical — same positions, same markers), while cross-replica
  *    Jaccard over 3-shingles drops to ~0.25, far below near-dup
  *    thresholds.
  *  - `embeddings.embedding`: verbatim copies would give every vector 9
  *    zero-distance clones (degenerate ANN top-k). Each replica adds a
  *    deterministic per-(vector, dim, replica) sinusoid perturbation —
  *    same distribution, decorrelated neighborhoods.
  *
  * Run: `runMain graft.ScaleData [srcDir dstDir factor]`
  * (defaults: /root/testdata/sf0.1 → var/sf1 ×10).
  */
object ScaleData {

  /** Above any real key in the driver tables (max seen: l_orderkey
    * ~6e6 at sf1 scale), below overflow at factor ≤ ~9e9/stride.
    */
  val KeyStride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("var/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    require(factor >= 1 && factor * KeyStride > 0, s"bad factor $factor")

    def replicate(name: String)(perReplica: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, src, name)
      val out = (0 until factor)
        .map(i => if (i == 0) base else perReplica(base, i))
        .reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: x$factor")
    }
    def offset(c: String, i: Int) = col(c) + lit(i * KeyStride)

    // dimensions: verbatim (don't scale; keeps lineitem part/supp FKs valid)
    Seq("region", "nation", "part", "supplier").foreach { name =>
      Tables.load(spark, src, name)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: x1 (dimension)")
    }

    replicate("customer")((df, i) =>
      df.withColumn("c_custkey", offset("c_custkey", i)))

    replicate("orders")((df, i) => df
      .withColumn("o_orderkey", offset("o_orderkey", i))
      .withColumn("o_custkey", offset("o_custkey", i)))

    replicate("lineitem")((df, i) =>
      df.withColumn("l_orderkey", offset("l_orderkey", i)))

    replicate("events")((df, i) => df
      .withColumn("event_id", offset("event_id", i))
      .withColumn("user_id", offset("user_id", i)))

    // marker token every 5th word, unique per (replica, position):
    // intra-replica dup structure preserved exactly, cross-replica
    // shingle Jaccard pushed far below near-dup thresholds
    replicate("documents")((df, i) => df
      .withColumn("doc_id", offset("doc_id", i))
      .withColumn("text", array_join(
        zip_with(
          split(col("text"), " "),
          sequence(lit(0), size(split(col("text"), " ")) - 1),
          (w, p) => when(p % 5 === 0,
            concat(lit(s"zq${i}m"), p, lit(" "), w)).otherwise(w)),
        " "))
      .withColumn("n_chars", length(col("text"))))

    // deterministic per-(vector, dim, replica) perturbation: same value
    // distribution, decorrelated nearest-neighbor structure
    replicate("embeddings")((df, i) => df
      .withColumn("vec_id", offset("vec_id", i))
      .withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + sin(col("vec_id") % lit(KeyStride) * (j + 1) + lit(i))
            * lit(0.05)).cast("float"))))
  }
}
