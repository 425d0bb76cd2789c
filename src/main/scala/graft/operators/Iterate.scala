package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-truncating materialization with a cluster-durability dial.
  *
  * Iterative operators (kNN-graph loops, LSH band reuse, tokenizer merge
  * rounds, IVM delta reuse) must cut lineage every few steps or the plan
  * tree grows without bound. The default cut is `localCheckpoint`:
  * blocks live UNREPLICATED on executors, which is the cheap and correct
  * choice single-host and for idempotently re-runnable ticks — but on a
  * cluster with dynamic allocation one lost executor makes every
  * downstream action UNRECOVERABLE (lineage is gone, blocks are not
  * replicated), which is the wrong trade for a multi-hour graph job.
  *
  * Opt-in durability, one session-level dial (r14 ADVICE; SCALING.md
  * "Checkpoint durability"):
  *
  * {{{
  * spark.conf.set(Iterate.DurableKey, "true")
  * spark.sparkContext.setCheckpointDir("hdfs://…/ckpt") // or DirKey
  * }}}
  *
  * flips EVERY `.materialized` site in the library to a reliable
  * `Dataset.checkpoint` (files on the checkpoint dir's fault-tolerant
  * store, recomputable-after-executor-loss because nothing needs
  * recomputing). Cost: one write+read of the materialized frame per cut
  * vs an in-memory block copy — worth it exactly when the job outlives
  * executor churn.
  */
object Iterate {

  /** `"true"` → reliable `checkpoint()`; default localCheckpoint. */
  val DurableKey = "spark.graft.checkpoint.durable"

  /** Checkpoint directory used when [[DurableKey]] is on and the
    * SparkContext has none set (convenience for config-only setups). */
  val DirKey = "spark.graft.checkpoint.dir"

  def materialize(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    if (!spark.conf.get(DurableKey, "false").toBoolean)
      df.localCheckpoint(eager)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(spark.conf.getOption(DirKey).getOrElse(
          throw new IllegalStateException(
            s"$DurableKey=true needs a checkpoint dir: call " +
              s"sparkContext.setCheckpointDir or set $DirKey")))
      // ALWAYS eager on the reliable path (r19 ADVICE): a lazy reliable
      // checkpoint re-computes the frame in a separate job after the
      // first action, so with nondeterministic float aggregation order
      // the triggering action could observe different doubles than
      // later readers of the checkpoint files. The lazy dial is a
      // scheduling optimization for localCheckpoint only.
      df.checkpoint(eager = true)
    }
  }

  /** [[materialize]] that RESPREADS a collapsed cut (r20, guide §2.2):
    * AQE's byte-floor coalescing rightly shrinks a small shuffle output
    * to one or two partitions, but a checkpoint PINS that width — every
    * downstream stage over the cut (CPU-heavy shingle/minhash scans,
    * broadcast-build sides) then runs 1-2 tasks no matter how many
    * cores idle. When the checkpointed frame landed on fewer partitions
    * than the session's parallelism, re-cut it through one repartition
    * — the data is small by construction (AQE only coalesces below the
    * advisory byte target), so the extra exchange+cut is milliseconds;
    * at scale the condition is false and this IS [[materialize]]. A
    * runtime dial, not a local-mode constant: the trigger compares the
    * actual post-AQE width against the session's own parallelism.
    */
  def materializeSpread(df: DataFrame): DataFrame = {
    val cut = materialize(df)
    val p = df.sparkSession.sparkContext.defaultParallelism
    val have = cut.rdd.getNumPartitions
    if (have > 0 && have < p) materialize(cut.repartition(p)) else cut
  }

  /** `df.materialized` ≡ eager lineage cut; `df.materializedLazy`
    * defers the job to the first action (plans that may be discarded);
    * `df.materializedSpread` re-widens a cut AQE collapsed below the
    * session's parallelism (CPU-heavy consumers).
    */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = materialize(df)
    def materializedLazy: DataFrame = materialize(df, eager = false)
    def materializedSpread: DataFrame = materializeSpread(df)
  }
}
