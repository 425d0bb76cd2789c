package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.{Generations, Pointers}

/** Event-time streaming IVM — the EX5 × IVM composition: a Structured
  * Streaming source drives a MAINTAINED windowed aggregate that lives in
  * a [[Generations]] table (queryable, time-travelable, exactly-once)
  * instead of the state store.
  *
  * Per micro-batch, inside `foreachBatch`:
  *
  *  1. WATERMARK-DROP — rows older than `high-mark − lateness` are
  *     dropped. The high-mark (max admitted event time) is a committed
  *     O(1) [[Pointers]] value under the log table, NOT Spark streaming
  *     state: a restart replays the batch against the same committed
  *     mark, so admission is deterministic across crash/replay, and a
  *     batch-mode backfill (the oracle-gated `mv_stream_hourly_revenue`
  *     shape) runs the SAME code with no streaming runtime at all.
  *  2. APPEND — the admitted rows, bucketed to their event-time window
  *     start, append to a Generations LOG table under `batch=<id>`: the
  *     replay witness makes a re-delivered micro-batch a no-op append
  *     (exactly-once ingestion, `Generations.appendCommitted`).
  *  3. MAINTAIN — [[ChangeFeed.maintainAggOnceLog]] advances the view by
  *     the committed window delta only; its `=cdcv=<version>` watermark
  *     + expectedBase CAS give exactly-once view maintenance even under
  *     concurrent or replayed ticks.
  *
  * Scale shape (100 TB/day posture): per-tick work is delta-bounded
  * (batch filter + delta groupBy + key-join on the view, all shuffling
  * on the view key); the watermark read/update is one tiny pointer; the
  * log is foldable by `Generations.maintain` without disturbing the
  * view's watermark; lateness bounds how far back a bucket can reopen,
  * so view churn stays bounded exactly like a state-store watermark —
  * but the state itself is a queryable table, not executor memory.
  */
object StreamingIvm {

  private val WmPointer = "event_watermark"

  /** Committed event-time high-mark of the log (micros), if any. */
  def highMark(spark: SparkSession, logTable: String): Option[Long] = {
    val dir = new Path(logTable, "_stream")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Pointers.read(fs, dir, WmPointer).map(_.trim.toLong)
  }

  private def intervalMicros(lateness: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(lateness))
    require(iv.months == 0, s"interval must be fixed-length: '$lateness'")
    iv.days * 86400000000L + iv.microseconds
  }

  /** Watermark-drop against the COMMITTED high-mark: rows older than
    * `mark − lateness` are dropped; an absent mark (first data) admits
    * everything. */
  private def admit(batch: DataFrame, mark: Option[Long], tsCol: String,
      lateness: String): DataFrame = mark match {
    case Some(w) =>
      batch.filter(unix_micros(col(tsCol)) >= w - intervalMicros(lateness))
    case None => batch
  }

  /** Advance the committed high-mark from ADMITTED rows (never dropped
    * ones). Monotonic max ∘ max is idempotent, so a crash between append
    * and pointer update just re-writes the same value on replay. */
  private def advanceMark(spark: SparkSession, logTable: String,
      mark: Option[Long], admittedTs: DataFrame, tsCol: String): Unit = {
    val mx = admittedTs.agg(max(unix_micros(col(tsCol)))).head()
    if (!mx.isNullAt(0))
      advanceMarkTo(spark, logTable, mark, mx.getLong(0))
  }

  private def advanceMarkTo(spark: SparkSession, logTable: String,
      mark: Option[Long], mxMicros: Long): Unit = {
    val dir = new Path(logTable, "_stream")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = math.max(mark.getOrElse(Long.MinValue), mxMicros)
    Pointers.replace(fs, dir, WmPointer, next.toString)
  }

  /** The witnessed-append prologue every ingest tick shares: the
    * emptiness verdict AND the event-time max ride the LOG WRITE's own
    * `observe` scan (r20 — r19 had merged the two probe jobs into one;
    * this folds that one into the write itself, so a tick's append is
    * ONE Spark action and the admitted frame is evaluated exactly once,
    * with no persist). An empty admitted frame publishes nothing
    * ([[Generations.writeAndCommitSkipEmpty]] deletes the unpublished
    * generation — invisible by protocol, and admission is deterministic
    * so a replay re-evaluates to empty and stays a no-op). Semantics
    * unchanged: rows-but-all-null-ts still appends without advancing
    * the mark. The failpoint names and their PER-TICK FIRING SEQUENCE
    * are the replay-spec contract and are preserved verbatim:
    * `before-append` fires only on non-empty ticks, before anything is
    * visible (the data files exist but are unpublished — the same
    * on-disk state as a crash mid-write, which the protocol already
    * treats as gc debris).
    */
  private def appendAdmitted(spark: SparkSession, admitted: DataFrame,
      project: DataFrame => DataFrame, log: String, tsName: String,
      mark: Option[Long], batchId: Long, failpoint: String => Unit,
      fpSuffix: String = ""): Unit = {
    val tag = s"batch=$batchId"
    if (Generations.appendWitnessed(spark, log, tag)) {
      // REPLAY of an already-committed batch (crash between the append
      // and a later pointer, or a re-delivered foreachBatch id): the
      // append is a witnessed no-op, but the mark advance must still
      // run — it is gated on the ADMITTED frame, never on the append
      // committing (r15 ADVICE: a crash between append and pointer
      // write must not skip the advance forever). The exceptional path
      // pays the probe job the hot path fused away.
      val row = admitted
        .agg(count(lit(1)), max(unix_micros(col(tsName)))).head()
      if (row.getLong(0) > 0L) {
        failpoint(s"before-append$fpSuffix")
        failpoint(s"after-append$fpSuffix")
        if (!row.isNullAt(1))
          advanceMarkTo(spark, log, mark, row.getLong(1))
        failpoint(s"after-mark$fpSuffix")
      }
    } else {
      val obs = org.apache.spark.sql.Observation(
        "adm_" + java.util.UUID.randomUUID.toString.take(8))
      val observed = project(admitted.observe(obs,
        count(lit(1)).as("n"), max(unix_micros(col(tsName))).as("mx")))
      val committed = Generations.writeAndCommitSkipEmpty(spark, observed,
        log, tag,
        preCommit = () => failpoint(s"before-append$fpSuffix"))
      if (committed.isDefined) {
        failpoint(s"after-append$fpSuffix")
        val mx = obs.get("mx")
        if (mx != null)
          advanceMarkTo(spark, log, mark, mx.asInstanceOf[Long])
        failpoint(s"after-mark$fpSuffix")
      }
    }
  }

  /** One micro-batch of the maintained windowed aggregate: watermark-
    * drop → idempotent log append → exactly-once view advance. Returns
    * the view commit (None when everything was already applied — e.g. a
    * foreachBatch replay).
    *
    * `batch` needs `tsCol` (TIMESTAMP) + `keyCols` + `sumCol`; the view
    * holds (`bucket`, keyCols…, `sum_value`, `n`) with `sum_value`
    * maintained decimal-exact (retraction-safe at any magnitude — the
    * mv_cdc convention; cast at emission, not in state).
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      logTable: String, mvTable: String,
      tsCol: String = "ts", keyCols: Seq[String] = Seq("event_type"),
      sumCol: String = "value", bucketWidth: String = "1 hour",
      lateness: String = "2 hours",
      slide: Option[String] = None,
      trackMinMax: Boolean = false,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable)
    val admitted = admit(batch, mark, tsCol, lateness)
    // SLIDING windows generalize for free: window(ts, w, slide) in a
    // projection explodes each row into its w/slide covering windows
    // (Catalyst's TimeWindowing Expand), so the log simply carries one
    // row per (event, covering bucket) and the maintenance below is
    // unchanged — overlap is a data-shape concern, not a new operator.
    val win = slide match {
      case Some(s) => window(col(tsCol), bucketWidth, s)
      case None => window(col(tsCol), bucketWidth)
    }
    val bucketed = admitted.select(
      win.getField("start").as("bucket") +:
        (keyCols.map(col) :+
          col(sumCol).cast("decimal(18,4)").as("_v") :+
          col(tsCol).as("_ts")): _*)
    // an ALL-DROPPED batch appends nothing: an empty generation would
    // still cost a commit + a view tick per all-late micro-batch —
    // metadata churn with no information. Admission is deterministic,
    // so a replay re-evaluates to empty and stays a no-op without the
    // batch witness. Persisted (inside appendAdmitted) so the combined
    // count+max probe and the log write evaluate the admitted plan
    // once, not twice (r15 ADVICE; r19 merged the probes).
    // The append may be a WITNESSED no-op (foreachBatch replay after
    // a crash); the mark advance must NOT be gated on it committing —
    // a crash between the log append and the pointer write would
    // otherwise skip the advance forever on replay, and later batches
    // would admit rows older than mark−lateness relative to the
    // no-crash run (r15 ADVICE, medium). The pointer write is an
    // idempotent monotonic max, so re-running it on replay is safe.
    // `failpoint` is a crash-injection seam: StreamingIvmReplaySpec
    // kills the tick at each commit boundary and proves the replay
    // converges to the no-crash run.
    appendAdmitted(spark, bucketed, _.drop("_ts"), logTable,
      "_ts", mark, batchId, failpoint)
    // insert-only log ⇒ min/max merge monotonically (no retraction, so
    // the non-retractable-monoid problem never arises; the dirty-group
    // re-aggregation path prunes to nothing at runtime)
    val (minC, maxC) =
      if (trackMinMax) (Map("min_value" -> "_v"), Map("max_value" -> "_v"))
      else (Map.empty[String, String], Map.empty[String, String])
    ChangeFeed.maintainAggOnceLog(spark, logTable, mvTable,
      "bucket" +: keyCols, Map("sum_value" -> "_v"), "n",
      minCols = minC, maxCols = maxC) { log =>
      val base = Seq(sum(col("_v")).as("sum_value"), count(lit(1)).as("n"))
      val aggs =
        if (trackMinMax) base ++ Seq(min(col("_v")).as("min_value"),
          max(col("_v")).as("max_value"))
        else base
      log.groupBy(("bucket" +: keyCols).map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** One micro-batch of a maintained JOIN view `V = factStream ⋈ dim`:
    * the same watermark-drop + witnessed-append admission as
    * [[ingestBatch]], then [[ChangeFeed.maintainJoinAggOnceLog]]
    * advances the view from BOTH feeds — the fact window is the
    * committed delta commits themselves (insert-tagged, no diff), the
    * dimension feed is a committed-version diff, and the delta join
    * retracts/moves joined rows exactly (a dimension row changing its
    * group mid-stream moves its accumulated fact revenue with it).
    * Exactly-once via the `=cdcv2=<vF>-<vD>` pair watermark + CAS.
    *
    * The log stores `joinKeys ++ _v` only — the view never needs the
    * fact payload columns, so the append is projection-pruned at the
    * source. Scale shape: per tick, fact-delta ⋈ dim + dim-delta ⋈
    * fact-pre (AQE-broadcast delta sides), never a full re-join.
    */
  def ingestJoinBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      logTable: String, dimTable: String, dimKeys: Seq[String],
      joinKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      tsCol: String = "ts", sumCol: String = "value",
      lateness: String = "2 hours",
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable)
    val admitted = admit(batch, mark, tsCol, lateness)
    val logged = admitted.select(joinKeys.map(col) :+
      col(sumCol).cast("decimal(18,4)").as("_v") :+ col(tsCol).as("_ts"): _*)
    // empty-admitted batches append nothing; the mark advance is gated
    // on the ADMITTED frame, never on the append committing — see
    // ingestBatch for the crash-replay argument (r15 ADVICE, medium)
    appendAdmitted(spark, logged, _.drop("_ts"), logTable,
      "_ts", mark, batchId, failpoint)
    ChangeFeed.maintainJoinAggOnceLog(spark, logTable, dimTable, dimKeys,
      joinKeys, mvTable, mvKeys, Map("sum_value" -> "_v"), "n") { (f, d) =>
      f.join(d, joinKeys).groupBy(mvKeys.map(col): _*)
        .agg(sum(col("_v")).as("sum_value"), count(lit(1)).as("n"))
    }
  }

  /** One micro-batch of the maintained STREAM ⋈ STREAM join view — the
    * EIGHTH EX5×IVM shape (r17 VERDICT #5): two event feeds (e.g.
    * clicks ⋈ purchases — events ⋈ events self-enrichment), EACH under
    * its own committed event-time high-mark admission and witnessed
    * append (late rows drop independently per side), then
    * [[ChangeFeed.maintainStreamJoinOnceLogs]] advances agg(A ⋈ B)
    * from both unapplied windows with the insert-only delta join —
    * never a full re-join. View: (`joinKey`, `sum_value` = Σ pairs'
    * B-side value in decimal state, `n_pairs`).
    *
    * RETENTION CONTRACT: a pure equi join has NO event-time pairing
    * horizon — a year-old A row pairs with today's B row of the same
    * key — so both logs are retained IN FULL and per-tick cost grows
    * with history. This is inherent to the unrestricted-equi semantics,
    * not a missing fold: bounding retention requires the caller to
    * DECLARE a pairing horizon — pass `pairTtl` + `foldAfterCommits`
    * to switch the view to BANDED-equi semantics ("pairs form only
    * between rows ≤ ttl apart in event time" — ENFORCED in the
    * pair-builder, so the view is deterministic on any data and the
    * fold exact by construction), use the time-band shape
    * ([[ingestAttributionBatch]], whose window IS its ttl and needs no
    * assertion), or run [[ChangeFeed.foldStreamJoinLogOnce]] with a
    * horizon proven from the caller's own domain. Declaring none means
    * choosing full retention, the same trade Spark's own stream-stream
    * join makes when no watermark range condition is given (state grows
    * forever).
    */
  def ingestStreamJoinBatch(spark: SparkSession, batchA: DataFrame,
      batchB: DataFrame, batchId: Long, logA: String, logB: String,
      mvTable: String, tsCol: String = "ts", joinKey: String = "user_id",
      sumCol: String = "value", lateness: String = "2 hours",
      pairTtl: Option[String] = None, foldAfterCommits: Int = 0,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    def side(batch: DataFrame, log: String, vName: String,
        fp: String): Unit = {
      val mark = highMark(spark, log)
      // a DECLARED pairing ttl folds this log on the band horizon —
      // declare per-file stats on its event-time column once, so every
      // commit carries the min/max/nullCount the fold's deadness walk
      // reads driver-side (r20; the commit pays one footer pass)
      if (pairTtl.nonEmpty && foldAfterCommits > 0 &&
          Generations.getStatsCols(spark, log).isEmpty)
        Generations.setStatsCols(spark, log, Seq(s"_ts$fp"))
      // the event time rides in the log per side (_tsa/_tsb — distinct
      // names so the equi self-join never collides) to make a DECLARED
      // pairing-TTL fold possible; undeclared-TTL runs simply never
      // read it back
      val logged = admit(batch, mark, tsCol, lateness).select(
        col(joinKey), col(sumCol).cast("decimal(18,4)").as(vName),
        col(tsCol).as(s"_ts$fp"))
      appendAdmitted(spark, logged, identity, log, s"_ts$fp", mark,
        batchId, failpoint, fpSuffix = s"-$fp")
    }
    side(batchA, logA, "_va", "a")
    side(batchB, logB, "_vb", "b")
    // A declared `pairTtl` is ENFORCED, not trusted (r19): the
    // pair-builder carries the symmetric band |tsA − tsB| ≤ ttl in the
    // join, so a declaration-violating pair is EXCLUDED by definition —
    // deterministically, on any data — instead of counted-or-lost
    // depending on whether a fold had already dropped one partner (the
    // pre-r19 wart: view content depended on fold TIMING for violating
    // data). This is the same trade Spark's own stream⋈stream join
    // makes: the watermark range condition bounds state AND semantics
    // together. The band rides the equi shuffle as a post-join filter
    // on the two logged event times — same key shuffle, no extra
    // exchange. pairTtl = None keeps the unrestricted-equi semantics
    // and full retention.
    val ttlBandUs = pairTtl.map(intervalMicros)
    def pairsOf(a: DataFrame, b: DataFrame): DataFrame = {
      val j = a.join(b, Seq(joinKey))
      ttlBandUs.fold(j)(t => j.filter(
        abs(unix_micros(col("_tsa")) - unix_micros(col("_tsb"))) <= t))
    }
    def aggOf(pairs: DataFrame): DataFrame =
      pairs.groupBy(col(joinKey))
        .agg(sum(col("_vb")).as("sum_value"), count(lit(1)).as("n_pairs"))
    val c = ChangeFeed.maintainStreamJoinOnceLogs(spark, logA, logB,
      mvTable, Seq(joinKey), Map("sum_value" -> "_vb"), "n_pairs")(
      pairsOf)(aggOf)
    // DECLARED-TTL retention (the documented equi contract, actionable):
    // under the enforced band, a row older than the OTHER side's
    // mark − lateness − ttl can never pair with any future delta, so
    // both logs fold on that horizon exactly like the attribution shape
    // (whose window IS its ttl) — and the fold is exact by
    // CONSTRUCTION on any data, since the same banded pair-builder
    // decides both the view and the folded summaries.
    if (pairTtl.nonEmpty && foldAfterCommits > 0 &&
        (Generations.logCommits(spark, logA).size > foldAfterCommits ||
          Generations.logCommits(spark, logB).size > foldAfterCommits)) {
      val ttlUs = intervalMicros(pairTtl.get)
      val latUs = intervalMicros(lateness)
      (highMark(spark, logA), highMark(spark, logB)) match {
        case (Some(mA), Some(mB)) =>
          ChangeFeed.foldStreamJoinLogOnce(spark, logA, logB,
            foldIsLeft = true, horizonMicros = mB - latUs - ttlUs,
            "_tsa", Seq(joinKey), Seq("sum_value"), "n_pairs",
            Some(mvTable))(pairsOf)(aggOf)
          ChangeFeed.foldStreamJoinLogOnce(spark, logB, logA,
            foldIsLeft = false, horizonMicros = mA - latUs - ttlUs,
            "_tsb", Seq(joinKey), Seq("sum_value"), "n_pairs",
            Some(mvTable))(pairsOf)(aggOf)
        case _ => ()
      }
    }
    c
  }

  /** The NINTH EX5×IVM shape: maintained streaming ATTRIBUTION — a
    * stream ⋈ stream join under a TIME-BAND predicate (each purchase
    * opens a `window`-wide attribution interval; clicks by the same
    * user inside it attribute), the streaming twin of the batch
    * `range_click_attribution` query. Same two-sided admission +
    * witnessed appends as [[ingestStreamJoinBatch]] (both logs keep the
    * event time — the band needs it), and the SAME pair-watermark
    * maintenance: the pair-builder is bilinear over unions, so the
    * insert-only delta join law holds for band joins verbatim. The
    * pairs are built by [[graft.operators.RangeJoin.pointInInterval]] —
    * both sides bin to ≈window-wide time buckets so each delta term
    * shuffles on (user, bin) and never builds per-user cross products
    * (the quadratic naive plan). View: (`userCol`, `sum_value` = Σ
    * attributed click value in decimal state, `n_pairs`).
    */
  def ingestAttributionBatch(spark: SparkSession, clicks: DataFrame,
      purchases: DataFrame, batchId: Long, logC: String, logP: String,
      mvTable: String, tsCol: String = "ts", userCol: String = "user_id",
      valueCol: String = "value", window: String = "1 hour",
      lateness: String = "2 hours", foldAfterCommits: Int = 0,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val winUs = intervalMicros(window)
    def side(batch: DataFrame, log: String, vName: String,
        fp: String): Unit = {
      val mark = highMark(spark, log)
      // the attribution window IS this log's fold ttl — declare event-
      // time stats once so fold deadness reads commit metadata (r20)
      if (foldAfterCommits > 0 &&
          Generations.getStatsCols(spark, log).isEmpty)
        Generations.setStatsCols(spark, log, Seq(tsCol))
      val logged = admit(batch, mark, tsCol, lateness).select(
        col(userCol), col(tsCol),
        col(valueCol).cast("decimal(18,4)").as(vName))
      appendAdmitted(spark, logged, identity, log, tsCol, mark,
        batchId, failpoint, fpSuffix = s"-$fp")
    }
    side(clicks, logC, "_va", "a")
    side(purchases, logP, "_vb", "b")
    val c = ChangeFeed.maintainStreamJoinOnceLogs(spark, logC, logP,
      mvTable, Seq(userCol), Map("sum_value" -> "_va"), "n_pairs")(
      attributionPairsOf(userCol, tsCol, winUs))(
      attributionAggOf(userCol))
    // bounded-retention dial ([[ingestSessionBatch]]'s): once either
    // log's span exceeds the policy width, fold rows past the band
    // horizon (AFTER the view advanced — the next tick recomputes from
    // retained raws ⊕ summaries, which is content-equal)
    if (foldAfterCommits > 0 &&
        (Generations.logCommits(spark, logC).size > foldAfterCommits ||
          Generations.logCommits(spark, logP).size > foldAfterCommits))
      foldAttributionLogs(spark, logC, logP, tsCol, userCol, window,
        lateness, mvTable = Some(mvTable))
    c
  }

  /** The attribution shape's pair-builder (shared by the maintenance
    * tick and the fold): clicks inside [purchase ts, ts + window] of
    * the same user, RangeJoin-binned on (user, time-bin) so no per-user
    * cross product ever builds.
    */
  private def attributionPairsOf(userCol: String, tsCol: String,
      winUs: Long): (DataFrame, DataFrame) => DataFrame = { (c, p) =>
    val intervals = p.select(col(userCol), col(tsCol).as("_ps"),
      timestamp_micros(unix_micros(col(tsCol)) + winUs).as("_pe"))
    graft.operators.RangeJoin.pointInInterval(
      c.select(col(userCol), col(tsCol), col("_va")), intervals,
      userCol, tsCol, "_ps", "_pe",
      binSeconds = math.max(1L, winUs / 1000000L),
      strictStart = false, inclusiveEnd = true)
  }

  private def attributionAggOf(userCol: String)
      : DataFrame => DataFrame = { pairs =>
    pairs.groupBy(col(userCol))
      .agg(sum(col("_va")).as("sum_value"), count(lit(1)).as("n_pairs"))
  }

  /** BAND-HORIZON FOLD of the attribution shape's two logs (r18
    * VERDICT #2) — the horizons follow from the committed admission
    * marks, so each side is provably dead for all future pairing:
    *
    *  - a CLICK with ts < markP − lateness can never attribute to a
    *    future purchase (admitted purchases have ts ≥ markP − lateness
    *    and a pair needs click.ts ≥ purchase.ts);
    *  - a PURCHASE with ts < markC − lateness − window can never claim
    *    a future click (admitted clicks have ts ≥ markC − lateness and
    *    a pair needs purchase.ts ≥ click.ts − window).
    *
    * Each side folds in ONE atomic snapshot commit that carries the
    * dropped rows' pair contribution as summary rows
    * ([[ChangeFeed.foldStreamJoinLogOnce]]); the two commits are
    * independently consistent, so there is no cross-log crash window.
    * Per-tick maintenance cost after folding is O(delta ⋈ horizon),
    * flat in the log's age (SCALING.md, "r19: stream⋈stream
    * band-horizon fold").
    */
  def foldAttributionLogs(spark: SparkSession, logC: String, logP: String,
      tsCol: String = "ts", userCol: String = "user_id",
      window: String = "1 hour", lateness: String = "2 hours",
      mvTable: Option[String] = None)
      : (Option[Generations.Commit], Option[Generations.Commit]) = {
    val winUs = intervalMicros(window)
    val latUs = intervalMicros(lateness)
    val markC = highMark(spark, logC)
    val markP = highMark(spark, logP)
    if (markC.isEmpty || markP.isEmpty) return (None, None)
    val pairs = attributionPairsOf(userCol, tsCol, winUs)
    val agg = attributionAggOf(userCol)
    val cFold = ChangeFeed.foldStreamJoinLogOnce(spark, logC, logP,
      foldIsLeft = true, horizonMicros = markP.get - latUs, tsCol,
      Seq(userCol), Seq("sum_value"), "n_pairs", mvTable)(pairs)(agg)
    val pFold = ChangeFeed.foldStreamJoinLogOnce(spark, logP, logC,
      foldIsLeft = false, horizonMicros = markC.get - latUs - winUs,
      tsCol, Seq(userCol), Seq("sum_value"), "n_pairs", mvTable)(
      pairs)(agg)
    (cFold, pFold)
  }

  /** Exact grid quantiles over a maintained per-window HISTOGRAM view —
    * the TENTH EX5×IVM shape, and deliberately ZERO new maintenance
    * machinery: a quantile view's state of record is the (window,
    * value-cell) count histogram, which is a plain abelian aggregate —
    * [[ingestBatch]] with the quantized cell as a key column maintains
    * it exactly-once, folds, and replays like any sum/count view. This
    * reader derives (p50, p95, p99, …) per window from that state:
    * quantile(q) = the smallest cell whose cumulative count reaches
    * q·total (the lower quantile of the discrete distribution), emitted
    * at grid resolution (cell · step). The per-window cumulative scan
    * is O(cells) — bounded by value-range/step, NOT by event count — so
    * serving p99 over a 100 TB/day stream reads a tiny table and never
    * touches events. Integer counts and one shared q·total double give
    * the same verdict in any engine (the DuckDB oracle mirrors the
    * definition verbatim): exact at grid resolution, no sketch error
    * bar — the t-digest trade made the other way, sized by the grid.
    */
  def gridQuantiles(view: DataFrame, step: Double,
      qs: Map[String, Double], cellCol: String = "_cell",
      bucketCol: String = "bucket", nCol: String = "n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.values.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1]: $qs")
    val w = Window.partitionBy(bucketCol).orderBy(cellCol)
    val wt = Window.partitionBy(bucketCol)
    val cum = view
      .withColumn("_cum", sum(col(nCol)).over(w))
      .withColumn("_tot", sum(col(nCol)).over(wt))
    val picks = qs.toSeq.sortBy(_._2).map { case (name, q) =>
      (min(when(col("_cum").cast("double") >= lit(q) * col("_tot"),
        col(cellCol))) * step).as(name)
    }
    cum.groupBy(col(bucketCol))
      .agg(picks.head, picks.tail :+ max(col("_tot")).as(nCol): _*)
  }

  /** One micro-batch of a maintained gap-based SESSION-WINDOW view —
    * the same committed-mark admission + witnessed append as
    * [[ingestBatch]], then dirty-user re-sessionization
    * ([[ChangeFeed.maintainSessionsOnceLog]]). A late event inside the
    * lateness horizon can MERGE two of its user's existing sessions;
    * the maintenance absorbs that by re-sessionizing exactly the users
    * the delta touches, so merge + renumber never leak stale rows.
    *
    * The log keeps raw (`userCol`, `tsCol`) event rows — sessions are
    * not foldable state, so the event log IS the state of record;
    * `lateness` bounds how far back a session can reopen exactly like
    * the windowed shapes (and like Spark's own session_window +
    * watermark eviction, but with the state queryable as a table).
    */
  def ingestSessionBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, logTable: String, mvTable: String,
      tsCol: String = "ts", userCol: String = "user_id",
      gap: String = "30 minutes", lateness: String = "2 hours",
      foldAfterCommits: Int = 0,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable)
    val logged = admit(batch, mark, tsCol, lateness)
      .select(col(userCol), col(tsCol))
    appendAdmitted(spark, logged, identity, logTable, tsCol, mark,
      batchId, failpoint)
    val c = ChangeFeed.maintainSessionsOnceLog(spark, logTable, mvTable,
      userCol, tsCol, intervalMicros(gap))
    // bounded-retention dial: once the log span exceeds the policy
    // width, collapse the frozen prefix (AFTER the view advanced — the
    // fold is a snapshot, so the next tick's recompute sees the same
    // content either way)
    if (foldAfterCommits > 0 &&
        Generations.logCommits(spark, logTable).size > foldAfterCommits)
      foldSessionLog(spark, logTable, tsCol, userCol, gap, lateness)
    c
  }

  /** HORIZON FOLD for the session-window event log — bounded retention
    * for the one EX5×IVM shape whose state of record is raw events
    * (sums fold by addition, KMV by k-min union; sessions cannot fold
    * pointwise, but their PAST can). A session is CLOSED once
    * `session_end < mark − lateness − gap`: every future admissible
    * event has `ts ≥ mark − lateness > end + gap` (marks only
    * advance), so nothing can ever join, split, or extend it. The fold
    * rewrites the log as ONE summary row per closed session
    * (`tsCol` = start, `_end`, `_n` — additive schema evolution; raw
    * appends keep writing bare events that read as [ts, ts]×1) plus
    * the open sessions' raw rows verbatim — every non-session log
    * column rides through on open rows and is NULL on summary rows,
    * so other views maintained over the same log keep their inputs
    * for everything still inside the horizon — committed as a SNAPSHOT
    * under the usual expectedBase CAS (a concurrent append
    * aborts-and-redoes the fold) with replay witnesses carried.
    * [[ChangeFeed.sessionizeIntervals]]' start-to-previous-end gap
    * test makes the folded log sessionize-EQUAL to the unfolded one —
    * including late arrivals inside the horizon that merge open
    * sessions (StreamingIvmFoldSpec) — so maintenance after a fold is
    * unchanged, and the log the next 100 TB day appends to holds
    * O(closed sessions + live events), not the full event history.
    */
  def foldSessionLog(spark: SparkSession, logTable: String,
      tsCol: String = "ts", userCol: String = "user_id",
      gap: String = "30 minutes", lateness: String = "2 hours",
      maxRetries: Int = 5): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable).getOrElse(return None)
    val horizon = mark - intervalMicros(lateness) - intervalMicros(gap)
    var attempt = 0
    while (true) {
      val base = Generations.latest(spark, logTable).map(_.version)
        .getOrElse(return None)
      val log = Generations.readLog(spark, logTable).getOrElse(return None)
      val assigned = ChangeFeed.sessionizeIntervals(log, userCol, tsCol,
        intervalMicros(gap))
      // a session is closed iff its LAST interval ends before the
      // horizon (max over the session, computed per (user, _seq))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(userCol, "_seq")
      val flagged = assigned.withColumn("_closed",
        max(unix_micros(col("_end"))).over(w) < horizon)
      // every NON-session log column rides through on open rows
      // verbatim (other views maintained over the same log keep their
      // inputs); summary rows null them — a summary stands for many
      // events, so no single payload value is correct there
      val sessionCols = Set(userCol, tsCol, "_end", "_n")
      val extras = log.schema.fields.filterNot(f =>
        sessionCols.contains(f.name))
      val keyCols = Seq(col(userCol), col(tsCol), col("_end"), col("_n"))
      val closed = flagged.filter(col("_closed"))
        .groupBy(col(userCol), col("_seq"))
        .agg(min(col(tsCol)).as(tsCol), max(col("_end")).as("_end"),
          sum(col("_n")).as("_n"))
        .select(keyCols ++
          extras.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      val open = flagged.filter(!col("_closed"))
        .select(keyCols ++ extras.map(f => col(f.name)): _*)
      val folded = closed.unionByName(open)
      try return Some(Generations.writeAndCommit(spark, folded, logTable,
        expectedBase = Some(base)))
      catch {
        case _: Generations.CommitConflictException
          if attempt < maxRetries - 1 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One micro-batch of a maintained per-window TOP-K-ENTITIES view —
    * the same committed-mark admission + witnessed append as
    * [[ingestBatch]] (log rows: `bucket`, `entityCol`, `_v` decimal),
    * then [[ChangeFeed.maintainTopKOnceLog]] re-ranks exactly the
    * WINDOWS the delta touches (top-k is not abelian: one late event
    * can evict a carried entity from its window's ranking, so the
    * window is the closed re-aggregation unit, the way sessions close
    * over users). View: (`bucket`, entityCol, `sum_value` decimal-exact
    * state, `n`, `rank` 1..k, ties broken by entity id) — the trending
    * per-hour top-users shape.
    */
  def ingestTopKBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      logTable: String, mvTable: String,
      tsCol: String = "ts", entityCol: String = "user_id",
      sumCol: String = "value", bucketWidth: String = "1 hour",
      lateness: String = "2 hours", k: Int = 3,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable)
    val logged = admit(batch, mark, tsCol, lateness).select(
      window(col(tsCol), bucketWidth).getField("start").as("bucket"),
      col(entityCol), col(sumCol).cast("decimal(18,4)").as("_v"),
      col(tsCol).as("_ts"))
    appendAdmitted(spark, logged, _.drop("_ts"), logTable,
      "_ts", mark, batchId, failpoint)
    ChangeFeed.maintainTopKOnceLog(spark, logTable, mvTable,
      Seq("bucket")) { log =>
      // rank on the DECIMAL sum (order-independent across plans and
      // engines), entity id as the deterministic tiebreak
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket"))
        .orderBy(col("sum_value").desc, col(entityCol).asc)
      log.groupBy(col("bucket"), col(entityCol))
        .agg(sum(col("_v")).as("sum_value"), count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    }
  }

  /** One micro-batch of a maintained per-window KMV DISTINCT-COUNT
    * sketch view — the same committed-mark admission + witnessed append
    * as [[ingestBatch]], then [[ChangeFeed.maintainKmvOnceLog]] merges
    * the delta's hashes directly into the carried sketch state (KMV is
    * a bounded idempotent abelian monoid, so the pure-delta tick never
    * re-reads the log — the cheapest maintenance class of the EX5×IVM
    * family). The log stores (`bucket`, `_h`) only: the key is hashed
    * to its 60-bit md5 value at append time ([[graft.operators.Sketch
    * .kmvDistinct]]'s hash family, cross-engine replayable), so the
    * log is both minimal and the non-pure-delta recompute source.
    */
  def ingestKmvBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      logTable: String, mvTable: String,
      tsCol: String = "ts", keyCol: String = "user_id",
      bucketWidth: String = "1 hour", lateness: String = "2 hours",
      k: Int = 64,
      failpoint: String => Unit = _ => ()): Option[Generations.Commit] = {
    val mark = highMark(spark, logTable)
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val logged = admit(batch, mark, tsCol, lateness).select(
      window(col(tsCol), bucketWidth).getField("start").as("bucket"),
      h.as("_h"), col(tsCol).as("_ts"))
    appendAdmitted(spark, logged, _.drop("_ts"), logTable,
      "_ts", mark, batchId, failpoint)
    ChangeFeed.maintainKmvOnceLog(spark, logTable, mvTable,
      Seq("bucket"), k)
  }

  /** The streaming entry: `readStream` source → `foreachBatch` →
    * `tick(batch, batchId)`, with `tick` one of the `ingest*Batch`
    * micro-batches, e.g. `start(events, checkpoint)((b, id) =>
    * ingestBatch(b.sparkSession, b, id, logTable, mvTable))`.
    * Checkpointed micro-batch ids + the `batch=<id>` replay witness give
    * end-to-end exactly-once into the view.
    */
  def start(events: DataFrame, checkpoint: String)
      (tick: (DataFrame, Long) => Unit): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        tick(batch.toDF(), id)
      }
      .start()
}
