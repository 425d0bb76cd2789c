package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Incremental
import graft.sinks.Generations

/** Incremental consumption of a [[Generations]] table's change feed —
  * the Delta "streaming read of a CDF-enabled table" shape, built on
  * [[Generations.changesBetween]] (one full-outer key join per poll, no
  * history replay).
  *
  * Two consumption tiers:
  *
  *  - [[pollOnce]]: generic at-least-once delivery to an arbitrary
  *    consumer, with a single-object cursor file advanced only AFTER the
  *    deliver callback returns (deliver-first, the
  *    [[FeedPoller.pollOnce]] ordering) — a crash or throw inside the
  *    consumer re-delivers the same version window next poll, never
  *    drops it. Downstream dedup is the consumer's job (e.g. an
  *    idempotent tagged append keyed on `toVersion`).
  *  - [[maintainAggOnce]]: EXACTLY-once maintenance of an aggregate
  *    view, with no separate cursor at all — the applied source version
  *    rides in the view table's own commit tag (`=cdcv=<version>`, the metadata-snapshot form), so
  *    state and offset commit atomically (the store-offsets-with-the-
  *    data pattern [[TxnSink]] uses for streams). A replayed poll sees
  *    the tag and no-ops; concurrent maintainers race on the view
  *    table's `expectedBase` CAS and the loser aborts cleanly.
  *
  * Feed reach is [[Generations.gc]]'s `keep` dial, exactly like time
  * travel: if the applied-from version has been collected,
  * [[maintainAggOnce]] falls back to a full recompute of the view from
  * the current snapshot (correct at any time — the view law is
  * maintained ≡ recomputed), and generic [[pollOnce]] surfaces the gap
  * to its consumer instead of silently skipping.
  */
object ChangeFeed {

  /** A change-feed delivery: the 4-type changeset (insert /
    * update_preimage / update_postimage / delete) turning the source's
    * `fromVersion` snapshot into `toVersion`. `changes = None` means
    * `fromVersion`'s generation was GC'd and the changeset could not be
    * derived (the consumer must re-sync from a snapshot).
    */
  final case class Delivery(fromVersion: Long, toVersion: Long,
      changes: Option[DataFrame])

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The cursor's last-delivered source version (0 = never delivered).
    * Backed by [[graft.sinks.Pointers]] — an atomic replaceable pointer,
    * so a crash mid-advance can never LOSE the cursor (the r12 ADVICE
    * finding: the old delete-then-rename left a window in which the next
    * poll re-delivered the entire snapshot as a from=0 insert delivery).
    */
  def cursor(spark: SparkSession, cursorPath: String): Long = {
    val p = new Path(cursorPath)
    val fs = fsOf(spark, p)
    graft.sinks.Pointers.read(fs, p.getParent, p.getName)
      .map(_.trim.toLong).getOrElse(0L)
  }

  private def writeCursor(spark: SparkSession, cursorPath: String,
      v: Long): Unit = {
    val p = new Path(cursorPath)
    val fs = fsOf(spark, p)
    // last-writer-wins is fine for a monotone cursor owned by one
    // consumer group; atomicity (never absent, never torn) is Pointers'
    graft.sinks.Pointers.replace(fs, p.getParent, p.getName, v.toString + "\n")
  }

  /** Deliver everything committed past the cursor, then advance it.
    * At-least-once: the cursor moves only after `deliver` returns, so a
    * throw (or crash) inside the consumer re-delivers the same window on
    * the next poll. Returns the delivered (from, to) window, or None if
    * the source has nothing new. A GC'd from-version arrives as a
    * `Delivery` with `changes = None` — the consumer decides how to
    * re-sync (e.g. re-read the full snapshot); the cursor still advances
    * so the gap is crossed exactly once.
    */
  def pollOnce(spark: SparkSession, source: String, keys: Seq[String],
      cursorPath: String)(deliver: Delivery => Unit): Option[(Long, Long)] = {
    val head = latestVersion(spark, source)
    val from = cursor(spark, cursorPath)
    if (head <= from) return None
    val changes =
      if (from == 0L)
        // first poll: the whole snapshot AT `head` is the insert set —
        // pinned at the version the cursor will record, never a fresher
        // read() (a commit landing between latest() and the read would
        // be delivered here AND re-delivered as changes next poll)
        Generations.readAt(spark, source, head).map(inserts)
      else Generations.changesBetween(spark, source, from, head, keys,
        includePreimages = true)
    deliver(Delivery(from, head, changes))
    writeCursor(spark, cursorPath, head)
    Some((from, head))
  }

  /** A maintained view's applied-source-version watermark, in one of
    * its three persisted commit-tag forms: `=cdcv=<v>` for one source,
    * `=cdcv2=<a>-<b>` for a source pair and `=cdcvn=<v1>-…-<vn>` for an
    * N-way join chain. The tag rides the view's own commit, so state and
    * offset publish atomically; after a squash/compaction of the view
    * table folded that commit away, the snapshot's CARRIED witness keeps
    * it (the same mechanism that keeps append replays idempotent across
    * GC keeps the applied-version watermark alive).
    */
  final case class Watermark(prefix: String, arity: Int) {
    def tag(versions: Seq[Long]): String = {
      require(versions.size == arity,
        s"$prefix needs $arity versions, got $versions")
      prefix + versions.mkString("-")
    }

    /** The newest watermark of this form among `tags` (a commit's tag
      * plus its carried witness); all zeros when none parses. A tag of
      * another form or arity, or with a non-numeric part, is ignored.
      * The versions of one view advance together (one tick applies
      * every head), so the newest is the lexicographic max.
      */
    def parse(tags: Seq[String]): Seq[Long] = {
      import scala.math.Ordering.Implicits.seqOrdering
      tags.filter(_.startsWith(prefix)).flatMap { t =>
        val parts = t.stripPrefix(prefix).split("-", -1).toSeq
          .map(_.toLongOption)
        if (parts.size == arity && parts.forall(_.isDefined))
          Some(parts.flatten)
        else None
      }.maxOption.getOrElse(Seq.fill(arity)(0L))
    }
  }

  object Watermark {
    val single: Watermark = Watermark("=cdcv=", 1)
    val pair: Watermark = Watermark("=cdcv2=", 2)
    def chain(n: Int): Watermark = Watermark("=cdcvn=", n)
  }

  /** The versions `mvTable` has applied: its newest commit's `mark`
    * watermark, from the tag or the carried witness. All zeros for an
    * empty or never-maintained view.
    */
  def appliedVersions(spark: SparkSession, mvTable: String,
      mark: Watermark): Seq[Long] =
    appliedAt(Generations.latest(spark, mvTable), mark)

  /** [[appliedVersions]] as recorded by the view commit `c`. */
  private def appliedAt(c: Option[Generations.Commit],
      mark: Watermark): Seq[Long] =
    mark.parse(c.toSeq.flatMap(c => c.tag +: c.carried))

  private def latestVersion(spark: SparkSession, table: String): Long =
    Generations.latest(spark, table).map(_.version).getOrElse(0L)

  /** `source`'s snapshot at the sampled `head` — every read of a tick is
    * pinned at the version its watermark will record. */
  private def headSnap(spark: SparkSession, source: String,
      head: Long): DataFrame =
    Generations.readAt(spark, source, head).getOrElse(
      throw new IllegalStateException(
        s"$source v$head (the latest commit) has no readable generation"))

  /** `df`'s rows as an insert-only change feed. */
  private def inserts(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.select(lit("insert").as("_change_type") +:
      df.columns.toSeq.map(df.col): _*)
  }

  // an empty 4-type feed over `pre`'s schema, for the source whose
  // applied version is already at head when only the OTHER input moved
  private def emptyFeed(pre: DataFrame): DataFrame = inserts(pre.limit(0))

  /** `source`'s change feed from `from` to `to` over its snapshot `pre`
    * at `from`: empty when the source did not move, None when `from`'s
    * generation was GC'd (feed reach = gc keep). */
  private def feedSince(spark: SparkSession, source: String,
      keys: Seq[String], pre: DataFrame, from: Long,
      to: Long): Option[DataFrame] =
    if (from == to) Some(emptyFeed(pre))
    else Generations.changesBetween(spark, source, from, to, keys,
      includePreimages = true)

  /** The log commits in (`applied`, `head`] when they can be applied as
    * a pure delta: the view has a real applied base, the span STARTS at
    * or below it (the span begins at the last snapshot fold — a fold
    * newer than the watermark has eaten the pre-state) and the window
    * above it is a contiguous all-delta run. None otherwise — bootstrap,
    * a squash folding already-applied rows into the window, a GC hole —
    * and the tick recomputes: unioning a fold as if it were a delta
    * double-counts.
    */
  private def deltaWindow(span: Seq[Generations.Commit], applied: Long,
      head: Long): Option[Seq[Generations.Commit]] = {
    val window = span.filter(c => c.version > applied && c.version <= head)
    val pure = applied > 0L && span.nonEmpty &&
      span.head.version <= applied &&
      window.forall(!Generations.isSnapshotCommit(_)) &&
      window.map(_.version).toSet == (applied + 1 to head).toSet
    if (pure) Some(window) else None
  }

  /** The exactly-once tick every maintainer runs, so its race arguments
    * live in one place:
    *
    *  1. `heads` are the source versions the caller sampled: a
    *     `latest()` point sample per snapshot source (every read of the
    *     tick is then `readAt`/`changesBetween` pinned at it), or the
    *     LAST ENTRY of one `logCommits` listing per log source — a
    *     separate `latest()` sample would let a commit landing between
    *     two listings be baked into a view whose watermark does not
    *     record it, and the next tick would re-apply it and
    *     double-count. No-op while any source is empty.
    *  2. ONE `latest()` sample of the view, `mvBase`, gives the applied
    *     watermark (its tag or carried witness), the CAS base and the
    *     view state the body reads (`view()`, a `readAt` pinned at
    *     `mvBase`). Separate samples let a whole tick landing between
    *     them have its window applied twice: read from the old watermark
    *     onto the new state, under a CAS base that already includes it.
    *  3. No-op when the view has applied every head. With `staleBail`
    *     (the log-join forms), also when the view has already passed a
    *     sampled head: a concurrent tick completed after this tick's
    *     listing, and proceeding would rebuild from a stale pre-state and
    *     commit a tag that REGRESSES the watermark, re-applying the
    *     commits in between next tick. The expectedBase CAS cannot fence
    *     it: that commit landed before `mvBase` is read.
    *  4. `next(applied, view)` commits with the watermark tag of `heads`
    *     under `expectedBase = Some(mvBase)`: the new state and the
    *     applied versions publish in ONE commit, and a concurrent
    *     maintainer's CAS loss throws
    *     [[Generations.CommitConflictException]] — redo by calling again.
    *     `next` returning None (the view table vanished mid-tick) commits
    *     nothing.
    */
  private def tick(spark: SparkSession, mvTable: String, mark: Watermark,
      heads: Seq[Long], staleBail: Boolean = false)
      (next: (Seq[Long], () => Option[DataFrame]) => Option[DataFrame])
      : Option[Generations.Commit] = {
    if (heads.contains(0L)) return None
    val base = Generations.latest(spark, mvTable)
    val applied = appliedAt(base, mark)
    val lag = applied.zip(heads)
    if (lag.forall { case (a, h) => a >= h }) return None
    if (staleBail && lag.exists { case (a, h) => a > h }) return None
    val mvBase = base.map(_.version).getOrElse(0L)
    next(applied, () => base.flatMap(c =>
        Generations.readAt(spark, mvTable, c.version)))
      .map(Generations.writeAndCommit(spark, _, mvTable,
        tag = mark.tag(heads), expectedBase = Some(mvBase)))
  }

  /** [[tick]] over ONE append-only log source: one commit listing is the
    * tick's entire view of the source (its last entry is the head, and
    * the listing's span read as one frame is the log content at head).
    * While the window is a pure delta ([[deltaWindow]]) the view
    * advances by `incremental(mv, delta, content)` — `delta` the
    * unapplied commits' rows, `content` the log at head, read only when
    * called; otherwise it is `recompute(content)`.
    */
  private def logTick(spark: SparkSession, source: String, mvTable: String)
      (recompute: DataFrame => DataFrame)
      (incremental: (DataFrame, DataFrame, () => DataFrame) => DataFrame)
      : Option[Generations.Commit] = {
    val span = Generations.logCommits(spark, source)
    val head = span.lastOption.map(_.version).getOrElse(0L)
    tick(spark, mvTable, Watermark.single, Seq(head)) { (applied, view) =>
      def content = Generations.readSpan(spark, source, span)
      deltaWindow(span, applied.head, head) match {
        case Some(window) =>
          val delta = Generations.readSpan(spark, source, window)
          view().map(incremental(_, delta, () => content))
        case None => Some(recompute(content))
      }
    }
  }

  /** Advance an aggregate view to the source's current version —
    * bootstrap on first call (full aggregate of the current snapshot),
    * retraction-maintenance ([[Incremental.maintainAgg]]) after, full
    * recompute when GC has cut the feed under the view. Exactly-once by
    * construction ([[tick]]): the new state and the applied source
    * version publish in ONE commit (tag `=cdcv=<version>`, `expectedBase`
    * CAS on the view table).
    *
    * @param aggOf the full-recompute form of the view (used for
    *   bootstrap and GC-gap recovery); `sumCols`/`countCol` describe its
    *   stored state for the incremental path, as in
    *   [[Incremental.maintainAgg]]
    * @param minCols/maxCols stored MIN/MAX state columns (may be empty):
    *   maintained via [[Incremental.maintainAggMinMax]]'s dirty-group
    *   re-aggregation against the source snapshot at the applied head
    * @return the view commit made, or None if already current
    */
  def maintainAggOnce(spark: SparkSession, source: String,
      sourceKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty)
      (aggOf: DataFrame => DataFrame): Option[Generations.Commit] = {
    val head = latestVersion(spark, source)
    tick(spark, mvTable, Watermark.single, Seq(head)) { (applied, view) =>
      val incremental = if (applied.head == 0L) None else for {
        mv <- view()
        changes <- Generations.changesBetween(spark, source, applied.head,
          head, sourceKeys, includePreimages = true)
      } yield Incremental.maintainAggOrMinMax(mv, changes,
        headSnap(spark, source, head), mvKeys, sumCols, countCol,
        minCols, maxCols)
      // bootstrap, or the applied version's generation is GC'd (feed
      // reach = gc keep): recompute from the snapshot AT `head` — the
      // version the =cdcv= tag records. A plain read() here would bake
      // in any commit landing between latest() and the read while
      // tagging only `head`, so the next poll re-applies it as changes
      // and double-counts (exactly-once would be broken at bootstrap).
      Some(incremental.getOrElse(aggOf(headSnap(spark, source, head))))
    }
  }

  /** [[maintainAggOnce]] for an APPEND-ONLY (log) source — the streaming
    * ingest shape, where each commit is a delta whose rows simply add
    * ([[graft.streaming.TxnSink]]'s `batch=<id>` tables). The change
    * feed needs no diff at all: the changes between the applied version
    * and head ARE the delta commits in that window, read directly as
    * `insert` rows (zero joins to derive the feed — cheaper than the
    * snapshot form, which is why log sources get their own path instead
    * of a snapshot diff that would be WRONG here: `readAt` on a log
    * table yields one commit's delta, not the accumulated content).
    *
    * Falls back to a full recompute (`aggOf` over the log content AT
    * the recorded head — the tick's single [[Generations.logCommits]]
    * listing, whose last entry defines the head; a separate live
    * [[Generations.readLog]] would bake a concurrently-landed commit
    * into a view whose `=cdcv=` watermark doesn't record it and
    * double-count it next tick) whenever the window cannot be proven a
    * pure delta: bootstrap, a squash/snapshot commit inside the window
    * (its generation folds rows already applied — unioning it would
    * double-count), or GC-pruned window commits. Exactly-once
    * identically to [[maintainAggOnce]]: the applied version rides the
    * view's `=cdcv=<v>` tag + expectedBase CAS.
    */
  def maintainAggOnceLog(spark: SparkSession, source: String,
      mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty)
      (aggOf: DataFrame => DataFrame): Option[Generations.Commit] =
    logTick(spark, source, mvTable)(aggOf) { (mv, delta, content) =>
      // insert-only feed ⇒ no dirty groups ⇒ the min/max post-source
      // scan prunes to nothing at runtime; passed for the general shape
      // (pinned at head like every other read of this tick)
      Incremental.maintainAggOrMinMax(mv, inserts(delta), content(),
        mvKeys, sumCols, countCol, minCols, maxCols)
    }

  /** Dirty-group epilogue shared by the non-abelian/log maintainers:
    * carry the untouched groups' view rows (anti join on the dirty
    * keys), re-projected to the recomputed frame's column order
    * (using-joins reorder; the parquet write is positional), unioned
    * with the recomputed dirty groups. */
  private def carryAndUnion(mv: DataFrame, dirty: DataFrame,
      keys: Seq[String], redone: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    mv.join(dirty, keys, "left_anti")
      .select(redone.columns.map(col).toIndexedSeq: _*)
      .unionByName(redone)
  }

  /** The incremental body of the non-abelian log views, whose smallest
    * closed re-aggregation unit is a GROUP: re-run `redo` over the log
    * rows at head of exactly the `keys` groups the delta touches, and
    * carry every other group's view rows untouched. */
  private def redoDirty(keys: Seq[String])(redo: DataFrame => DataFrame)
      : (DataFrame, DataFrame, () => DataFrame) => DataFrame = {
    (mv, delta, content) =>
      import org.apache.spark.sql.functions.col
      val dirty = delta.select(keys.map(col): _*).distinct()
      carryAndUnion(mv, dirty, keys,
        redo(content().join(dirty, keys, "left_semi")))
  }

  /** INTERVAL-generalized session assignment — the shared core of
    * [[maintainSessionsOnceLog]] and
    * [[StreamingIvm.foldSessionLog]]'s bounded-retention fold. A log
    * row is either a raw event (`tsCol` only — reads as the degenerate
    * interval [ts, ts] carrying 1 event) or a folded CLOSED session
    * (`tsCol` = start, `_end`, `_n` — one row standing for a whole
    * session's events). The gap test runs start-to-previous-END, so a
    * summary row sessionizes exactly like the events it replaced:
    * within one user the intervals are disjoint by construction (a
    * fold only collapses maximal closed sessions, and admission keeps
    * every later event > end + gap), so `lag(_end)` IS the running
    * session boundary. Emits the input columns + `_end`, `_n`, `_seq`
    * (per-user session ordinal).
    */
  private[streaming] def sessionizeIntervals(events: DataFrame,
      userCol: String, tsCol: String, gapMicros: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spanned = {
      val e = if (events.columns.contains("_end")) events
        else events.withColumn("_end", col(tsCol))
      val n = if (e.columns.contains("_n")) e
        else e.withColumn("_n", lit(1L))
      n.withColumn("_end", coalesce(col("_end"), col(tsCol)))
        .withColumn("_n", coalesce(col("_n"), lit(1L)))
    }
    val byUser = Window.partitionBy(userCol).orderBy(tsCol, "_end")
    val cum = byUser.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    spanned
      .withColumn("_prev", lag(col("_end"), 1).over(byUser))
      .withColumn("_new", (col("_prev").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("_prev")) > gapMicros)
        .cast("int"))
      .withColumn("_seq", sum(col("_new")).over(cum))
      .drop("_prev", "_new")
  }

  /** Advance a maintained gap-based SESSION-WINDOW view over an
    * APPEND-ONLY event log — the last EX5×IVM shape. Sessions are NOT an
    * abelian aggregate: one late event can MERGE two existing sessions
    * (and merging chains transitively through any number of neighbours
    * within a user), so the smallest closed re-aggregation unit is the
    * ENTITY, not the session. Each tick re-sessionizes, from the full
    * log at head, exactly the users that appear in the delta window and
    * carries every other user's view rows untouched — the
    * [[maintainAggOnceLog]] dirty-group path with re-sessionization as
    * the group recompute.
    *
    * Per-tick cost: delta scan (dirty keys) + a log scan semi-joined to
    * the dirty users + one anti join on the view — O(dirty users'
    * history), never a full recompute while the window is a pure delta.
    * At 100 TB the log is bucketed by `userCol` so the dirty-user
    * semi-join prunes to their buckets; lateness (enforced upstream by
    * the [[StreamingIvm]] admission mark) bounds how far back a session
    * can reopen, exactly like a state-store watermark.
    *
    * View schema: (`userCol`, session_start, session_end, n_events).
    * Exactly-once identically to [[maintainAggOnceLog]]: ONE commit
    * listing defines the span, the applied version rides the view's
    * `=cdcv=<head>` tag, and the expectedBase CAS rejects concurrent
    * maintainers.
    */
  def maintainSessionsOnceLog(spark: SparkSession, source: String,
      mvTable: String, userCol: String, tsCol: String,
      gapMicros: Long): Option[Generations.Commit] = {
    import org.apache.spark.sql.functions._
    // ordering within equal timestamps is non-deterministic but the
    // result is invariant: a 0-µs gap never opens a session, and
    // min/max/count don't see row order
    def sessionize(events: DataFrame): DataFrame =
      sessionizeIntervals(events, userCol, tsCol, gapMicros)
        .groupBy(col(userCol), col("_seq"))
        .agg(min(col(tsCol)).as("session_start"),
          max(col("_end")).as("session_end"),
          sum(col("_n")).as("n_events"))
        .drop("_seq")
    logTick(spark, source, mvTable)(sessionize)(
      redoDirty(Seq(userCol))(sessionize))
  }

  /** Advance a maintained per-group TOP-K view over an APPEND-ONLY
    * event log — the seventh EX5×IVM shape. Top-k is NOT an abelian
    * aggregate: a delta row can EVICT a carried row, and the evicted
    * row cannot be reconstructed from the view alone (it left with no
    * trace), so like sessions the smallest closed re-aggregation unit
    * is the GROUP — each tick re-ranks, from the log at head, exactly
    * the groups the delta touches, and carries every other group's
    * rows untouched ([[carryAndUnion]]). Per-tick cost: delta scan
    * (dirty groups) + a log scan semi-joined to the dirty groups + one
    * anti join on the view — O(dirty groups' history), never a full
    * recompute while the window is a pure delta.
    *
    * `rankOf` builds the per-group ranked view from log rows (it must
    * emit `groupKeys` plus the ranked view columns — typically a
    * per-(group, entity) aggregate, a `row_number` window, and a
    * `rank <= k` filter).
    */
  def maintainTopKOnceLog(spark: SparkSession, source: String,
      mvTable: String, groupKeys: Seq[String])
      (rankOf: DataFrame => DataFrame): Option[Generations.Commit] =
    logTick(spark, source, mvTable)(rankOf)(redoDirty(groupKeys)(rankOf))

  /** Advance a maintained KMV distinct-count sketch view over an
    * APPEND-ONLY hash log — the FOLDABLE-state EX5×IVM shape, the
    * algebraic opposite of [[maintainSessionsOnceLog]]: KMV state (each
    * group's k smallest distinct 60-bit key hashes,
    * [[graft.operators.Sketch.kmvDistinct]]) is a bounded idempotent
    * commutative monoid under union∘k-min — the k smallest of
    * (history ∪ delta) equal the k smallest of (k-min(history) ∪
    * delta) — so the pure-delta tick merges the delta into THE CARRIED
    * STATE ITSELF and never re-reads the log (sessions must re-read the
    * dirty users' history; sums carry no per-row state but are not
    * idempotent under replay without the witness). This is why sketch
    * views are the streaming-distinct answer at 100 TB: per-tick cost
    * is O(delta + dirty_groups·k), view state is groups·k longs
    * regardless of stream length, and a re-merged delta is a no-op by
    * algebra alone.
    *
    * The log carries (`groupCols…`, `_h`) rows — the 60-bit hash IS the
    * logged fact; on the non-pure-delta path (bootstrap, squash in the
    * window, GC gap) the sketch recomputes from the log content at
    * head. View schema: (`groupCols…`, `hashes` ARRAY<LONG> ascending
    * (≤ k), `n_kept`, `hk`, `est_kmv`), estimate (k−1)·2⁶⁰/h₍ₖ₎ (exact
    * n_kept below k). Exactly-once identically to
    * [[maintainAggOnceLog]]: one commit listing defines the span, the
    * applied version rides the `=cdcv=<head>` tag + expectedBase CAS.
    */
  def maintainKmvOnceLog(spark: SparkSession, source: String,
      mvTable: String, groupCols: Seq[String],
      k: Int = 64): Option[Generations.Commit] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val twoPow60 = 1152921504606846976.0 // 2^60 as an exact double
    val gCols = groupCols.map(col)
    // k-min cut + estimate over (group, _h) rows; WindowGroupLimit makes
    // the rank window forward ≤ k rows per group per map task
    def kminOf(hashes: DataFrame): DataFrame = {
      val w = Window.partitionBy(gCols: _*).orderBy(col("_h"))
      hashes.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .groupBy(gCols: _*)
        .agg(sort_array(collect_list(col("_h"))).as("hashes"),
          count(lit(1)).as("n_kept"), max(col("_h")).as("hk"))
        .withColumn("est_kmv",
          when(col("n_kept") < k, col("n_kept").cast("double"))
            .otherwise(lit(k - 1) * lit(twoPow60) / col("hk")))
    }
    def hashesOf(log: DataFrame): DataFrame =
      log.select(gCols :+ col("_h"): _*).distinct()
    logTick(spark, source, mvTable)(log => kminOf(hashesOf(log))) {
      (mv, deltaRows, _) =>
        val delta = hashesOf(deltaRows)
        val dirty = delta.select(gCols: _*).distinct()
        // carried sketch state of the dirty groups, exploded back to
        // (group, _h) rows — the ONLY history this tick touches
        val carriedState = mv.join(dirty, groupCols, "left_semi")
          .select(gCols :+ explode(col("hashes")).as("_h"): _*)
        val merged = kminOf(carriedState.unionByName(delta).distinct())
        carryAndUnion(mv, dirty, groupCols, merged)
    }
  }

  /** One tick of the turnkey changelog tailer — the [[FeedPoller]]
    * treatment for a [[Generations]] change feed: everything committed
    * to `source` past this consumer's watermark lands in `sinkTable` as
    * ONE idempotent tagged append (`consumerId=<sourceVersion>`), and
    * that tag IS the cursor: [[graft.sinks.Generations.lastAppendId]]
    * re-derives the consumed-through version from the sink itself, so
    * there is no separate cursor object whose advance could race the
    * delivery. Exactly-once BY CONSTRUCTION, not by replay dedup alone:
    * a crash before the append re-delivers (the watermark never moved);
    * a crash after it is a visible no-op (the append witness). The
    * deliver-then-advance pair a cursor file needs ([[pollOnce]]) isn't
    * merely ordered here — it is one atomic commit, which also closes
    * the widened-window hazard: if the source advances between a crash
    * and the retry, the retry's window STARTS at the sink's witness, so
    * the already-appended changes are never re-derived into an
    * overlapping batch.
    *
    * Sink rows are the 4-type changeset plus a `_resync` flag: normally
    * false; when GC has cut the feed under the watermark the tick
    * appends the full snapshot at the source head as `insert` rows with
    * `_resync = true` — a re-baseline the downstream applier must treat
    * as a fresh base image, the standard changelog-stream answer to a
    * retention gap.
    *
    * Schedule it like any harvester tick (cron / AvailableNow loop).
    * Each tick: one pointer read on each side + the changes join.
    * Returns the (from, to] window applied, or None when current.
    */
  def tailOnce(spark: SparkSession, source: String, keys: Seq[String],
      sinkTable: String, consumerId: String = "cdc"): Option[(Long, Long)] = {
    require(!consumerId.contains("=") && !consumerId.contains(" ") &&
      consumerId.nonEmpty, s"consumerId must be a bare prefix: '$consumerId'")
    import org.apache.spark.sql.functions.lit
    val head = latestVersion(spark, source)
    val from = Generations.lastAppendId(spark, sinkTable, consumerId)
      .getOrElse(0L)
    if (head <= from) return None
    val batch = (if (from == 0L) None
      else Generations.changesBetween(spark, source, from, head, keys,
        includePreimages = true).map(_.withColumn("_resync", lit(false)))
    ).getOrElse {
      // first delivery, or the watermark's generation was GC'd: the
      // snapshot AT head is the (re-)base image
      inserts(headSnap(spark, source, head))
        .withColumn("_resync", lit(from != 0L))
    }
    Generations.appendCommitted(spark, batch, sinkTable,
      s"$consumerId=$head")
    Some((from, head))
  }

  /** Advance an aggregate-over-JOIN view `V = agg(A ⋈ B)` to both
    * sources' current versions — the multi-table IVM tier, composing
    * [[Incremental.deltaJoin]] (the signed delta-join identity turns
    * ΔA/ΔB into the join's own change feed) with
    * [[Incremental.maintainAgg]]'s retraction maintenance. Exactly-once
    * identically to [[maintainAggOnce]], except the watermark is the
    * version PAIR: `=cdcv2=<vA>-<vB>` rides the view's own commit (one
    * atomic state+offset publish, `expectedBase` CAS against concurrent
    * maintainers, carried through squash/GC by the witness).
    *
    * Incremental path per tick: each source's change feed is derived at
    * its own pace (a tick where only A moved joins an EMPTY B-delta —
    * two of the three delta-join terms prune to nothing at runtime),
    * each PRE snapshot is read once via time travel at the applied
    * version, and the view advances by one delta groupBy + one key
    * join — the post-change tables are never re-joined. Falls back to a
    * full `aggOf(A, B)` recompute at the heads on bootstrap or when GC
    * cut either feed under the watermark (the law makes recompute
    * always correct).
    *
    * Non-key column names must be disjoint across A and B
    * ([[Incremental.deltaJoin]]'s contract). With `minCols`/`maxCols`,
    * dirty groups re-aggregate against the post-change JOIN
    * (`A_head ⋈ B_head`) — that join is dirty-key-pruned by the
    * maintenance's inner join, so its cost is bounded by the changed
    * groups' rows, not the tables.
    *
    * `leftOuter = true` maintains `V = agg(A ⟕ B)` instead, via
    * [[Incremental.deltaJoinLeft]] — null-extension rows (A-rows whose
    * key has no B match) enter and leave the view as their key's
    * B-match count crosses zero; `aggOf` and any min/max post-source
    * re-aggregation use the left join accordingly. Stored sums over
    * B-payload columns should be COALESCEd at read time (an all-null
    * group's SQL sum is NULL; retraction arithmetic carries 0).
    *
    * @param aggOf full-recompute form over (A, B) snapshots, used at
    *   bootstrap and for GC-gap recovery
    */
  def maintainJoinAggOnce(spark: SparkSession,
      sourceA: String, aKeys: Seq[String],
      sourceB: String, bKeys: Seq[String], joinKeys: Seq[String],
      mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty,
      leftOuter: Boolean = false)
      (aggOf: (DataFrame, DataFrame) => DataFrame): Option[Generations.Commit] = {
    val (headA, headB) = (latestVersion(spark, sourceA),
      latestVersion(spark, sourceB))
    tick(spark, mvTable, Watermark.pair, Seq(headA, headB)) { (applied, view) =>
      val Seq(appA, appB) = applied
      val incremental: Option[DataFrame] =
        if (appA == 0L || appB == 0L) None // never maintained: bootstrap
        else for {
          mv <- view()
          aPre <- Generations.readAt(spark, sourceA, appA)
          bPre <- Generations.readAt(spark, sourceB, appB)
          aChanges <- feedSince(spark, sourceA, aKeys, aPre, appA, headA)
          bChanges <- feedSince(spark, sourceB, bKeys, bPre, appB, headB)
        } yield {
          // B's post-state is a committed snapshot (time travel at headB)
          // — the two-term feed identity applies (r20, one join fewer)
          val bPost = headSnap(spark, sourceB, headB)
          val feed =
            if (leftOuter)
              Incremental.deltaJoinLeft(aPre, aChanges, bPre, bChanges,
                joinKeys, bPost = Some(bPost))
            else Incremental.deltaJoinPost(aPre, aChanges, bPost, bChanges,
              joinKeys)
          Incremental.maintainAggOrMinMax(mv, feed,
            headSnap(spark, sourceA, headA).join(bPost, joinKeys,
              if (leftOuter) "left" else "inner"),
            mvKeys, sumCols, countCol, minCols, maxCols)
        }
      Some(incremental.getOrElse(aggOf(headSnap(spark, sourceA, headA),
        headSnap(spark, sourceB, headB))))
    }
  }

  /** EXACTLY-once maintenance of a TOP-K-rows-per-group view
    * ([[Incremental.maintainTopK]] — insert-only groups rank-merge,
    * retraction-touched groups re-rank from the source snapshot at the
    * head being applied), under the same `=cdcv=<v>` watermark
    * machinery as [[maintainAggOnce]]. The view stores `viewCols` of
    * the source row (all columns when empty; must include the group,
    * ranking and tiebreak columns) — [[Incremental.maintainTopK]]
    * narrows the feed and the re-rank source to the view's own schema,
    * so images differing only in dropped columns become harmless dirty
    * marks (a re-rank that finds nothing changed).
    */
  def maintainTopKOnce(spark: SparkSession, source: String,
      sourceKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      orderCol: String, tieCol: String, k: Int,
      viewCols: Seq[String] = Nil): Option[Generations.Commit] = {
    import org.apache.spark.sql.functions.{col, row_number}
    val head = latestVersion(spark, source)
    def narrow(df: DataFrame): DataFrame =
      if (viewCols.isEmpty) df else df.select(viewCols.map(col): _*)
    tick(spark, mvTable, Watermark.single, Seq(head)) { (applied, view) =>
      val incremental = if (applied.head == 0L) None else for {
        top <- view()
        changes <- Generations.changesBetween(spark, source, applied.head,
          head, sourceKeys, includePreimages = true)
      } yield Incremental.maintainTopK(top, changes,
        headSnap(spark, source, head), mvKeys, orderCol, tieCol, k)
      Some(incremental.getOrElse {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(mvKeys.map(col): _*)
          .orderBy(col(orderCol).desc, col(tieCol).asc)
        narrow(headSnap(spark, source, head))
          .withColumn("_r", row_number().over(w))
          .filter(col("_r") <= k).drop("_r")
      })
    }
  }

  /** One input of [[maintainJoinsAggOnce]]: a committed
    * [[Generations]] table and the PRIMARY keys its change feed diffs
    * on (its merge keys — distinct from the join keys linking it into
    * the chain). */
  final case class JoinSource(table: String, keys: Seq[String])

  /** [[maintainJoinAggOnce]] generalized to an N-way LINEAR join chain
    * `V = agg(S₁ ⋈ S₂ ⋈ … ⋈ Sₙ)` (inner equi-joins; `joinKeys(i)`
    * links the accumulated left side to `sources(i + 1)`). The feed is
    * the delta-join identity FOLDED up the chain —
    * Δ(L ⋈ Sᵢ) = deltaJoin(L_pre, ΔL, Sᵢ_pre, ΔSᵢ) with the
    * accumulated pre-join as each step's static side — which is
    * exactly the composition the `mv_cdc_join3_revenue` law pins, here
    * under the exactly-once machinery: the applied version VECTOR
    * `=cdcvn=<v1>-…-<vn>` rides the view's own commit (expectedBase
    * CAS, squash/GC-surviving witness). Any input's GC gap or a
    * bootstrap falls back to `aggOf` over the head snapshots.
    *
    * Scale shape per tick: each source read once at its applied
    * version; each fold step joins pre-states against delta-sized
    * sides. Non-key columns must be disjoint across all sources.
    */
  def maintainJoinsAggOnce(spark: SparkSession, sources: Seq[JoinSource],
      joinKeys: Seq[Seq[String]], mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String)
      (aggOf: Seq[DataFrame] => DataFrame): Option[Generations.Commit] = {
    require(sources.size >= 2, "need at least two join inputs")
    require(joinKeys.size == sources.size - 1,
      s"need ${sources.size - 1} join-key sets for ${sources.size} inputs")
    val heads = sources.map(s => latestVersion(spark, s.table))
    tick(spark, mvTable, Watermark.chain(sources.size), heads) {
        (applied, view) =>
      val incremental: Option[DataFrame] =
        if (applied.contains(0L)) None // never maintained: bootstrap
        else {
          val parts: Seq[Option[(DataFrame, DataFrame)]] =
            sources.indices.map { i =>
              for {
                pre <- Generations.readAt(spark, sources(i).table, applied(i))
                changes <- feedSince(spark, sources(i).table,
                  sources(i).keys, pre, applied(i), heads(i))
              } yield (pre, changes)
            }
          if (parts.exists(_.isEmpty)) None // a GC gap somewhere: recompute
          else view().map { mv =>
            val ps = parts.map(_.get)
            var (preAcc, feedAcc) = (ps.head._1,
              Incremental.deltaJoin(ps.head._1, ps.head._2,
                ps(1)._1, ps(1)._2, joinKeys.head))
            preAcc = preAcc.join(ps(1)._1, joinKeys.head)
            for (i <- 2 until sources.size) {
              feedAcc = Incremental.deltaJoin(preAcc, feedAcc,
                ps(i)._1, ps(i)._2, joinKeys(i - 1))
              preAcc = preAcc.join(ps(i)._1, joinKeys(i - 1))
            }
            Incremental.maintainAgg(mv, feedAcc, mvKeys, sumCols, countCol)
          }
        }
      Some(incremental.getOrElse(aggOf(sources.indices.map(i =>
        headSnap(spark, sources(i).table, heads(i))))))
    }
  }

  /** EXACTLY-once maintenance of a COUNT-DISTINCT view: the stored
    * state is the SUPPORT table ([[Incremental.maintainDistinct]] —
    * one row per (view key, distinct value) with its live row count,
    * maintained by plain retraction), advanced from the source's change
    * feed under the same `=cdcv=<v>`-tag watermark as
    * [[maintainAggOnce]]. Read the user-facing distinct counts with
    * [[distinctView]] — one groupBy over the |distinct|-bounded
    * support, derived at read time exactly like avg over sum/count.
    */
  def maintainDistinctOnce(spark: SparkSession, source: String,
      sourceKeys: Seq[String], supportTable: String, mvKeys: Seq[String],
      distinctCols: Seq[String]): Option[Generations.Commit] =
    maintainAggOnce(spark, source, sourceKeys, supportTable,
      mvKeys ++ distinctCols, sumCols = Map.empty,
      countCol = "_support_n") { snap =>
      import org.apache.spark.sql.functions.{col, count, lit}
      snap.groupBy((mvKeys ++ distinctCols).map(col): _*)
        .agg(count(lit(1)).as("_support_n"))
    }

  /** The distinct counts a [[maintainDistinctOnce]] support table
    * holds, derived at read time. None if never maintained. */
  def distinctView(spark: SparkSession, supportTable: String,
      mvKeys: Seq[String], as: String = "n_distinct"): Option[DataFrame] =
    Generations.read(spark, supportTable)
      .map(Incremental.distinctOf(_, mvKeys, as))

  /** [[maintainJoinAggOnce]] for a streaming FACT LOG joined to a
    * snapshot DIMENSION — the production shape of a micro-batch ingest
    * feeding an enriched view: the fact source is an append-only
    * [[Generations]] log ([[TxnSink]]'s `batch=<id>` tables), whose
    * change feed IS the unapplied delta commits read as inserts (zero
    * joins to derive — [[maintainAggOnceLog]]'s observation), while the
    * dimension side diffs between snapshots like any merge table. The
    * delta join then advances `agg(fact ⋈ dim)` with each base scanned
    * once against a delta-sized side.
    *
    * Fact PRE-state reconstruction: the accumulated log at the applied
    * version = the live log span's commits ≤ that version — valid only
    * when the window above the watermark is a pure delta
    * ([[deltaWindow]]); otherwise (bootstrap, squash inside or after the
    * watermark, GC gap on either side) the view recomputes from the
    * current snapshots, which the law makes always correct.
    * Exactly-once via the same `=cdcv2=<vF>-<vD>` pair watermark +
    * expectedBase CAS as the snapshot form.
    */
  def maintainJoinAggOnceLog(spark: SparkSession,
      factLog: String, dimTable: String, dimKeys: Seq[String],
      joinKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String)
      (aggOf: (DataFrame, DataFrame) => DataFrame): Option[Generations.Commit] =
    // headF is the LAST ENTRY of the one fact-log listing every read of
    // this tick derives from ([[tick]] step 1); headD is safe as a point
    // sample because every dim read below is readAt / changesBetween
    // pinned at the sampled versions.
    maintainJoinAggOnceLogAt(spark,
      Generations.logCommits(spark, factLog),
      latestVersion(spark, dimTable),
      factLog, dimTable, dimKeys, joinKeys, mvTable, mvKeys,
      sumCols, countCol)(aggOf)

  /** [[maintainJoinAggOnceLog]] body over an ALREADY-sampled fact-log
    * listing + dim head — package-private so ChangeFeedSpec can feed a
    * STALE sample and pin the stale-listing bail (the r14-ADVICE race:
    * a full concurrent tick completing between this tick's listing and
    * its watermark read must make this tick a no-op, never a
    * watermark-regressing commit). */
  private[graft] def maintainJoinAggOnceLogAt(spark: SparkSession,
      span: Seq[Generations.Commit], headD: Long,
      factLog: String, dimTable: String, dimKeys: Seq[String],
      joinKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String)
      (aggOf: (DataFrame, DataFrame) => DataFrame): Option[Generations.Commit] = {
    val headF = span.lastOption.map(_.version).getOrElse(0L)
    tick(spark, mvTable, Watermark.pair, Seq(headF, headD),
        staleBail = true) { (applied, view) =>
      val Seq(appF, appD) = applied
      val incremental: Option[DataFrame] =
        if (appD == 0L) None
        else deltaWindow(span, appF, headF).flatMap { window =>
          for {
            mv <- view()
            dimPre <- Generations.readAt(spark, dimTable, appD)
            dimChanges <- feedSince(spark, dimTable, dimKeys, dimPre,
              appD, headD)
          } yield {
            val factPre = Generations.readSpan(spark, factLog,
              span.filter(_.version <= appF))
            val factFeed =
              if (window.isEmpty) emptyFeed(factPre)
              else inserts(Generations.readSpan(spark, factLog, window))
            Incremental.maintainAgg(mv, Incremental.deltaJoin(factPre,
              factFeed, dimPre, dimChanges, joinKeys),
              mvKeys, sumCols, countCol)
          }
        }
      // the span IS the fact content at headF
      Some(incremental.getOrElse(aggOf(
        Generations.readSpan(spark, factLog, span),
        headSnap(spark, dimTable, headD))))
    }
  }

  /** Reserved marker column of FOLDED-AWAY summary rows inside a
    * stream⋈stream log ([[foldStreamJoinLogOnce]]): true on rows that
    * carry a pre-aggregated contribution of pairs no longer derivable
    * from raw rows, absent/false/null on raw event rows. Raw appends
    * never write it; the pair-builder never sees rows marked with it.
    */
  val GsumCol = "_gsum"

  /** Test observability: whether THIS thread's last
    * [[maintainStreamJoinOnceLogs]] advanced through the incremental
    * path (true) or the recompute path (false) — the fold-resume specs
    * pin which path a post-fold tick takes.
    */
  val lastMaintainIncremental: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => false)

  /** The raw (pair-formable) rows of a possibly-folded log. */
  private def rawOf(df: DataFrame): DataFrame =
    if (df.columns.contains(GsumCol)) {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      df.filter(coalesce(col(GsumCol), lit(false)) === false)
    } else df

  /** [[rawOf]] plus dropping the summary-machinery columns (the marker
    * and the view's sum/count names — RESERVED in folded logs), so a
    * pair-builder that keeps all columns (the equi join) sees the same
    * schema before and after a fold.
    */
  private def rawCols(df: DataFrame, sumNames: Seq[String],
      countCol: String): DataFrame =
    rawOf(df).drop((GsumCol +: sumNames :+ countCol): _*)

  /** The folded summary rows of a log, projected to the view schema
    * (None when the log was never folded).
    */
  private def sumsOf(df: DataFrame, mvKeys: Seq[String],
      sumNames: Seq[String], countCol: String): Option[DataFrame] =
    if (!df.columns.contains(GsumCol)) None
    else {
      import org.apache.spark.sql.functions.col
      Some(df.filter(col(GsumCol) === true)
        .select((mvKeys ++ sumNames :+ countCol).map(col): _*))
    }

  /** Merge folded summaries into a recomputed aggregate: union on the
    * view columns, re-sum, and cast back to the recompute's types (sums
    * are decimal STATE by the pack's hash-safety convention, so the
    * re-sum is exact and order-independent; `sum()` widening is undone
    * by the final cast).
    */
  private def mergeAggs(agg: DataFrame, sums: Seq[DataFrame],
      mvKeys: Seq[String], sumNames: Seq[String],
      countCol: String): DataFrame = {
    if (sums.isEmpty) return agg
    import org.apache.spark.sql.functions.{col, sum}
    val names = mvKeys ++ sumNames :+ countCol
    val aligned = sums.map(s => s.select(names.map(n =>
      col(n).cast(agg.schema(n).dataType).as(n)): _*))
    val u = (agg.select(names.map(col): _*) +: aligned)
      .reduce(_ unionByName _)
    val valueCols = sumNames :+ countCol
    val merged = u.groupBy(mvKeys.map(col): _*)
      .agg(sum(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(n => sum(col(n)).as(n)): _*)
    merged.select(names.map(n =>
      col(n).cast(agg.schema(n).dataType).as(n)): _*)
  }

  /** BAND-HORIZON FOLD of ONE side of a maintained stream⋈stream view's
    * log pair (r18 VERDICT #2) — [[graft.streaming.StreamingIvm
    * .foldSessionLog]]'s pattern applied to [[maintainStreamJoinOnceLogs]]:
    * without it every tick's delta join re-scans the FULL retained logs
    * (the one per-tick growth term), so at 100 TB retention the log IS
    * the bottleneck even though each shuffle is delta-sized.
    *
    * CONTRACT (the caller's to prove, from its admission marks): a
    * `foldLog` row with `tsCol < horizonMicros` can NEVER form a pair
    * with any FUTURE delta row of the other log. For the time-band
    * attribution shape the horizons follow from the committed marks
    * (see [[StreamingIvm.foldAttributionLogs]]); a pure equi join has
    * no such horizon unless the caller DECLARES a key-pairing TTL — an
    * undeclared equi shape must retain its logs in full (the documented
    * retention contract of [[StreamingIvm.ingestStreamJoinBatch]]).
    *
    * Mechanics: rows past the horizon leave the log; the pairs they can
    * no longer re-derive — dead × (other log's CURRENT raw rows) — are
    * pre-aggregated and kept as [[GsumCol]]-marked summary rows in the
    * SAME snapshot commit (one atomic CAS per log, so a crash between
    * the two sides' folds leaves every log individually consistent:
    * each fold summarizes against the other side's CURRENT raw content,
    * and pair coverage is exact in either fold order). The recompute
    * path re-derives agg(pairs of retained raws) ⊕ summaries — equal to
    * the unfolded aggregate by construction ([[StreamStreamJoinSpec]]'s
    * folded ≡ raw property) — while the incremental path is untouched
    * (delta pairs never involve folded rows, by the horizon contract).
    * Post-fold, the log the next 100 TB day appends to holds O(rows
    * inside the horizon + view keys), not the full event history.
    *
    * The fold is a PREFIX-SPLICE: it drops the maximal leading run of
    * ENTIRELY-dead commits (no raw row at/above the horizon;
    * summary-only fold commits qualify trivially and merge forward) by
    * REFERENCE, committing only the merged summary rows under a
    * `~keep=<firstKeptVersion>` splice tag
    * ([[Generations.spliceKeepFrom]]). Fold I/O is then O(dropped
    * prefix + summaries), NOT O(retained): kept commits are never
    * rewritten — at 100 TB/day retention the difference between a fold
    * that rewrites the whole horizon and one that writes a few KB.
    * Rows below the horizon stranded in a not-entirely-dead commit stay
    * raw until their commit ages out (bounded by lateness + tick
    * width — admission guarantees a commit's raw span).
    *
    * `mvTable` (optional): when given, the fold checks QUIESCENCE — the
    * view has applied BOTH logs' heads as sampled before the content
    * reads, where commits past the applied marks that are themselves
    * quiescent folds count as applied (chain quiescence — folds stack)
    * — and tags a quiescent fold `=sjfoldq=` instead of
    * `=sjfold=`. Quiescence is what makes the NEXT tick's incremental
    * resume sound: every summary pair is then already in the view (the
    * fold only summarizes pairs over content the view has applied), so
    * the fold snapshot can serve as the pre-side directly. A fold taken
    * while either side had unapplied commits may summarize pairs the
    * view has NOT applied — those are only recoverable through the
    * recompute path, so such folds keep the plain tag and
    * [[maintainStreamJoinOnceLogs]] recomputes after them. The sampling
    * order (applied versions FIRST, then spans/content) makes the check
    * conservative under concurrent appends: anything landing after the
    * sample fails the equality and degrades the tag, never the result.
    *
    * Returns None when nothing is past the horizon (no commit) or the
    * log is empty.
    */
  def foldStreamJoinLogOnce(spark: SparkSession, foldLog: String,
      otherLog: String, foldIsLeft: Boolean, horizonMicros: Long,
      tsCol: String, mvKeys: Seq[String], sumNames: Seq[String],
      countCol: String, mvTable: Option[String] = None,
      maxRetries: Int = 5)
      (pairsOf: (DataFrame, DataFrame) => DataFrame)
      (aggOfPairs: DataFrame => DataFrame): Option[Generations.Commit] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, unix_micros}
    var attempt = 0
    while (true) {
      val applied = mvTable.map(appliedVersions(spark, _, Watermark.pair))
      val selfSpan = Generations.logCommits(spark, foldLog)
      val base = selfSpan.lastOption.map(_.version).getOrElse(return None)
      val otherSpan = Generations.logCommits(spark, otherLog)
      if (otherSpan.isEmpty) return None
      // CHAIN quiescence (r19, generalized from the single-step check):
      // the view's applied version v is quiescent w.r.t. a log iff
      // every VISIBLE commit past v is itself a quiescent fold —
      // content-invisible rewrites of applied state. A span shows at
      // most ONE snapshot (the head one truncates logCommits), so
      // commits HIDDEN behind a head `=sjfoldq=` fold are certified by
      // THAT fold's own proof: its fold-time applied mark was ≤ v (the
      // pair watermark is monotone), so its chain covers (v, head).
      // This is what lets folds STACK — fold-per-tick with no
      // intervening maintenance — without the second fold degrading to
      // the plain tag and costing the next tick a recompute.
      def chainOk(span: Seq[Generations.Commit], v: Long): Boolean =
        span.nonEmpty && v <= span.last.version &&
          span.filter(_.version > v)
            .forall(_.tag.startsWith("=sjfoldq="))
      val quiescent = applied.exists { case Seq(vA, vB) =>
        if (foldIsLeft) chainOk(selfSpan, vA) && chainOk(otherSpan, vB)
        else chainOk(otherSpan, vA) && chainOk(selfSpan, vB)
      }
      val baseTag = if (quiescent) s"=sjfoldq=$horizonMicros"
        else s"=sjfold=$horizonMicros"
      // null-ts rows (no event time) are never foldable: keep
      val keepPred = coalesce(
        unix_micros(col(tsCol)) >= horizonMicros, lit(true))
      // PREFIX-SPLICE: the maximal leading run of commits with no raw
      // row surviving the keep predicate. Deadness is decided DRIVER-
      // SIDE wherever commit metadata suffices (r20, guide §1.2/§6 —
      // the probes were one Spark existence-scan job per prefix commit
      // per tick): a `~so` splice commit is summary-only by
      // construction (zero raw rows — trivially dead), a zero-row
      // commit is trivially dead, and a raw-only commit's verdict
      // falls out of its committed per-file ts stats (nullCount=0 ∧
      // max<horizon ⇔ dead; a null-ts or ≥horizon row ⇔ alive — the
      // SAME read data-skipping plans from). Only commits the
      // metadata can't classify (mixed raw+summary content, absent/
      // unusable stats) pay the bounded existence scan, which stops
      // at the first survivor and never scans the kept tail.
      def genDf(c: Generations.Commit): DataFrame =
        Generations.readSpan(spark, foldLog, Seq(c))
      val foldPath = new org.apache.hadoop.fs.Path(foldLog)
      val foldFs = foldPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def statsVerdict(c: Generations.Commit,
          schemaCols: Set[String]): Option[Boolean] = {
        if (c.tag.contains("~so")) return Some(true)
        if (c.rows == 0L) return Some(true)
        if (schemaCols.contains(GsumCol)) return None // mixed content
        if (!schemaCols.contains(tsCol)) return Some(false) // raw, kept
        graft.sinks.FileStats.read(foldFs, foldPath, c.gen) match {
          case Some(entries) if entries.nonEmpty =>
            val per = entries.map { e =>
              if (e.rows == 0L) Some(true)
              else e.cols.get(tsCol) match {
                case Some(s) if s.kind == "none" => Some(false) // null ts kept
                case Some(s) if s.nullCount > 0L => Some(false)
                case Some(s) if s.kind == "long" && s.nullCount == 0L =>
                  Some(s.max.toLong < horizonMicros)
                case _ => None
              }
            }
            if (per.exists(_.contains(false))) Some(false)
            else if (per.forall(_.contains(true))) Some(true)
            else None
          case _ => None
        }
      }
      val deadPrefix = selfSpan.iterator.map { c =>
        val df = genDf(c)
        val raw = rawCols(df, sumNames, countCol)
        val hasTs = raw.columns.contains(tsCol)
        val isDead = statsVerdict(c, df.columns.toSet).getOrElse {
          if (hasTs) raw.filter(keepPred).isEmpty else raw.isEmpty
        }
        (c, isDead, hasTs)
      }.takeWhile(_._2).toSeq
      val prefixLen = deadPrefix.length
      val anyRaw = deadPrefix.exists(_._3)
      // nothing dead, or only the one standing summary commit (a
      // re-splice of it alone would be a churn no-op)
      if (prefixLen == 0 || (!anyRaw && prefixLen <= 1)) return None
      val content = Generations.readSpan(spark, foldLog,
        selfSpan.take(prefixLen))
      val oldSums = sumsOf(content, mvKeys, sumNames, countCol)
      val lost =
        if (!anyRaw) oldSums.get.limit(0) // consolidation-only fold
        else {
          val dead = rawCols(content, sumNames, countCol)
          val otherRaw = rawCols(Generations.readLog(spark, otherLog)
            .getOrElse(return None), sumNames, countCol)
          aggOfPairs(
            if (foldIsLeft) pairsOf(dead, otherRaw)
            else pairsOf(otherRaw, dead))
        }
      val summaries = mergeAggs(lost, oldSums.toSeq, mvKeys, sumNames,
        countCol).withColumn(GsumCol, lit(true))
      // whole span dead → a full summary-only snapshot (no keep-from).
      // `~so` (summary-only) marks that this commit's content is 100%
      // _gsum rows BY CONSTRUCTION — the next tick's deadness walk
      // classifies it driver-side with no probe job (r20). It rides
      // BEFORE ~keep (spliceKeepFrom parses the tag's tail).
      val tag = baseTag + "~so" + (if (prefixLen < selfSpan.length)
        s"~keep=${selfSpan(prefixLen).version}" else "")
      try return Some(Generations.writeAndCommit(spark, summaries,
        foldLog, tag = tag, expectedBase = Some(base)))
      catch {
        case _: Generations.CommitConflictException
          if attempt < maxRetries - 1 => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The EIGHTH streaming-IVM shape (r17 VERDICT #5): a maintained
    * aggregate over TWO append-only event logs joined to each other —
    * stream ⋈ stream (events ⋈ events self-enrichment), each side
    * growing under its own committed event-time mark. Both change feeds
    * are the unapplied delta commits read as inserts (the log
    * observation of [[maintainAggOnceLog]], twice over), and the
    * insert-only delta join
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B_head ∪ A_pre ⋈ ΔB
    *
    * advances agg(A ⋈ B) exactly — ΔA⋈ΔB is counted once, inside the
    * first term (B_head = B_pre ∪ ΔB), and both terms shuffle a
    * delta-sized side against one base scan, never a full re-join.
    * Exactly-once through the SAME `=cdcv2=<vA>-<vB>` pair watermark +
    * expectedBase CAS as the log ⋈ dim shape (including its
    * stale-listing bail); either pre-state failing the contiguity check
    * (bootstrap, a fold inside the unapplied window, a gc gap)
    * degrades to the always-correct recompute `aggOf(A_head, B_head)`.
    *
    * The pair-builder is ANY function BILINEAR over unions —
    * pairsOf(x ∪ y, B) ≡ pairsOf(x, B) ∪ pairsOf(y, B) and symmetrically
    * on the right (every join is) — so beyond the plain equi-join this
    * carries the TIME-BAND attribution shape
    * ([[StreamingIvm.ingestAttributionBatch]]: clicks inside a
    * purchase's window, RangeJoin-binned so the delta join never builds
    * per-key cross products). `aggOfPairs` aggregates a pair frame; the
    * recompute path is aggOfPairs(pairsOf(A_head, B_head)).
    */
  def maintainStreamJoinOnceLogs(spark: SparkSession, logA: String,
      logB: String, mvTable: String,
      mvKeys: Seq[String], sumCols: Map[String, String], countCol: String)
      (pairsOf: (DataFrame, DataFrame) => DataFrame)
      (aggOfPairs: DataFrame => DataFrame)
      : Option[Generations.Commit] = {
    lastMaintainIncremental.set(false)
    val spanA = Generations.logCommits(spark, logA)
    val spanB = Generations.logCommits(spark, logB)
    val headA = spanA.lastOption.map(_.version).getOrElse(0L)
    val headB = spanB.lastOption.map(_.version).getOrElse(0L)
    def contentOf(log: String, span: Seq[Generations.Commit]): DataFrame =
      Generations.readSpan(spark, log, span)
    val sumNames = sumCols.keys.toSeq
    // FOLD-AWARE windows: a QUIESCENT fold snapshot (`=sjfoldq=`, taken
    // with the view's chain quiescence proven) at ANY version past the
    // applied mark is a content-rewrite of precisely the applied state
    // — it contributes no new pairs (every summary pair is already in
    // the view) and its raw rows serve as the pre-side verbatim
    // (dropped rows cannot pair with any post-fold delta, by the fold's
    // horizon contract). STACKED folds hide their predecessors behind
    // the head snapshot; the head fold's own chain-quiescence proof
    // certifies the hidden run (its fold-time applied mark was ≤ the
    // current one — the pair watermark is monotone), so any number of
    // back-to-back folds resume incrementally. The window then starts
    // AFTER the head fold. Any other snapshot in the window
    // (non-quiescent fold, squash, compaction) still degrades to
    // recompute.
    // the governing snapshot is the NEWEST snapshot-kind commit in the
    // span — for a splice fold that is mid-span (kept commits sit
    // beneath it); everything at/below it is pre-side content and the
    // window starts after it
    // belt-and-braces: every commit between the applied mark and the
    // governing snapshot must itself be a quiescent fold (the fold's
    // own chain proof already implies this through watermark
    // monotonicity; re-checking here costs nothing and keeps a
    // manually-interleaved squash/append from ever resuming unsoundly)
    def effApp(span: Seq[Generations.Commit], app: Long): Long =
      span.filter(Generations.isSnapshotCommit).lastOption
        .filter(c => c.version > app && c.tag.startsWith("=sjfoldq=") &&
          span.forall(x => x.version <= app || x.version > c.version ||
            x.tag.startsWith("=sjfoldq=")))
        .map(_.version).getOrElse(app)
    tick(spark, mvTable, Watermark.pair, Seq(headA, headB),
        staleBail = true) { (applied, view) =>
      val effA = effApp(spanA, applied(0))
      val effB = effApp(spanB, applied(1))
      val incremental: Option[DataFrame] =
        (deltaWindow(spanA, effA, headA), deltaWindow(spanB, effB, headB)) match {
          case (Some(winA), Some(winB)) if winA.isEmpty && winB.isEmpty =>
            // fold-only tick: the unapplied commits are quiescent folds —
            // content-invisible — so only the pair watermark advances
            lastMaintainIncremental.set(true)
            view()
          case (Some(winA), Some(winB)) =>
            view().map { mv =>
              // pre-sides strip folded summary rows (they are already in
              // the view; only raw rows pair)
              val preA = rawCols(contentOf(logA,
                spanA.filter(_.version <= effA)), sumNames, countCol)
              val bHead = rawCols(contentOf(logB, spanB), sumNames, countCol)
              val pairs = Seq(
                if (winA.isEmpty) None
                else Some(pairsOf(contentOf(logA, winA), bHead)),
                if (winB.isEmpty) None
                else Some(pairsOf(preA, contentOf(logB, winB)))
              ).flatten
              lastMaintainIncremental.set(true)
              val feed = inserts(pairs.reduce(_ unionByName _))
              Incremental.maintainAgg(mv, feed, mvKeys, sumCols, countCol)
            }
          case _ => None
        }
      Some(incremental.getOrElse {
        // recompute = agg over the pairs still derivable from raw rows,
        // plus both logs' folded summaries (exactly the pairs a fold
        // removed the raw material for) — folded ≡ raw by construction
        lastMaintainIncremental.set(false)
        val cA = contentOf(logA, spanA)
        val cB = contentOf(logB, spanB)
        mergeAggs(aggOfPairs(pairsOf(rawCols(cA, sumNames, countCol),
            rawCols(cB, sumNames, countCol))),
          (sumsOf(cA, mvKeys, sumNames, countCol) ++
            sumsOf(cB, mvKeys, sumNames, countCol)).toSeq,
          mvKeys, sumNames, countCol)
      })
    }
  }
  /** Source delta and maintained view in ONE atomic catalog commit —
    * the composition of [[maintainAggOnce]]'s incremental maintenance
    * with [[graft.sinks.Catalog.transact]]'s cross-table atomicity.
    *
    * [[maintainAggOnce]] alone is exactly-once, but its per-table CAS
    * leaves a READ-consistency gap: between the source commit and the
    * view commit, a reader can observe the source ahead of its view.
    * Here both tables advance in one root publish, so a CATALOG reader
    * can never see the source's new version without the view that
    * reflects it — and a crash anywhere leaves both at the old root.
    * No `=cdcv=` watermark is needed: consistency is BY the root (the
    * base root's source snapshot is the maintenance's from-state).
    *
    * The view is maintained incrementally (retraction for sums/counts,
    * dirty-group re-aggregation for min/max when `minCols`/`maxCols`
    * are given) from the 4-type diff of the staged merge — O(changes) +
    * O(|view|), the source history never re-aggregated except at
    * bootstrap, where `aggOf` computes the first full aggregate. On a
    * root conflict the whole body re-runs against the new base
    * (transact's contract), so a concurrent source writer can never
    * interleave between the merge and the maintenance.
    */
  def transactMaintainAgg(spark: SparkSession, root: String,
      source: String, sourceKeys: Seq[String], changeset: DataFrame,
      mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String] = Map.empty,
      maxCols: Map[String, String] = Map.empty,
      deleteCol: String = "_deleted")
      (aggOf: DataFrame => DataFrame): graft.sinks.Catalog.RootCommit =
    graft.sinks.Catalog.transact(spark, root) { txn =>
      val before = txn.read(source)
      txn.merge(source, changeset, sourceKeys, deleteCol)
      val after = txn.read(source).get
      val next = (before, txn.read(mvTable)) match {
        case (Some(b), Some(view)) =>
          val changes = graft.operators.Merge.diff(b, after, sourceKeys,
            includePreimages = true)
          Incremental.maintainAggOrMinMax(view, changes, after, mvKeys,
            sumCols, countCol, minCols, maxCols)
        case _ => aggOf(after) // first delta or first view: bootstrap
      }
      txn.put(mvTable, next)
    }

  /** [[transactMaintainAgg]] for an aggregate-over-JOIN view: BOTH
    * source deltas and the maintained view advance in one root publish.
    * A catalog reader can never observe either source ahead of the view
    * (or the two sources at inconsistent roots) — the read-consistency
    * guarantee per-table maintenance ([[maintainJoinAggOnce]]) cannot
    * give across THREE tables. The view is maintained incrementally via
    * [[Incremental.deltaJoin]] over the two staged merges' 4-type
    * diffs; on a root conflict the whole body re-runs against the new
    * base, so no concurrent writer interleaves between a merge and the
    * maintenance. Bootstrap (any of the three tables absent) recomputes
    * via `aggOf` over the post-merge snapshots.
    */
  def transactMaintainJoinAgg(spark: SparkSession, root: String,
      sourceA: String, aKeys: Seq[String], aChangeset: DataFrame,
      sourceB: String, bKeys: Seq[String], bChangeset: DataFrame,
      joinKeys: Seq[String], mvTable: String, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      deleteCol: String = "_deleted")
      (aggOf: (DataFrame, DataFrame) => DataFrame): graft.sinks.Catalog.RootCommit =
    graft.sinks.Catalog.transact(spark, root) { txn =>
      val aBefore = txn.read(sourceA)
      txn.merge(sourceA, aChangeset, aKeys, deleteCol)
      val aAfter = txn.read(sourceA).get
      val bBefore = txn.read(sourceB)
      txn.merge(sourceB, bChangeset, bKeys, deleteCol)
      val bAfter = txn.read(sourceB).get
      val next = (aBefore, bBefore, txn.read(mvTable)) match {
        case (Some(a0), Some(b0), Some(view)) =>
          val dA = graft.operators.Merge.diff(a0, aAfter, aKeys,
            includePreimages = true)
          val dB = graft.operators.Merge.diff(b0, bAfter, bKeys,
            includePreimages = true)
          Incremental.maintainAgg(view,
            Incremental.deltaJoin(a0, dA, b0, dB, joinKeys),
            mvKeys, sumCols, countCol)
        case _ => aggOf(aAfter, bAfter) // first delta or first view
      }
      txn.put(mvTable, next)
    }
}
