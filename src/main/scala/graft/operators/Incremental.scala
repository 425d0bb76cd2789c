package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Incremental materialized-view maintenance via algebraic partial
  * aggregates — the batch half of the lambda pattern: a long-lived
  * aggregate table is kept current by merging each new batch's partial
  * state instead of recomputing over the full history. Works for any
  * aggregate expressible as a commutative monoid on (sum, count, min,
  * max); avg derives at read time (sum/count), never stored.
  *
  * Scale shape: maintaining the view costs one partial-aggregable
  * groupBy over the DELTA only — the history is touched as the
  * key-count-sized state table, not re-scanned. Merge is itself a
  * groupBy over (state ∪ delta-state), i.e. two bounded inputs.
  */
object Incremental {

  /** Per-key mergeable aggregate state: (keys…, sum_v, cnt_v, min_v,
    * max_v) over `valueCol`. The sum state is DECIMAL: merge-of-partials
    * must equal recompute EXACTLY (the IVM law this operator exists
    * for), and a double sum's last ulps depend on summation order —
    * decimal addition is associative/commutative for real, not just
    * approximately (BASELINE.md hash rule). */
  def aggState(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(sum(col(valueCol).cast("decimal(18,4)")).as("sum_v"),
        count(col(valueCol)).as("cnt_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Merge two state tables (e.g. the stored view and a fresh batch's
    * partials). Associative and commutative, so batches can arrive in
    * any order and partial states can themselves be merged pairwise. */
  def merge(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("sum_v")).as("sum_v"),
        sum(col("cnt_v")).as("cnt_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Read-time finalization: derived averages on top of the state —
    * the exact decimal sum converted once, divided in double (both
    * deterministic), never round() over a plan-dependent double. */
  def finalize(state: DataFrame): DataFrame =
    state.withColumn("avg_v",
      (col("sum_v").cast("double") / col("cnt_v")).as("avg_v"))

  /** CDC-driven maintenance: apply a change feed to an aggregate view by
    * RETRACTION — the Flink "retract aggregate" / Materialize delta-join
    * shape, and the piece [[aggState]]/[[merge]] (append-only) cannot
    * express: deletes and updates subtract their old contribution.
    *
    * `changes` is a 4-type feed ([[Merge.diff]] with
    * `includePreimages = true` — REQUIRED: a postimage without its
    * preimage would double-count the old row); `sumCols` maps each
    * stored sum column in `mv` to the payload column it sums; `countCol`
    * is the stored per-group row count. insert/update_postimage
    * contribute +1, delete/update_preimage −1; groups whose maintained
    * count reaches 0 leave the view (they no longer exist downstream).
    * A key-moving update retracts from the old group and adds to the
    * new one through its two images — group keys need no special case.
    *
    * Only sum/count (and read-time derivations like avg) maintain under
    * retraction; min/max are not retractable monoids — [[maintainAggMinMax]]
    * re-aggregates just the DIRTY groups for those (bounded by changed
    * keys). Use EXACT addition types (decimal
    * / integer) for retracted sums: float retraction drifts, and the
    * maintained ≡ recomputed law (oracle-gated as
    * `mv_cdc_incremental_revenue`) only holds exactly.
    *
    * Scale shape: one groupBy over the DELTA (map-side partial, shuffled
    * on the view key) + one key full-outer join against the view —
    * history is never re-scanned, cost is O(changes) + O(|view|), the
    * whole point of a maintained view.
    */
  def maintainAgg(mv: DataFrame, changes: DataFrame, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      changeCol: String = "_change_type"): DataFrame = {
    require(mvKeys.nonEmpty, "need at least one view key")
    val sign = when(col(changeCol).isin("insert", "update_postimage"), 1)
      .when(col(changeCol).isin("delete", "update_preimage"), -1)
    val deltaAggs = sumCols.toSeq.map { case (out, src) =>
        sum(col("_sign") * col(src)).as(s"_d_$out")
      } :+ sum(col("_sign")).cast("long").as("_d_n")
    val delta = changes.withColumn("_sign", sign)
      .groupBy(mvKeys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val outCols = mvKeys.map(col) ++ sumCols.keys.toSeq.sorted.map { out =>
      (coalesce(col(out), lit(0)) + coalesce(col(s"_d_$out"), lit(0))).as(out)
    } :+ (coalesce(col(countCol), lit(0L)) +
      coalesce(col("_d_n"), lit(0L))).as(countCol)
    mv.join(delta, mvKeys, "full_outer")
      .select(outCols: _*)
      .filter(col(countCol) > 0)
  }

  /** [[maintainAgg]] extended to MIN/MAX columns — the non-retractable
    * monoids the plain retraction path cannot maintain (subtracting a
    * deleted row tells you nothing about the new extreme).
    *
    * Strategy, per group touched by the change feed:
    *  - INSERT-only groups (no retraction): the extremes move
    *    monotonically, so they merge for free — `least(old_min,
    *    min(inserted))` / `greatest(old_max, max(inserted))`, computed in
    *    the same delta groupBy the sums already pay for. An append-mostly
    *    workload re-aggregates NOTHING.
    *  - DIRTY groups (at least one delete/update_preimage): the current
    *    extreme may have been retracted, so exactly these keys are
    *    re-aggregated from `postSource` (the post-change snapshot) via
    *    one semi-join — cost bounded by the changed groups' rows, never
    *    the table (the fallback the [[maintainAgg]] scaladoc prescribed).
    *  - Untouched groups keep their stored extremes unread.
    *
    * `minCols`/`maxCols` map stored extreme columns in `mv` to the
    * payload column they range over, like `sumCols`. Plan shape: the
    * delta groupBy + full-outer view join of [[maintainAgg]], plus one
    * `left_semi` + groupBy over the dirty keys and one left join of its
    * (dirty-group-sized) result — all shuffled on the SAME view key, so
    * the exchanges line up and history is still never re-scanned except
    * for the dirty groups' own rows.
    */
  def maintainAggMinMax(mv: DataFrame, changes: DataFrame,
      postSource: DataFrame, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String], maxCols: Map[String, String],
      changeCol: String = "_change_type"): DataFrame = {
    require(mvKeys.nonEmpty, "need at least one view key")
    val sign = when(col(changeCol).isin("insert", "update_postimage"), 1)
      .when(col(changeCol).isin("delete", "update_preimage"), -1)
    val deltaAggs = (sumCols.toSeq.map { case (out, src) =>
        sum(col("_sign") * col(src)).as(s"_d_$out")
      } :+ sum(col("_sign")).cast("long").as("_d_n") :+
      max(when(col("_sign") === -1, 1).otherwise(0)).as("_retr")) ++
      minCols.toSeq.map { case (out, src) =>
        min(when(col("_sign") === 1, col(src))).as(s"_i_$out") } ++
      maxCols.toSeq.map { case (out, src) =>
        max(when(col("_sign") === 1, col(src))).as(s"_i_$out") }
    val delta = changes.withColumn("_sign", sign)
      .groupBy(mvKeys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    // exactly the groups whose extreme might have been retracted
    val dirtyKeys = delta.filter(col("_retr") === 1).select(mvKeys.map(col): _*)
    val freshAggs = minCols.toSeq.map { case (out, src) =>
        min(col(src)).as(s"_f_$out") } ++
      maxCols.toSeq.map { case (out, src) =>
        max(col(src)).as(s"_f_$out") }
    // INNER join, not left_semi, deliberately: dirtyKeys is unique per
    // key (it is a groupBy output), so the two are equivalent — but
    // Catalyst pushes a left_semi below a Union in postSource
    // (PushdownLeftSemiAntiJoin), re-planning the ENTIRE dirty-keys
    // subtree (the change-feed derivation) once per union branch; a
    // MERGE-shaped postSource (anti-join ∪ changeset) tripled it. The
    // inner form keeps one instance of each subtree.
    val fresh = dirtyKeys.join(postSource, mvKeys)
      .groupBy(mvKeys.map(col): _*)
      .agg(freshAggs.head, freshAggs.tail: _*)
    val mergeExtreme = (out: String, fn: (Column, Column) => Column) =>
      when(col("_retr") === 1, col(s"_f_$out"))
        .otherwise(fn(col(out), col(s"_i_$out"))).as(out)
    val outCols = mvKeys.map(col) ++ sumCols.keys.toSeq.sorted.map { out =>
      (coalesce(col(out), lit(0)) + coalesce(col(s"_d_$out"), lit(0))).as(out)
    } ++ Seq((coalesce(col(countCol), lit(0L)) +
      coalesce(col("_d_n"), lit(0L))).as(countCol)) ++
      minCols.keys.toSeq.sorted.map(mergeExtreme(_, least(_, _))) ++
      maxCols.keys.toSeq.sorted.map(mergeExtreme(_, greatest(_, _)))
    mv.join(delta, mvKeys, "full_outer")
      .join(fresh, mvKeys, "left")
      .select(outCols: _*)
      .filter(col(countCol) > 0)
  }

  /** [[maintainAgg]] for a view with no MIN/MAX column, else
    * [[maintainAggMinMax]] re-aggregating its dirty groups against
    * `postSource`. The post-change source is taken by name, so a
    * sums-only view never builds it.
    */
  def maintainAggOrMinMax(mv: DataFrame, changes: DataFrame,
      postSource: => DataFrame, mvKeys: Seq[String],
      sumCols: Map[String, String], countCol: String,
      minCols: Map[String, String], maxCols: Map[String, String])
      : DataFrame =
    if (minCols.isEmpty && maxCols.isEmpty)
      maintainAgg(mv, changes, mvKeys, sumCols, countCol)
    else maintainAggMinMax(mv, changes, postSource, mvKeys, sumCols,
      countCol, minCols, maxCols)

  /** TOP-K rows per group under CDC maintenance — the ranking analogue
    * of [[maintainAggMinMax]] (min/max IS k = 1): the stored view holds
    * each group's current top-k ROWS by `orderCol` descending
    * (`tieCol` ascending breaks ties deterministically), and a
    * retracted row may have been one of them with its replacement (the
    * k+1-th) not stored, so:
    *
    *  - INSERT-only groups merge for free: `topk(A ∪ B) =
    *    topk(topk(A) ∪ B)` (rank is monotone), so the stored k rows
    *    union the group's inserts and re-rank — never touching the
    *    source.
    *  - DIRTY groups (any delete/update_preimage) re-rank from
    *    `postSource` restricted to exactly those keys — cost bounded by
    *    the changed groups' rows.
    *
    * Output: the maintained view rows (same columns as `view`). Plan
    * shape: one delta pass to split clean/dirty keys, one
    * WindowGroupLimit-shaped rank over (stored ∪ inserts) for clean
    * groups, one dirty-key-pruned rank over the source — all
    * partitioned on the SAME group key.
    */
  def maintainTopK(view: DataFrame, changes: DataFrame,
      postSource: DataFrame, mvKeys: Seq[String], orderCol: String,
      tieCol: String, k: Int,
      changeCol: String = "_change_type"): DataFrame = {
    require(mvKeys.nonEmpty, "need at least one view key")
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val cols = view.columns.toSeq
    val sign = when(col(changeCol).isin("insert", "update_postimage"), 1)
      .when(col(changeCol).isin("delete", "update_preimage"), -1)
    val signed = changes.withColumn("_sign", sign)
    val dirtyKeys = signed.filter(col("_sign") === -1)
      .select(mvKeys.map(col): _*).distinct()
    val inserted = signed.filter(col("_sign") === 1)
      .select(cols.map(col): _*)
    val w = Window.partitionBy(mvKeys.map(col): _*)
      .orderBy(col(orderCol).desc, col(tieCol).asc)
    def topk(df: DataFrame): DataFrame =
      df.withColumn("_r", row_number().over(w))
        .filter(col("_r") <= k).drop("_r")
    val clean = topk(view.unionByName(inserted)
      .join(dirtyKeys, mvKeys, "left_anti"))
    // inner join, not left_semi: dirtyKeys is unique per key (distinct
    // output), and the semi form replans union-shaped postSource
    // subtrees per branch (the r13 min/max lesson)
    val dirty = topk(dirtyKeys.join(postSource.select(cols.map(col): _*),
      mvKeys))
    clean.unionByName(dirty)
  }

  /** Apply a signed change feed to a MATERIALIZED row-level view (a
    * multiset, not an aggregate): `V' = V ⊎ feed`, where
    * insert/update_postimage rows add one instance and
    * delete/update_preimage rows cancel one. This is what turns every
    * delta-join feed ([[deltaJoin]]/[[deltaJoinLeft]]/[[deltaJoinFull]]/
    * [[deltaSemiJoin]]/[[deltaAntiJoin]]) into a maintained
    * MATERIALIZED join — the row-level complement of [[maintainAgg]].
    *
    * Works on keyless multisets: rows are cancelled by FULL-ROW
    * equality (groupBy is null-safe, so null-extended outer-join rows
    * cancel correctly — unlike a join, which could not match them).
    * Multiplicity is restored by explode(array_repeat(…)), so duplicate
    * rows survive with exact counts.
    *
    * Cost: one groupBy over view ∪ feed — the view re-shuffles each
    * application, the honest floor for a KEYLESS multiset. A view with
    * a primary key should use [[Merge.mergeApply]] with the feed's
    * postimages instead (one anti-join, no full-view groupBy); this is
    * the general fallback the keyed form cannot cover.
    */
  def applyFeed(view: DataFrame, feed: DataFrame,
      changeCol: String = "_change_type"): DataFrame = {
    val cols = view.columns.toSeq
    val sign = when(col(changeCol).isin("insert", "update_postimage"), 1L)
      .when(col(changeCol).isin("delete", "update_preimage"), -1L)
    val counted = view.withColumn("_n", lit(1L))
      .unionByName(feed.withColumn("_n", sign)
        .select((cols :+ "_n").map(col): _*))
      .groupBy(cols.map(col): _*).agg(sum(col("_n")).as("_n"))
      .filter(col("_n") > 0L)
    counted
      .withColumn("_rep", explode(array_repeat(lit(1), col("_n").cast("int"))))
      .select(cols.map(col): _*)
  }

  /** COUNT DISTINCT under retraction — the aggregate that is NOT a
    * retractable monoid on its own (subtracting a deleted value says
    * nothing about whether ANOTHER row still supplies it), maintained
    * the standard streaming-SQL way (Flink's distinct-agg state,
    * Materialize's reduce): a SUPPORT table keyed on
    * (view keys…, distinct cols…) whose per-key row count is maintained
    * by plain retraction, with the distinct count DERIVED as the number
    * of surviving support rows per view key. [[maintainAgg]] with an
    * empty `sumCols` IS exactly that support maintenance — this wrapper
    * just fixes the key layout so the two layers can't drift.
    *
    * The support table is the MV's stored state (commit it like any
    * view; at most one row per distinct value per group — bounded by
    * the true distinct cardinality, not history); [[distinctOf]] is the
    * read-time finalization. Scale shape: maintenance is one delta
    * groupBy + one key join on the SUPPORT key (both shuffles on the
    * same key); the derived count is one groupBy over the support —
    * all bounded by |distinct values|, never by history.
    */
  def maintainDistinct(support: DataFrame, changes: DataFrame,
      mvKeys: Seq[String], distinctCols: Seq[String],
      countCol: String = "_support_n",
      changeCol: String = "_change_type"): DataFrame = {
    require(distinctCols.nonEmpty, "need at least one distinct column")
    maintainAgg(support, changes, mvKeys ++ distinctCols,
      sumCols = Map.empty, countCol = countCol, changeCol = changeCol)
  }

  /** Read-time finalization of a [[maintainDistinct]] support table:
    * the per-group distinct count (rows retracted to zero have already
    * left the support, so this is a plain count). */
  def distinctOf(support: DataFrame, mvKeys: Seq[String],
      as: String = "n_distinct"): DataFrame =
    support.groupBy(mvKeys.map(col): _*).agg(count(lit(1)).as(as))

  /** Signed delta join — the change feed of a JOIN view, from the change
    * feeds of its inputs. For `V = A ⋈ B` (inner equi-join on
    * `joinKeys`), the multiset algebra gives
    *
    * {{{ (A+ΔA) ⋈ (B+ΔB) = A⋈B + ΔA⋈B + A⋈ΔB + ΔA⋈ΔB }}}
    *
    * so `ΔV = ΔA⋈B_pre + A_pre⋈ΔB + ΔA⋈ΔB`, with row signs MULTIPLYING
    * (a retracted A-row joined to a retracted B-row is a net insert —
    * both retractions of the joined row would double-subtract it). This
    * is the z-set/DBSP delta-join identity; it is what lets the join
    * tier of a maintained view advance without re-joining the tables.
    *
    * `aChanges`/`bChanges` are 4-type feeds over `aPre`/`bPre`
    * ([[Merge.diff]] with `includePreimages = true` — updates MUST carry
    * both images or the old joined rows are never retracted). The result
    * is a 2-type feed (`insert`/`delete`; updates have already been
    * decomposed into their images by the input feeds) with the join's
    * columns — directly consumable by [[maintainAgg]] /
    * [[maintainAggMinMax]], so an aggregate OVER a join is maintained by
    * composing the two: `maintainAgg(mv, deltaJoin(…), …)`. Non-key
    * column names must be disjoint across A and B (the join's own
    * output contract).
    *
    * Scale shape: each base table is scanned ONCE, joined against a
    * DELTA-sized side — AQE broadcasts the delta, so neither base
    * shuffles; the `ΔA⋈ΔB` term is delta×delta. Cost is
    * O(|A| + |B| + |ΔV|) with no large shuffle, vs a full key-shuffled
    * re-join for recompute. A multiset row with multiplicity > 1 simply
    * appears that many times with its sign; downstream aggregation sums
    * signed contributions, so duplicates need no special casing.
    */
  /** [[deltaJoin]] for a LEFT OUTER join view `V = A ⟕ B` — the shape a
    * fact-with-optional-dimension view needs, and the one the inner
    * identity alone cannot give: a left-join view contains
    * NULL-EXTENDED rows (A-rows whose key has no B match, B's non-key
    * columns null), and those rows appear/disappear when a key's
    * B-match count CROSSES zero, not merely when rows churn.
    *
    * Decomposition: `V = (A ⋈ B) ⊎ N` where `N` = A-rows at B-empty
    * keys, null-extended. The inner part's feed is [[deltaJoin]]; for
    * the null part, with `empty(k) = [cntB(k) = 0]`,
    *
    * {{{ ΔN = A_pre · (empty_post − empty_pre) + ΔA · empty_post }}}
    *
    * — term 1 is every A_pre row at a key whose B-emptiness FLIPPED
    * (+1 when B emptied under it, −1 when B matched it for the first
    * time; the inner feed independently supplies/retracts the matched
    * images, so the two balance to one net transition), term 2 is the
    * A-side churn at keys that END B-empty. Both terms are
    * delta-bounded: match counts are computed ONLY at the keys of
    * interest (ΔA ∪ ΔB keys — `cnt_pre` from one semi-join-restricted
    * aggregate over B, `cnt_post = cnt_pre + Σ signs(ΔB)`), `flipped`
    * is ≤ |ΔB keys| and joins A_pre as a planner-broadcast small side.
    *
    * Output: 2-type feed with the LEFT join's columns (B non-keys null
    * on null-extension rows) — consumable by [[maintainAgg]] etc.
    * exactly like the inner feed (SQL aggregate semantics compose:
    * sum/min/max ignore the nulls symmetrically on insert and delete,
    * count counts the row). Scale shape: A scanned twice (inner terms
    * + flipped-key probe), B scanned twice (inner terms + restricted
    * count), every join against a delta-sized side.
    */
  def deltaJoinLeft(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type",
      bPost: Option[DataFrame] = None): DataFrame =
    deltaJoinLeftImpl(aPre, materializeDelta(aChanges),
      bPre, materializeDelta(bChanges), joinKeys, changeCol, bPost)

  /** [[deltaJoinLeft]] body over ALREADY-materialized change feeds —
    * [[deltaJoinFull]] materializes once and reuses them for the
    * mirrored B-side terms, so the wrapper split keeps a full-join plan
    * from checkpointing (= copying) each delta twice. */
  private def deltaJoinLeftImpl(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String, bPost: Option[DataFrame] = None): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key")
    val bNonKey = bPre.columns.toSeq.filterNot(joinKeys.contains)
    val bTypes = bPre.schema.map(f => f.name -> f.dataType).toMap
    // the inner term prefers the two-term post-state identity when the
    // caller has B's post-state in hand (r20 — one join fewer; see
    // [[deltaJoinPost]])
    val inner = bPost match {
      case Some(bp) =>
        deltaJoinPost(aPre, aChanges, bp, bChanges, joinKeys, changeCol)
      case None => deltaJoin(aPre, aChanges, bPre, bChanges, joinKeys,
        changeCol)
    }
    val nulls = membershipDelta(aPre, aChanges, bPre, bChanges, joinKeys,
      changeCol, keepWhenEmpty = true,
      extendCols = bNonKey.map(c => lit(null).cast(bTypes(c)).as(c)))
    inner.unionByName(nulls)
  }

  /** Materialize a change feed once before a multi-term delta-join plan
    * fans out over it. A feed is delta-bounded by the IVM contract, but
    * its LINEAGE need not be cheap: fed from [[graft.operators.Merge.diff]]
    * it is a full pre⋈post comparison that the outer-join feeds would
    * otherwise re-plan 4-5× (inner terms, keys-of-interest union, signed
    * per-key sums, A-churn term — the r13 70-exchange
    * mv_cdc_fulljoin_revenue plan). `localCheckpoint(eager = false)`
    * truncates the lineage to the materialized delta (the `Graph.scala`
    * iteration pattern) but defers the materializing job to the FIRST
    * ACTION — feed construction stays free, so a plan that is later
    * discarded (a lost CAS publish, a bail-out tick) never runs Spark
    * jobs. Cost at use is one extra pass over a DELTA-sized frame.
    *
    * Cluster trade (r14 ADVICE): localCheckpoint stores blocks
    * UNREPLICATED on executors with lineage truncated — a lost executor
    * makes downstream actions on the feed unrecoverable (fail, not
    * recompute). That is the right trade for IVM ticks, which are
    * idempotently re-runnable by design (the `=cdc=`/`=cdcv2=` watermark
    * + expectedBase CAS make a crashed tick a no-op to retry); for
    * multi-hour non-rerunnable jobs prefer [[graft.operators.Iterate]]'s
    * reliable-checkpoint opt-in (SCALING.md "Checkpoint durability"). */
  private def materializeDelta(changes: DataFrame): DataFrame =
    changes.materializedLazy

  /** FULL outer join under IVM: [[deltaJoinLeft]]'s feed plus the
    * mirrored B-side null extensions (B-rows at A-empty keys, A's
    * non-key columns null). Output columns are the join's
    * (`joinKeys ++ A-non-keys ++ B-non-keys`). Same delta-bounded
    * shape, applied symmetrically. */
  def deltaJoinFull(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type",
      bPost: Option[DataFrame] = None): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key")
    val aC = materializeDelta(aChanges)
    val bC = materializeDelta(bChanges)
    val aNonKey = aPre.columns.toSeq.filterNot(joinKeys.contains)
    val aTypes = aPre.schema.map(f => f.name -> f.dataType).toMap
    val left = deltaJoinLeftImpl(aPre, aC, bPre, bC, joinKeys, changeCol,
      bPost)
    val bNulls = membershipDelta(bPre, bC, aPre, aC, joinKeys,
      changeCol, keepWhenEmpty = true,
      extendCols = aNonKey.map(c => lit(null).cast(aTypes(c)).as(c)))
      // align to the left feed's column order (select is by name)
      .select(left.columns.toSeq.map(col): _*)
    left.unionByName(bNulls)
  }

  /** LEFT SEMI join under IVM: the feed of `V = A ⋉ B` — every A-row at
    * a key with AT LEAST one B match, A's columns only, multiplicity
    * per A-row (not per match). Membership crosses with the match
    * count, exactly like [[deltaJoinLeft]]'s null extensions but with
    * the emptiness test inverted. Delta-bounded identically. */
  def deltaSemiJoin(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type"): DataFrame =
    membershipDelta(aPre, materializeDelta(aChanges),
      bPre, materializeDelta(bChanges), joinKeys, changeCol,
      keepWhenEmpty = false, extendCols = Nil)

  /** LEFT ANTI join under IVM: the feed of `V = A ▷ B` (A-rows with NO
    * B match — the not-exists view, e.g. customers with no orders,
    * maintained instead of recomputed). The exact null-extension delta
    * of [[deltaJoinLeft]], without the null columns. Sanity identity:
    * semi-feed ⊎ anti-feed ≡ ΔA. */
  def deltaAntiJoin(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type"): DataFrame =
    membershipDelta(aPre, materializeDelta(aChanges),
      bPre, materializeDelta(bChanges), joinKeys, changeCol,
      keepWhenEmpty = true, extendCols = Nil)

  /** The shared membership-crossing delta: A-rows whose view membership
    * is `[cntB(key) = 0] == keepWhenEmpty`. With
    * `member(k) = [empty(k) == keepWhenEmpty]`,
    *
    * {{{ ΔV = A_pre · (member_post − member_pre) + ΔA · member_post }}}
    *
    * — term 1 is every A_pre row at a key whose membership FLIPPED
    * (flips exactly when B-emptiness flips), term 2 the signed A churn
    * at keys that END member. B-match counts are computed ONLY at the
    * keys of interest (ΔA ∪ ΔB keys): one semi-restricted aggregate
    * over B plus the signed ΔB per-key sums; `flipped` is ≤ |ΔB keys|
    * and joins A_pre as a planner-broadcast small side. Output: 2-type
    * feed of A's columns (++ `extendCols`, for null extension).
    */
  private def membershipDelta(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String, keepWhenEmpty: Boolean,
      extendCols: Seq[Column]): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key")
    val aCols = aPre.columns.toSeq
    val sign = when(col(changeCol).isin("insert", "update_postimage"), 1L)
      .when(col(changeCol).isin("delete", "update_preimage"), -1L)
    // B-match counts at exactly the keys that can matter: ΔA ∪ ΔB keys
    val keysOfInterest = aChanges.select(joinKeys.map(col): _*)
      .unionByName(bChanges.select(joinKeys.map(col): _*)).distinct()
    val cntPre = bPre.join(keysOfInterest, joinKeys) // inner: restrict, keep dups
      .groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("_cnt_pre"))
    val dB = bChanges.withColumn("_s", sign)
      .groupBy(joinKeys.map(col): _*).agg(sum(col("_s")).as("_cnt_d"))
    // materialized once: |ΔA ∪ ΔB|-keys small, but its lineage (the
    // restricted B count + both signed delta scans) is re-planned by
    // BOTH consumers below (flipped probe + A-churn filter) without it.
    // LAZY cut (r20): the eager form was a dedicated Spark job per
    // membershipDelta call (two per full-outer feed); deferring folds
    // the materialization into the consuming action's first compute —
    // RDD identity still dedups the two consumers within that action
    // (the r19 graph-loop pattern, §1.2 fewer actions).
    val cnt = keysOfInterest
      .join(cntPre, joinKeys, "left").join(dB, joinKeys, "left")
      .select(joinKeys.map(col) :+
        coalesce(col("_cnt_pre"), lit(0L)).as("_cnt_pre") :+
        (coalesce(col("_cnt_pre"), lit(0L)) +
          coalesce(col("_cnt_d"), lit(0L))).as("_cnt_post"): _*)
      .materializedLazy
    val memberPost =
      if (keepWhenEmpty) col("_cnt_post") === 0L else col("_cnt_post") > 0L
    // term 1: every A_pre row at a key whose membership flipped
    val flipped = cnt
      .filter((col("_cnt_pre") === 0L) =!= (col("_cnt_post") === 0L))
      .select(joinKeys.map(col) :+
        when(memberPost, 1L).otherwise(-1L).as("_s"): _*)
    val t1 = aPre.join(flipped, joinKeys)
      .select(aCols.map(col) ++ extendCols :+ col("_s"): _*)
    // term 2: signed A churn at keys that END member (a key absent
    // from `cnt` cannot occur: every ΔA key is a key of interest)
    val t2 = aChanges.withColumn("_s", sign).drop(changeCol)
      .join(cnt.filter(memberPost).select(joinKeys.map(col): _*), joinKeys)
      .select(aCols.map(col) ++ extendCols :+ col("_s"): _*)
    // term 3: NULL-KEYED A churn. SQL equi-join semantics: a row with
    // any NULL key component matches NOTHING (NULL = x is unknown), so
    // its membership is CONSTANT — always a member of the
    // null-extension/anti side (keepWhenEmpty), never of a semi join.
    // The equi-join machinery above silently DROPS such rows (t2's key
    // join can't match a NULL), so a LEFT/FULL/ANTI view would lose the
    // null-keyed rows a real outer join retains (r13 ADVICE). Membership
    // never flips (no term-1 analogue); the churn passes through signed.
    val anyNullKey = joinKeys.map(col(_).isNull).reduce(_ || _)
    val t3 =
      if (!keepWhenEmpty) None
      else Some(aChanges.filter(anyNullKey).withColumn("_s", sign)
        .drop(changeCol)
        .select(aCols.map(col) ++ extendCols :+ col("_s"): _*))
    t3.foldLeft(t1.unionByName(t2))(_ unionByName _)
      .withColumn(changeCol,
        when(col("_s") === 1L, "insert").otherwise("delete"))
      .drop("_s")
  }

  def deltaJoin(aPre: DataFrame, aChanges: DataFrame,
      bPre: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type"): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key")
    val aCols = aPre.columns.toSeq
    val bCols = bPre.columns.toSeq
    val overlap = (aCols.toSet & bCols.toSet) -- joinKeys
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across the join, shared: $overlap")
    def signed(changes: DataFrame, sgn: String): DataFrame =
      changes.withColumn(sgn,
        when(col(changeCol).isin("insert", "update_postimage"), 1)
          .when(col(changeCol).isin("delete", "update_preimage"), -1))
        .drop(changeCol)
    val sA = signed(aChanges, "_sa")
    val sB = signed(bChanges, "_sb")
    val outCols = (aCols ++ bCols.filterNot(joinKeys.contains)).map(col)
    val t1 = sA.join(bPre, joinKeys).select(outCols :+ col("_sa").as("_s"): _*)
    val t2 = aPre.join(sB, joinKeys).select(outCols :+ col("_sb").as("_s"): _*)
    val t3 = sA.join(sB, joinKeys)
      .select(outCols :+ (col("_sa") * col("_sb")).as("_s"): _*)
    t1.unionByName(t2).unionByName(t3)
      .withColumn(changeCol,
        when(col("_s") === 1, "insert").otherwise("delete"))
      .drop("_s")
  }

  /** [[deltaJoin]] with the B side supplied as its POST-state — the
    * TWO-term z-set identity (r20, guide §3/§1.2 "the distributed
    * algorithm"):
    *
    * {{{ ΔV = ΔA ⋈ B_post + A_pre ⋈ ΔB }}}
    *
    * which is the three-term form folded exactly:
    * `ΔA⋈B_pre + ΔA⋈ΔB = ΔA⋈(B_pre + ΔB) = ΔA⋈B_post` — valid for
    * GENERAL signed feeds, not just insert-only (B_post is a plain
    * multiset, so the joined sign is ΔA's alone; the sign products the
    * ΔA⋈ΔB term carried are absorbed because a retracted B row is
    * simply ABSENT from B_post). Callers that already hold the
    * post-state (every CDC pipeline does — it is the merge result the
    * feed was diffed against) get one join and one union branch fewer,
    * and a COMPOSED feed (the N-way chain) is consumed ONCE instead of
    * being re-planned in two terms. Identical output multiset —
    * oracle-pinned by the mv_cdc family.
    */
  def deltaJoinPost(aPre: DataFrame, aChanges: DataFrame,
      bPost: DataFrame, bChanges: DataFrame, joinKeys: Seq[String],
      changeCol: String = "_change_type"): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one join key")
    val aCols = aPre.columns.toSeq
    val bCols = bPost.columns.toSeq
    val overlap = (aCols.toSet & bCols.toSet) -- joinKeys
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across the join, shared: $overlap")
    def signed(changes: DataFrame, sgn: String): DataFrame =
      changes.withColumn(sgn,
        when(col(changeCol).isin("insert", "update_postimage"), 1)
          .when(col(changeCol).isin("delete", "update_preimage"), -1))
        .drop(changeCol)
    val sA = signed(aChanges, "_sa")
    val sB = signed(bChanges, "_sb")
    val outCols = (aCols ++ bCols.filterNot(joinKeys.contains)).map(col)
    val t1 = sA.join(bPost, joinKeys)
      .select(outCols :+ col("_sa").as("_s"): _*)
    val t2 = aPre.join(sB, joinKeys)
      .select(outCols :+ col("_sb").as("_s"): _*)
    t1.unionByName(t2)
      .withColumn(changeCol,
        when(col("_s") === 1, "insert").otherwise("delete"))
      .drop("_s")
  }
}
