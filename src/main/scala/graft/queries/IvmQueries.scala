package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Merge}
import graft.sinks.{Generations, Scratch}
import graft.streaming.StreamingIvm

/** The incremental-view-maintenance tier: MERGE and change-feed queries
  * over one CDC changeset (`merge_upsert_orders`, `cdc_*`, `mv_cdc_*`)
  * and streaming maintenance over one watermark-replayed 3-batch
  * arrival (`mv_stream_*`). Every oracle is a from-scratch recompute,
  * so each hash compare proves maintained ≡ recomputed.
  *
  * Each decision is written once, with its SQL mirror next to it: the
  * changesets ([[ordersCdcChangeset]], [[customerCdcChangeset]],
  * [[ordersByCustCdc]]) beside [[ordersMergedSql]], [[customerMergedSql]]
  * and [[ordersByCustMergedSql]]; the tick loop ([[replay]]) beside the
  * admission rule's mirror ([[admittedSql]]). The SQL helpers return
  * plain text and never read the Spark side, so every oracle stays an
  * independent recomputation.
  */
object IvmQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  // ---- CDC: the changesets and their SQL mirrors ----

  /** A snapshot, its successor under `changeset` merged on `key`, and the
    * 4-type change feed (preimages included) between the two.
    */
  private final case class Cdc(before: DataFrame, changeset: DataFrame,
      key: String) {
    val after: DataFrame = Merge.mergeApply(before, changeset, Seq(key))
    def feed: DataFrame =
      Merge.diff(before, after, Seq(key), includePreimages = true)
  }

  /** `$chg AS (changeset), $m AS (merged)`: the SQL mirror of
    * Merge.mergeApply — `table`'s rows whose `key` the changeset does
    * not name, plus its non-deleted rows, both projected on `cols`.
    */
  private def mergeSql(chg: String, m: String, table: String, key: String,
      cols: String, changeset: String): String =
    s"""$chg AS (
       |$changeset),
       |$m AS (
       |  SELECT $cols FROM $table
       |  WHERE $key NOT IN (SELECT $key FROM $chg)
       |  UNION ALL
       |  SELECT $cols FROM $chg WHERE NOT _deleted)""".stripMargin

  /** The deterministic CDC changeset over orders shared by the MERGE and
    * change-feed queries: urgent orders' status updated, every 97th key
    * deleted, every 101st key cloned as an insert under a shifted key.
    */
  private def ordersCdcChangeset(o: DataFrame): DataFrame = {
    val upd = o
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("_deleted", lit(false))
    val del = o.filter(col("o_orderkey") % 97 === 0)
      .withColumn("_deleted", lit(true))
    val ins = o
      .filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("_deleted", lit(false))
    upd.unionByName(del).unionByName(ins)
  }

  private def ordersCdc(s: SparkSession, dir: String): Cdc = {
    val o = t(s, dir, "orders")
    Cdc(o, ordersCdcChangeset(o), "o_orderkey")
  }

  private val orderCols =
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  /** SQL mirror of [[ordersCdc]]: CTEs `chg` and `m`, all six columns. */
  private val ordersMergedSql: String = mergeSql("chg", "m", "orders",
    "o_orderkey", orderCols,
    s"""  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
       |    o_orderdate, o_orderpriority, false AS _deleted
       |  FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 97 <> 0
       |  UNION ALL
       |  SELECT $orderCols, true FROM orders WHERE o_orderkey % 97 = 0
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice,
       |    o_orderdate, o_orderpriority, false
       |  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0""".stripMargin)

  /** Deterministic CDC changeset over the (key, c_nationkey) projection
    * of customer, for the join-view maintenance law: every 13th customer
    * moves nation (a KEY-MOVING update for a view grouped by nation),
    * every 53rd is deleted (orphaning its orders out of the inner join),
    * every 29th is cloned under a shifted key (an insert matching no
    * orders — the zero-match path).
    */
  private def customerCdcChangeset(c2: DataFrame, key: String): DataFrame = {
    val k = col(key)
    val upd = c2
      .filter(k % 13 === 0 && k % 53 =!= 0)
      .withColumn("c_nationkey", (col("c_nationkey") + 7) % 25)
      .withColumn("_deleted", lit(false))
    val del = c2.filter(k % 53 === 0)
      .withColumn("_deleted", lit(true))
    val ins = c2.filter(k % 29 === 0)
      .withColumn(key, k + lit(50000000L))
      .withColumn("c_nationkey", lit(0).cast("int"))
      .withColumn("_deleted", lit(false))
    upd.unionByName(del).unionByName(ins)
  }

  /** customer as (c_custkey AS `key`, c_nationkey) under
    * [[customerCdcChangeset]]; `key` is the join key's name on the view. */
  private def customerCdc(s: SparkSession, dir: String, key: String): Cdc = {
    val c2 = t(s, dir, "customer")
      .select(col("c_custkey").as(key), col("c_nationkey"))
    Cdc(c2, customerCdcChangeset(c2, key), key)
  }

  /** SQL mirror of [[customerCdc]]: CTEs `cchg` and `cm`. */
  private val customerMergedSql: String = mergeSql("cchg", "cm", "customer",
    "c_custkey", "c_custkey, c_nationkey",
    """  SELECT c_custkey, CAST((c_nationkey + 7) % 25 AS INTEGER)
      |    AS c_nationkey, false AS _deleted
      |  FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 53 <> 0
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey, true
      |  FROM customer WHERE c_custkey % 53 = 0
      |  UNION ALL
      |  SELECT c_custkey + 50000000, CAST(0 AS INTEGER), false
      |  FROM customer WHERE c_custkey % 29 = 0""".stripMargin)

  /** orders as (c_custkey, o_orderkey, price) under a changeset that
    * moves customers' order counts across zero both ways: every 89th
    * order repriced +1, every 97th order and every order of a %31
    * customer deleted (%31 empties ENTIRE customers: real 1→0 crossings;
    * the update and delete branches are disjoint per orderkey), every
    * 101st cloned under a shifted key onto custkey + 1 (previously
    * order-less customers gain a first order: 0→1 crossings).
    */
  private def ordersByCustCdc(s: SparkSession, dir: String): Cdc = {
    val bPre = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
      col("o_orderkey"), col("o_totalprice").cast("decimal(18,4)").as("price"))
    Cdc(bPre, bPre
      .filter(col("o_orderkey") % 89 === 0 && col("o_orderkey") % 97 =!= 0 &&
        col("c_custkey") % 31 =!= 0)
      .withColumn("price", (col("price") + lit(1)).cast("decimal(18,4)"))
      .withColumn("_deleted", lit(false))
      .unionByName(bPre.filter(col("o_orderkey") % 97 === 0 ||
          col("c_custkey") % 31 === 0)
        .withColumn("_deleted", lit(true)))
      .unionByName(bPre
        .filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("c_custkey", col("c_custkey") + lit(1))
        .withColumn("_deleted", lit(false))), "o_orderkey")
  }

  /** SQL mirror of [[ordersByCustCdc]]: CTEs `chg` and `m`. */
  private val ordersByCustMergedSql: String = mergeSql("chg", "m", "orders",
    "o_orderkey", "o_orderkey, o_custkey, o_totalprice",
    """  SELECT o_orderkey, o_custkey, o_totalprice + 1 AS o_totalprice,
      |    false AS _deleted
      |  FROM orders WHERE o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0
      |    AND o_custkey % 31 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice, true
      |  FROM orders WHERE o_orderkey % 97 = 0 OR o_custkey % 31 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_custkey + 1, o_totalprice, false
      |  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0""".stripMargin)

  // ---- streaming: the tick loop and the admission rule's SQL mirror ----

  /** One maintained pipeline over the 3-batch watermark replay: allocates
    * the scratch root (conf-routable for clusters, sinks/Scratch.scala),
    * calls `tick(batch, b, root)` for each batch `event_id % 3 = b` in
    * order, and returns the view the ticks committed at `$root/mv`.
    * event_id % 3 interleaves hours, so late rows for old buckets are
    * common; each tick watermark-drops rows older than the committed
    * high-mark minus 2 h.
    */
  private def replay(s: SparkSession, dir: String, scratch: String)(
      tick: (DataFrame, Long, String) => Unit): DataFrame = {
    val ev = t(s, dir, "events")
    val root = Scratch.dir(s, scratch)
    (0L to 2L).foreach(b => tick(ev.filter(col("event_id") % 3 === b), b, root))
    Generations.read(s, s"$root/mv").get
  }

  /** SQL mirror of the admission rule [[replay]]'s ticks apply: batch 0
    * admits everything; batch b admits rows no older than the high-mark
    * of the rows ADMITTED before it minus 2 h. Renders the batches
    * `b0..b2` with marks `w0`, `w1`, then `$name`, their union; a
    * two-stream join replays each stream under its own `side` prefix
    * (batches `${side}a0..`, marks `${side}w0..`) with `pred` narrowing
    * every batch to that stream. COALESCE guards the empty-batch edge the
    * Spark side handles with an absent pointer.
    */
  private def admittedSql(name: String, pred: String = "",
      side: String = ""): String = {
    val b = if (side.isEmpty) "b" else s"${side}a"
    val p = if (pred.isEmpty) "" else s"$pred AND "
    s"""${b}0 AS (SELECT * FROM events_us
       |  WHERE ${p}event_id % 3 = 0),
       |${side}w0 AS (SELECT max(ts) AS wm FROM ${b}0),
       |${b}1 AS (SELECT e.* FROM events_us e
       |  WHERE ${p}event_id % 3 = 1
       |  AND e.ts >= coalesce((SELECT wm FROM ${side}w0) - INTERVAL 2 HOUR,
       |    TIMESTAMP '1900-01-01')),
       |${side}w1 AS (SELECT greatest(
       |  coalesce((SELECT wm FROM ${side}w0), TIMESTAMP '1900-01-01'),
       |  coalesce((SELECT max(ts) FROM ${b}1), TIMESTAMP '1900-01-01')) AS wm),
       |${b}2 AS (SELECT e.* FROM events_us e
       |  WHERE ${p}event_id % 3 = 2
       |  AND e.ts >= (SELECT wm FROM ${side}w1) - INTERVAL 2 HOUR),
       |$name AS (SELECT * FROM ${b}0 UNION ALL SELECT * FROM ${b}1
       |  UNION ALL SELECT * FROM ${b}2)""".stripMargin
  }

  private def replaySql(admissions: String*): String =
    ("""WITH events_us AS (
       |  SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)""".stripMargin
      +: admissions).mkString(",\n")

  /** `WITH … admitted`: the one-stream replay. */
  private val admittedEventsSql: String = replaySql(admittedSql("admitted"))

  /** `WITH … clicks, purch`: both admission cascades replayed
    * independently (each stream's mark advances only on ITS admitted
    * rows).
    */
  private val admittedPairSql: String = replaySql(
    admittedSql("clicks", "event_type = 'click'", side = "c"),
    admittedSql("purch", "event_type = 'purchase'", side = "p"))

  private def clicks(batch: DataFrame) = batch.filter(col("event_type") === "click")
  private def purchases(batch: DataFrame) =
    batch.filter(col("event_type") === "purchase")

  /** The 3-batch maintained streaming-attribution pipeline shared by
    * `mv_stream_attrib_join` (full retention) and `mv_stream_attrib_fold`
    * (band-horizon fold dial on) — both gate against the SAME oracle,
    * since the fold is content-invisible by construction.
    */
  private def attribPipeline(s: SparkSession, dir: String,
      scratch: String, foldAfterCommits: Int): DataFrame =
    replay(s, dir, scratch) { (batch, b, root) =>
      StreamingIvm.ingestAttributionBatch(s, clicks(batch), purchases(batch),
        b, s"$root/clicks", s"$root/purch", s"$root/mv",
        window = "4 hours", foldAfterCommits = foldAfterCommits)
    }.select(col("user_id"), col("n_pairs"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("user_id")

  /** The attribution view's DuckDB oracle — a from-scratch replay of both
    * admission cascades, then the band join: clicks inside
    * [p.ts, p.ts + 4h], summing the CLICK value. Shared VERBATIM by the
    * unfolded and folded gate queries.
    */
  private val attribOracleSql: String =
    s"""$admittedPairSql
       |SELECT c.user_id, count(*) AS n_pairs,
       |  CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       |FROM clicks c JOIN purch p ON c.user_id = p.user_id
       |  AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 4 HOUR
       |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** a timestamp column rendered as the oracles' strftime text */
  private def stamp(c: String) =
    date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Lakehouse MERGE INTO as a pure relation (operators/Merge.scala):
    // a deterministic CDC changeset over orders — urgent orders'
    // status updated, every 97th key deleted, every 101st key cloned as
    // an insert under a shifted key — applied as ONE key anti-join +
    // union (no window, no global sort; the committing form is
    // Generations.mergeAndCommit, spec-gated).
    "merge_upsert_orders" -> ((s, dir) =>
      ordersCdc(s, dir).after.orderBy("o_orderkey")),

    // Change data feed (operators/Merge.diff — Delta's table_changes
    // analog, the INVERSE of MERGE): the row-level changeset between the
    // orders snapshot and its merged successor. ONE key-shuffled
    // full-outer join + a codegen'd null-safe column-compare chain; the
    // oracle re-derives the same feed with FULL OUTER JOIN + IS NOT
    // DISTINCT FROM. The committing/time-travel form is
    // Generations.changesBetween (spec-gated).
    "cdc_orders_changes" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      Merge.diff(o.before, o.after, Seq("o_orderkey"),
          includePreimages = false)
        .orderBy("o_orderkey")
    }),

    // The CDC round-trip LAW under the oracle gate: re-applying the
    // change feed to the before-image must reproduce the after-image
    // exactly — mergeApply(before, asChangeset(diff(before, after))) ≡
    // after. The oracle is the merged result itself, so any diff defect
    // (lost delete, phantom update, wrong payload image) hash-fails.
    "cdc_roundtrip_orders" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      Merge.mergeApply(o.before,
          Merge.asChangeset(Merge.diff(o.before, o.after, Seq("o_orderkey"))),
          Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // The 4-type change feed (Delta CDF's full form): updates emit BOTH
    // images, because a retraction-based consumer must subtract the
    // preimage. Same single full-outer join as the 3-type feed plus one
    // narrow explode — the oracle re-derives all four classes from
    // membership/inequality subqueries.
    "cdc_orders_preimages" -> ((s, dir) =>
      ordersCdc(s, dir).feed.orderBy("o_orderkey", "_change_type")),

    // Incremental MV maintenance under the oracle gate — the LAW that
    // makes a maintained view trustworthy: applying the 4-type change
    // feed to the pre-change aggregate by retraction
    // (Incremental.maintainAgg) must equal a fresh aggregate of the
    // post-change snapshot, which is exactly what the oracle computes.
    // Revenue is DECIMAL on both sides: retraction arithmetic must be
    // exact or the law only holds approximately (the float-sum limit
    // quantified at sf1). Cost shape: one groupBy over the DELTA + one
    // key join against the view — the post-change table is never
    // re-aggregated.
    "mv_cdc_incremental_revenue" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def priced(df: DataFrame) = df.withColumn("price",
        col("o_totalprice").cast("decimal(18,4)"))
      val mv0 = priced(o.before).groupBy("o_custkey")
        .agg(sum(col("price")).as("revenue"),
          count(lit(1)).as("n_orders"))
      Incremental.maintainAgg(mv0, priced(o.feed),
          Seq("o_custkey"), Map("revenue" -> "price"), "n_orders")
        // OUTPUT PROFILE (r14): the maintenance arithmetic is decimal-
        // exact end-to-end; only the EMITTED column is cast to DOUBLE.
        // The r13 bisection showed the driver's oracle path floats all
        // DuckDB decimals while the Spark parquet dump keeps Decimal
        // objects at dump scale — any decimal output column whose
        // rendering differs from the float's ("123.4500" vs "123.45")
        // hash-fails even when values are exact. DOUBLE-on-both-sides is
        // the ~200-query proven-green profile; a single cast of value-
        // identical exact decimals is engine-deterministic (scaled int
        // < 2^53 through sf10, so the cast is correctly rounded on both
        // engines). See probe_hash_* family + BASELINE.md.
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy("o_custkey")
    }),

    // Non-retractable monoids under CDC maintenance: min/max cannot be
    // maintained by retraction (deleting a row says nothing about the
    // new extreme), so Incremental.maintainAggMinMax re-aggregates
    // exactly the DIRTY groups (those touched by a delete/preimage)
    // from the post-change snapshot — insert-only groups merge their
    // extremes monotonically for free. The oracle is a fresh aggregate
    // of the merged snapshot: any stale extreme (a retracted max still
    // standing) value-fails.
    "mv_cdc_minmax" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def priced(df: DataFrame) = df.withColumn("price",
        col("o_totalprice").cast("decimal(18,4)"))
      val mv0 = priced(o.before).groupBy("o_custkey")
        .agg(sum(col("price")).as("revenue"),
          count(lit(1)).as("n_orders"),
          min(col("price")).as("min_price"),
          max(col("price")).as("max_price"))
      Incremental.maintainAggMinMax(mv0, priced(o.feed),
          priced(o.after), Seq("o_custkey"), Map("revenue" -> "price"),
          "n_orders", Map("min_price" -> "price"), Map("max_price" -> "price"))
        // emitted columns in the proven-green DOUBLE profile (internal
        // state stays decimal-exact) — see mv_cdc_incremental_revenue
        .withColumn("revenue", col("revenue").cast("double"))
        .withColumn("min_price", col("min_price").cast("double"))
        .withColumn("max_price", col("max_price").cast("double"))
        .orderBy("o_custkey")
    }),

    // Multi-table IVM: an aggregate OVER A JOIN maintained from the
    // change feeds of BOTH inputs — Incremental.deltaJoin turns ΔA/ΔB
    // into the join view's own feed (ΔV = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB, signs
    // multiplying), which maintainAgg then applies by retraction. The
    // law (= the oracle): maintained state ≡ fresh aggregate of the
    // post-change orders ⋈ post-change customer. Exercises every hard
    // path at once: a key-moving dimension update (customer changes
    // nation → revenue retracts from one group and lands in another
    // through the update's two images), a dimension delete orphaning
    // fact rows out of the inner join, fact inserts/deletes/updates,
    // and cancelling update pairs on columns the projection dropped.
    // Cost shape: each base is scanned once against a broadcast-sized
    // delta — the post-change tables are never re-joined.
    "mv_cdc_join_revenue" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def proj(df: DataFrame) = df.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      val c = customerCdc(s, dir, "o_custkey")
      val mv0 = proj(o.before).join(c.before, "o_custkey")
        .groupBy("c_nationkey")
        .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n_orders"))
      // projecting a signed delta is still a valid delta of the
      // projection: images differing only in dropped columns become
      // cancelling ± pairs the downstream aggregation nets to zero
      val oChangesProj = o.feed.select(col("_change_type"),
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      // two-term post-state feed (r20): c.after is already in hand, so
      // ΔA⋈ΔB folds into ΔA⋈B_post — one join fewer, same multiset
      val feed = Incremental.deltaJoinPost(
        proj(o.before), oChangesProj, c.after, c.feed, Seq("o_custkey"))
      Incremental.maintainAgg(mv0, feed,
          Seq("c_nationkey"), Map("revenue" -> "price"), "n_orders")
        // proven-green DOUBLE output profile (internal state decimal-
        // exact) — see mv_cdc_incremental_revenue
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy("c_nationkey")
    }),

    // COUNT DISTINCT under retraction — not a retractable monoid on its
    // own (a deleted value may still be supplied by another row), so the
    // stored state is a SUPPORT table keyed (group, value) whose row
    // count maintains by plain retraction; the distinct count is derived
    // as surviving support rows per group (Incremental.maintainDistinct
    // / distinctOf — the Flink distinct-agg-state shape). The law: the
    // maintained support's derived count ≡ a fresh COUNT(DISTINCT) of
    // the merged snapshot. The changeset exercises the hard cases: a
    // delete removing a customer's LAST order in a priority (distinct
    // drops), a delete removing one of several (distinct must NOT
    // drop), and status updates that net to cancelling ± support pairs.
    // Cost shape: delta groupBy + key join on the support key, derived
    // count one groupBy over the support — all |distinct|-bounded.
    "mv_cdc_distinct_custs" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      val support0 = o.before.groupBy("o_orderpriority", "o_custkey")
        .agg(count(lit(1)).as("_support_n"))
      val support1 = Incremental.maintainDistinct(
        support0, o.feed, Seq("o_orderpriority"), Seq("o_custkey"))
      Incremental.distinctOf(support1, Seq("o_orderpriority"), "n_custs")
        .orderBy("o_orderpriority")
    }),

    // THREE-way join view maintained by COMPOSING the delta join with
    // itself: Δ(A⋈B⋈C) = deltaJoin((A⋈B)_pre, deltaJoin(ΔA, ΔB), C_pre,
    // ΔC) — the z-set identity is closed under composition, so an
    // arbitrary join tree maintains by folding deltaJoin up the tree
    // with each internal node's pre-state as the static side. The
    // changeset moves keys at EVERY level: fact updates/deletes/
    // inserts, a key-moving customer nation update, a nation RENAME (a
    // key-moving update for a view grouped by name), a nation delete
    // orphaning a whole country's orders, and zero-match inserts at
    // both dimension levels. Oracle: fresh aggregate of the post-change
    // three-way join.
    "mv_cdc_join3_revenue" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def proj(df: DataFrame) = df.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      val oChanges = o.feed
        .select(col("_change_type"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("price"))
      val c = customerCdc(s, dir, "o_custkey")
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      val n = Cdc(n2, n2
        .filter(col("c_nationkey") % 5 === 0 && col("c_nationkey") =!= 13)
        .withColumn("n_name", concat(col("n_name"), lit("_X")))
        .withColumn("_deleted", lit(false))
        .unionByName(n2.filter(col("c_nationkey") === 13)
          .withColumn("_deleted", lit(true)))
        .unionByName(n2.filter(col("c_nationkey") === 0)
          .withColumn("c_nationkey", col("c_nationkey") + lit(100))
          .withColumn("n_name", lit("ATLANTIS"))
          .withColumn("_deleted", lit(false))), "c_nationkey")
      val abPre = proj(o.before).join(c.before, "o_custkey")
      // two-term post-state feeds (r20): each fold step consumes the
      // composed feed ONCE (the three-term form re-planned feedAB in
      // its ΔA⋈B and ΔA⋈ΔB terms) against the post-state dimension
      val feedAB = Incremental.deltaJoinPost(
        proj(o.before), oChanges, c.after, c.feed, Seq("o_custkey"))
      val feedABC = Incremental.deltaJoinPost(
        abPre, feedAB, n.after, n.feed, Seq("c_nationkey"))
      val mv0 = abPre.join(n2, "c_nationkey")
        .groupBy("n_name")
        .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n_orders"))
      Incremental.maintainAgg(mv0, feedABC,
          Seq("n_name"), Map("revenue" -> "price"), "n_orders")
        // proven-green DOUBLE output profile (internal state decimal-
        // exact) — see mv_cdc_incremental_revenue
        .withColumn("revenue", col("revenue").cast("double"))
        .orderBy("n_name")
    }),

    // LEFT-join view under IVM: customer ⟕ orders per nation — the
    // shape the inner delta join cannot give, because NULL-EXTENDED
    // rows (customers with no orders; ~1/3 of TPC-H customers) appear
    // and disappear when a customer's order-match count CROSSES zero,
    // not merely when rows churn. deltaJoinLeft adds the two
    // null-extension terms (A_pre at emptiness-flipped keys + A-churn
    // at post-empty keys, both delta-bounded). The changeset
    // (ordersByCustCdc) forces crossings in BOTH directions: order
    // deletes empty some customers (1→0: null-extension appears), order
    // inserts are cloned onto custkey+1 so previously order-less
    // customers gain a first order (0→1: null-extension retracts),
    // customer deletes remove matched AND null-extended rows, customer
    // inserts land order-less. The law: maintained ≡ fresh LEFT-join
    // aggregate; revenue COALESCEd on both sides (SQL sum over an
    // all-null group is NULL, retraction arithmetic carries 0).
    "mv_cdc_leftjoin_revenue" -> ((s, dir) => {
      val c = customerCdc(s, dir, "c_custkey")
      val b = ordersByCustCdc(s, dir)
      val mv0 = c.before.join(b.before, Seq("c_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n_rows"))
      val feed = Incremental.deltaJoinLeft(
        c.before, c.feed, b.before, b.feed, Seq("c_custkey"),
        bPost = Some(b.after))
      Incremental.maintainAgg(mv0, feed,
          Seq("c_nationkey"), Map("revenue" -> "price"), "n_rows")
        // proven-green DOUBLE output profile (internal state decimal-
        // exact) — see mv_cdc_incremental_revenue
        .withColumn("revenue",
          coalesce(col("revenue"), lit(0)).cast("double"))
        .orderBy("c_nationkey")
    }),

    // ANTI-join under IVM: the customers-with-no-orders view (the
    // reference's anti_customers_no_orders family) MAINTAINED instead
    // of recomputed — a customer enters/leaves the not-exists set
    // exactly when its order-match count crosses zero
    // (Incremental.deltaAntiJoin = the membership-crossing delta with
    // no null extension). The count view maintains with maintainAgg's
    // empty-sums form. Oracle: fresh NOT IN count per nation.
    "mv_cdc_anti_no_orders" -> ((s, dir) => {
      val c = customerCdc(s, dir, "c_custkey")
      val bPre = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      // %31-custkey deletes take a customer's ENTIRE order set: real
      // 1->0 crossings across many nations (the driver's orders cover
      // nearly every customer, so without this the anti set would be
      // only the inserted customers)
      val b = Cdc(bPre, bPre.filter(col("o_orderkey") % 97 === 0 ||
          col("c_custkey") % 31 === 0)
        .withColumn("_deleted", lit(true))
        .unionByName(bPre
          .filter(col("o_orderkey") % 101 === 0 && col("o_orderkey") % 97 =!= 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("c_custkey", col("c_custkey") + lit(1))
          .withColumn("_deleted", lit(false))), "o_orderkey")
      val mv0 = c.before.join(bPre, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_custs"))
      val feed = Incremental.deltaAntiJoin(
        c.before, c.feed, bPre, b.feed, Seq("c_custkey"))
      Incremental.maintainAgg(mv0, feed,
          Seq("c_nationkey"), Map.empty, "n_custs")
        .orderBy("c_nationkey")
    }),

    // FULL-outer join under IVM: customer ⟗ orders per nation — BOTH
    // orphan directions live in the view (order-less customers
    // null-extend B's columns; orders of deleted customers null-extend
    // A's, landing in the sentinel nation −1). deltaJoinFull =
    // deltaJoinLeft + the mirrored B-side membership delta. The group
    // key is COALESCEd to the sentinel on both the view and the feed
    // (group keys must be non-null: maintainAgg's full-outer state join
    // is null-unsafe by SQL semantics, the documented convention).
    "mv_cdc_fulljoin_revenue" -> ((s, dir) => {
      val c = customerCdc(s, dir, "c_custkey")
      val b = ordersByCustCdc(s, dir)
      def nat(df: DataFrame) = df.withColumn("nat",
        coalesce(col("c_nationkey"), lit(-1)))
      val mv0 = nat(c.before.join(b.before, Seq("c_custkey"), "full"))
        .groupBy("nat")
        .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n_rows"))
      val feed = nat(Incremental.deltaJoinFull(
        c.before, c.feed, b.before, b.feed, Seq("c_custkey"),
        bPost = Some(b.after)))
      Incremental.maintainAgg(mv0, feed,
          Seq("nat"), Map("revenue" -> "price"), "n_rows")
        // proven-green DOUBLE output profile (internal state decimal-
        // exact) — see mv_cdc_incremental_revenue
        .withColumn("revenue",
          coalesce(col("revenue"), lit(0)).cast("double"))
        .orderBy("nat")
    }),

    // MATERIALIZED join maintenance — the row-level complement of the
    // aggregate tier: Incremental.applyFeed applies the signed
    // delta-join feed to the stored JOIN ROWSET itself (full-row
    // null-safe cancellation, multiplicity-exact), so a downstream
    // consumer reads maintained join ROWS, not just maintained
    // aggregates. The law: applyFeed(pre-join, deltaJoin feed) ≡ the
    // fresh post-change join, row for row.
    "mv_cdc_materialized_join" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def proj(df: DataFrame) = df.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,4)").as("price"))
      val oChanges = o.feed
        .select(col("_change_type"), col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,4)").as("price"))
      val c = customerCdc(s, dir, "o_custkey")
      val view0 = proj(o.before).join(c.before, "o_custkey")
      val feed = Incremental.deltaJoinPost(
        proj(o.before), oChanges, c.after, c.feed, Seq("o_custkey"))
      Incremental.applyFeed(view0, feed)
        // row-level cancellation runs on the exact decimal price; only
        // the emitted column is floated (proven-green DOUBLE profile —
        // see mv_cdc_incremental_revenue)
        .withColumn("price", col("price").cast("double"))
        .orderBy("o_orderkey")
    }),

    // Second moments under retraction: variance/stddev derive from
    // maintained (sum x, sum x², count) — x² is just another retracted
    // decimal sum, so the algebra needs nothing new; the derivation to
    // stddev happens at read time in DOUBLE from the decimal-exact
    // sums with one fixed formula + floor-snap on BOTH sides (IEEE ops
    // over identical inputs are engine-deterministic, the established
    // rounding rule).
    "mv_cdc_stddev" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def priced(df: DataFrame) = df
        .withColumn("x", col("o_totalprice").cast("decimal(18,4)"))
        .withColumn("x2", col("x") * col("x"))
      val mv0 = priced(o.before).groupBy("o_orderpriority")
        .agg(sum(col("x")).as("sum_price"), sum(col("x2")).as("sum_sq"),
          count(lit(1)).as("n_orders"))
      val maintained = Incremental.maintainAgg(mv0,
        priced(o.feed), Seq("o_orderpriority"),
        Map("sum_price" -> "x", "sum_sq" -> "x2"), "n_orders")
      val sumD = col("sum_price").cast("decimal(38,4)").cast("double")
      val sqD = col("sum_sq").cast("decimal(38,8)").cast("double")
      maintained
        .withColumn("stddev_price", floor(sqrt(greatest(
            (sqD - sumD * sumD / col("n_orders")) / col("n_orders"),
            lit(0.0))) * 1e6 + 0.5) / 1e6)
        .select(col("o_orderpriority"),
          // proven-green DOUBLE output profile (the decimal-exact sum is
          // cast once) — see mv_cdc_incremental_revenue
          col("sum_price").cast("double").as("sum_price"),
          col("n_orders"), col("stddev_price"))
        .orderBy("o_orderpriority")
    }),

    // TOP-K rows per group under CDC maintenance (the ranking analogue
    // of the min/max dirty-group strategy — min/max IS k=1): the stored
    // top-3 orders per priority advance by rank-merging insert-only
    // groups (topk(A∪B) = topk(topk(A)∪B)) and re-ranking exactly the
    // retraction-touched groups from the post-change snapshot. The
    // changeset deletes rows that sit INSIDE current top-3s (every 97th
    // order includes some group leaders), so a stale stored row
    // value-fails against the fresh window-rank oracle.
    "mv_cdc_topk_orders" -> ((s, dir) => {
      val o = ordersCdc(s, dir)
      def proj(df: DataFrame) = df.select(col("o_orderpriority"),
        col("o_orderkey"), col("o_totalprice").cast("decimal(18,4)").as("price"))
      val view0 = proj(o.before)
        .withColumn("_r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("o_orderpriority")
            .orderBy(col("price").desc, col("o_orderkey").asc)))
        .filter(col("_r") <= 3).drop("_r")
      val changes = o.feed.select(col("_change_type"), col("o_orderpriority"),
        col("o_orderkey"), col("o_totalprice").cast("decimal(18,4)").as("price"))
      Incremental.maintainTopK(view0, changes, proj(o.after),
          Seq("o_orderpriority"), "price", "o_orderkey", 3)
        // rank maintenance runs on the exact decimal price; only the
        // emitted column is floated (proven-green DOUBLE profile — see
        // mv_cdc_incremental_revenue); the cast is order-preserving
        .withColumn("price", col("price").cast("double"))
        .orderBy(col("o_orderpriority"), col("price").desc, col("o_orderkey"))
    }),

    // EX5 × IVM: event-time streaming maintenance of an HOURLY windowed
    // aggregate (streaming/StreamingIvm.scala) — the batch equivalent of
    // the foreachBatch pipeline, exactly-once per micro-batch. Each tick
    // appends the admitted delta under a replay witness and advances the
    // view by the window delta only. The oracle replays the SAME
    // admission rule batch-by-batch in SQL and aggregates fresh, so the
    // hash compare proves maintained ≡ recomputed INCLUDING the
    // late-data drop semantics. Sum state decimal-exact, emitted DOUBLE.
    "mv_stream_hourly_revenue" -> ((s, dir) =>
      replay(s, dir, "graft-mvstream") { (batch, b, root) =>
        StreamingIvm.ingestBatch(s, batch, b, s"$root/log", s"$root/mv")
      }.select(stamp("bucket"), col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("bucket", "event_type")),

    // EX5 × IVM over a JOIN: a fact STREAM maintained against a MUTATING
    // dimension (StreamingIvm.ingestJoinBatch → maintainJoinAggOnceLog).
    // The dimension is committed at v1, then every 13th user MOVES
    // nation between batches 0 and 1 — a key-moving dimension update
    // landing mid-stream, so the batch-1 tick advances from BOTH feeds
    // at once (fact delta ⋈ dim ∪ dim delta ⋈ fact-pre, signed); the
    // moved users' already-accumulated revenue must follow them. The
    // oracle joins the watermark-admitted fact union to the POST-update
    // dimension: the maintained ≡ recomputed law across a live
    // two-sided history.
    "mv_stream_join_nation_value" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      def dimOf(c: DataFrame) = c
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("user_id"), col("n_name"))
      val moved = cust.withColumn("c_nationkey",
        when(col("user_id") % 13 === 0, (col("c_nationkey") + 7) % 25)
          .otherwise(col("c_nationkey")))
      replay(s, dir, "graft-mvstreamjoin") { (batch, b, root) =>
        if (b < 2)
          Generations.writeAndCommit(s, dimOf(if (b == 0) cust else moved),
            s"$root/dim")
        StreamingIvm.ingestJoinBatch(s, batch, b, s"$root/log", s"$root/dim",
          dimKeys = Seq("user_id"), joinKeys = Seq("user_id"),
          mvTable = s"$root/mv", mvKeys = Seq("n_name"))
      }.select(col("n_name"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("n_name")
    }),

    // EX5 × IVM with MIN/MAX: extremes over an INSERT-ONLY stream merge
    // monotonically (least/greatest with the batch's extremes — no
    // retraction, so the non-retractable-monoid machinery never fires),
    // maintained through the same watermark-replayed 3-batch arrival.
    "mv_stream_hourly_minmax" -> ((s, dir) =>
      replay(s, dir, "graft-mvstreammm") { (batch, b, root) =>
        StreamingIvm.ingestBatch(s, batch, b, s"$root/log", s"$root/mv",
          trackMinMax = true)
      }.select(stamp("bucket"), col("event_type"), col("n"),
          col("sum_value").cast("double").as("sum_value"),
          col("min_value").cast("double").as("min_value"),
          col("max_value").cast("double").as("max_value"))
        .orderBy("bucket", "event_type")),

    // EX5 × IVM, SLIDING form: same 3-batch watermark-replayed pipeline,
    // 1 h windows sliding every 30 min — each admitted event explodes
    // into its 2 covering buckets at append time (Catalyst TimeWindowing
    // Expand), and the maintenance machinery is UNCHANGED: window
    // overlap is a data-shape concern, not a new operator. Proves the
    // streaming-IVM tier composes across window kinds.
    "mv_stream_sliding_value" -> ((s, dir) =>
      replay(s, dir, "graft-mvslide") { (batch, b, root) =>
        StreamingIvm.ingestBatch(s, batch, b, s"$root/log", s"$root/mv",
          keyCols = Nil, slide = Some("30 minutes"))
      }.select(stamp("bucket"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("bucket")),

    // EX5 × IVM, SESSION form (the last EX5×IVM shape): gap-based
    // per-user sessions maintained over the same 3-batch
    // watermark-replayed arrival. Sessions are NOT an abelian aggregate
    // — a late admitted event can MERGE two existing sessions — so the
    // maintenance is dirty-USER re-sessionization from the event log
    // (ChangeFeed.maintainSessionsOnceLog); untouched users' rows are
    // carried. The oracle replays the admission batch-by-batch, then
    // sessionizes the admitted union fresh: maintained ≡ recomputed
    // INCLUDING merge-under-late-data semantics.
    "mv_stream_session_counts" -> ((s, dir) =>
      replay(s, dir, "graft-mvsession") { (batch, b, root) =>
        StreamingIvm.ingestSessionBatch(s, batch, b, s"$root/log", s"$root/mv")
      }.select(col("user_id"), stamp("session_start"), stamp("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")),

    // EX5 × IVM, TOP-K form (r17, seventh shape): per-hour top-3 users
    // by summed value, maintained over the same 3-batch watermark-
    // replayed arrival (StreamingIvm.ingestTopKBatch →
    // maintainTopKOnceLog). Top-k is NOT abelian — a late event can
    // EVICT a carried entity from its window's ranking and the evicted
    // row leaves no trace in the view — so the maintenance re-ranks
    // exactly the delta-dirty WINDOWS from the log and carries the
    // rest (the sessions dirty-group law, with the window as the
    // group). Ranking is on the DECIMAL sum (order-independent), ties
    // broken by user id; the oracle replays admission then ranks the
    // admitted union fresh: maintained ≡ recomputed.
    "mv_stream_topk_users" -> ((s, dir) =>
      replay(s, dir, "graft-mvtopk") { (batch, b, root) =>
        StreamingIvm.ingestTopKBatch(s, batch, b, s"$root/log", s"$root/mv",
          k = 3)
      }.select(stamp("bucket"), col("user_id"), col("rank"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("bucket", "rank")),

    // EX5 × IVM, STREAM ⋈ STREAM form (the eighth shape, r17 VERDICT
    // #5): clicks ⋈ purchases on user_id — TWO append-only event logs,
    // each under its own committed event-time mark (late rows drop per
    // side), the view advanced by the insert-only delta join
    // ΔA⋈B_head ∪ A_pre⋈ΔB under the =cdcv2= pair watermark
    // (StreamingIvm.ingestStreamJoinBatch →
    // ChangeFeed.maintainStreamJoinOnceLogs). The oracle replays BOTH
    // admission cascades independently, then joins the admitted sets —
    // equality proves maintained ≡ recomputed across a two-sided
    // watermark history.
    "mv_stream_stream_join" -> ((s, dir) =>
      replay(s, dir, "graft-mvss") { (batch, b, root) =>
        StreamingIvm.ingestStreamJoinBatch(s, clicks(batch), purchases(batch),
          b, s"$root/clicks", s"$root/purch", s"$root/mv")
      }.select(col("user_id"), col("n_pairs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id")),

    // EX5 × IVM, BANDED-equi form (r19): the stream⋈stream join under
    // a DECLARED-and-ENFORCED pair TTL — pairs form only between rows
    // ≤ 4h apart in event time. The band both DEFINES the view
    // (enforced in the pair-builder, so the result is deterministic on
    // any data — not trusted-declaration semantics where a violating
    // pair's fate depends on fold timing) and BOUNDS retention: the
    // per-tick fold dial drops rows past the other mark − lateness −
    // ttl, carrying their pair mass as quiescent summary rows that the
    // next tick resumes from incrementally (stacked-fold chain
    // quiescence). The oracle replays both admission cascades then the
    // plain BAND join over ALL admitted rows — equality across the
    // folds proves folded ≡ raw on the gate data.
    "mv_stream_join_ttl" -> ((s, dir) =>
      replay(s, dir, "graft-mvssttl") { (batch, b, root) =>
        StreamingIvm.ingestStreamJoinBatch(s, clicks(batch), purchases(batch),
          b, s"$root/clicks", s"$root/purch", s"$root/mv",
          pairTtl = Some("4 hours"), foldAfterCommits = 1)
      }.select(col("user_id"), col("n_pairs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id")),

    // EX5 × IVM, GRID-QUANTILE form (TENTH shape): the maintained state
    // is a per-hour value-cell HISTOGRAM — ingestBatch with the
    // quantized cell as a key column, zero new maintenance machinery —
    // and p50/p95/p99 are a bounded O(cells) reader over it
    // (StreamingIvm.gridQuantiles). The oracle replays the admission
    // and mirrors the lower-quantile definition verbatim: exact at grid
    // resolution, engines cannot disagree on integer-count thresholds.
    "mv_stream_grid_quantiles" -> ((s, dir) =>
      StreamingIvm.gridQuantiles(
        replay(s, dir, "graft-mvquant") { (batch, b, root) =>
          StreamingIvm.ingestBatch(s, batch.filter(col("value").isNotNull)
              .withColumn("_cell", floor(col("value") / 10.0).cast("long")),
            b, s"$root/log", s"$root/mv", keyCols = Seq("_cell"))
        }, step = 10.0, qs = Map("p50" -> 0.50, "p95" -> 0.95, "p99" -> 0.99))
        .select(stamp("bucket"), col("p50"), col("p95"), col("p99"), col("n"))
        .orderBy("bucket")),

    // EX5 × IVM, TIME-BAND form (the ninth shape): maintained streaming
    // ATTRIBUTION — clicks within each purchase's 4-hour window, i.e.
    // the stream⋈stream join under a band predicate, RangeJoin-binned
    // so each maintenance tick shuffles on (user, hour-bin) instead of
    // per-user cross products (StreamingIvm.ingestAttributionBatch).
    // The oracle replays both admission cascades then the plain band
    // join — maintained ≡ recomputed for a non-equi pair-builder.
    "mv_stream_attrib_join" -> ((s, dir) =>
      attribPipeline(s, dir, "graft-mvattr", foldAfterCommits = 0)),

    // The SAME attribution pipeline with the r19 BAND-HORIZON FOLD dial
    // on (fold once a log's span exceeds 1 commit): ticks 2+ maintain
    // over folded logs — dead rows dropped, their pair contribution
    // carried as _gsum summary rows — and the post-fold tick exercises
    // the recompute-with-summaries path. The oracle is VERBATIM the
    // unfolded query's: folded ≡ raw is the gate's claim, checked
    // against DuckDB's independent full recompute, not just a spec.
    "mv_stream_attrib_fold" -> ((s, dir) =>
      attribPipeline(s, dir, "graft-mvattrf", foldAfterCommits = 1)),

    // EX5 × IVM, SKETCH form: a per-hour KMV distinct-user sketch
    // maintained over the same 3-batch watermark-replayed arrival —
    // the FOLDABLE-state shape (StreamingIvm.ingestKmvBatch →
    // maintainKmvOnceLog). KMV state is a bounded idempotent abelian
    // monoid under union∘k-min, so each tick merges the delta's hashes
    // into the CARRIED view state itself, never re-reading the log —
    // the cheapest maintenance class of the family (sessions re-read
    // dirty users; sums need the replay witness; KMV needs neither).
    // The oracle replays the admission batch-by-batch, then computes
    // the k-min cut + (k−1)·2⁶⁰/h₍ₖ₎ estimate fresh over the admitted
    // union (same md5 60-bit hash family as sketch_kmv_distinct):
    // maintained ≡ recomputed, value-exact cross-engine.
    "mv_stream_kmv_distinct" -> ((s, dir) =>
      replay(s, dir, "graft-mvkmv") { (batch, b, root) =>
        StreamingIvm.ingestKmvBatch(s, batch, b, s"$root/log", s"$root/mv")
      }.select(stamp("bucket"), col("n_kept"), col("hk"),
          (floor(col("est_kmv") * 1e6 + 0.5) / 1e6).as("est_kmv"))
        .orderBy("bucket"))
  )

  val oracles: Map[String, String] = Map(

    "merge_upsert_orders" ->
      s"""WITH $ordersMergedSql
         |SELECT * FROM m ORDER BY o_orderkey""".stripMargin,

    "cdc_orders_changes" ->
      s"""WITH $ordersMergedSql,
         |d AS (
         |  SELECT
         |    CASE WHEN b.o_orderkey IS NULL THEN 'insert'
         |      WHEN a.o_orderkey IS NULL THEN 'delete'
         |      WHEN NOT (b.o_custkey IS NOT DISTINCT FROM a.o_custkey
         |        AND b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus
         |        AND b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice
         |        AND b.o_orderdate IS NOT DISTINCT FROM a.o_orderdate
         |        AND b.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority)
         |      THEN 'update_postimage' END AS _change_type,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderkey
         |      ELSE b.o_orderkey END AS o_orderkey,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_custkey
         |      ELSE b.o_custkey END AS o_custkey,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderstatus
         |      ELSE b.o_orderstatus END AS o_orderstatus,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_totalprice
         |      ELSE b.o_totalprice END AS o_totalprice,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderdate
         |      ELSE b.o_orderdate END AS o_orderdate,
         |    CASE WHEN a.o_orderkey IS NOT NULL THEN a.o_orderpriority
         |      ELSE b.o_orderpriority END AS o_orderpriority
         |  FROM orders b FULL OUTER JOIN m a ON b.o_orderkey = a.o_orderkey)
         |SELECT * FROM d WHERE _change_type IS NOT NULL
         |ORDER BY o_orderkey""".stripMargin,

    // round trip ≡ the merged snapshot: same result as merge_upsert_orders
    "cdc_roundtrip_orders" ->
      s"""WITH $ordersMergedSql
         |SELECT * FROM m ORDER BY o_orderkey""".stripMargin,

    "cdc_orders_preimages" ->
      s"""WITH $ordersMergedSql,
         |updk AS (
         |  SELECT b.o_orderkey FROM orders b JOIN m a
         |    ON b.o_orderkey = a.o_orderkey
         |  WHERE NOT (b.o_custkey IS NOT DISTINCT FROM a.o_custkey
         |    AND b.o_orderstatus IS NOT DISTINCT FROM a.o_orderstatus
         |    AND b.o_totalprice IS NOT DISTINCT FROM a.o_totalprice
         |    AND b.o_orderdate IS NOT DISTINCT FROM a.o_orderdate
         |    AND b.o_orderpriority IS NOT DISTINCT FROM a.o_orderpriority))
         |SELECT 'insert' AS _change_type, * FROM m
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders)
         |UNION ALL
         |SELECT 'delete', $orderCols FROM orders
         |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM m)
         |UNION ALL
         |SELECT 'update_preimage', $orderCols FROM orders
         |  WHERE o_orderkey IN (SELECT o_orderkey FROM updk)
         |UNION ALL
         |SELECT 'update_postimage', $orderCols FROM m
         |  WHERE o_orderkey IN (SELECT o_orderkey FROM updk)
         |ORDER BY o_orderkey, _change_type""".stripMargin,

    // the LAW's oracle: a FRESH aggregate of the merged snapshot — any
    // retraction defect (double-counted postimage, unretracted delete,
    // lingering empty group) value-fails
    "mv_cdc_incremental_revenue" ->
      s"""WITH $ordersMergedSql
         |SELECT o_custkey,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS revenue,
         |  count(*) AS n_orders
         |FROM m GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // min/max law oracle: fresh extremes of the merged snapshot — a
    // retracted extreme left standing by the maintenance value-fails
    "mv_cdc_minmax" ->
      s"""WITH $ordersMergedSql
         |SELECT o_custkey,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS revenue,
         |  count(*) AS n_orders,
         |  CAST(min(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS min_price,
         |  CAST(max(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS max_price
         |FROM m GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // join-view law oracle: fresh aggregate over post-change orders ⋈
    // post-change customer — any delta-join defect (missed retraction
    // through a key-moving dimension update, orphaned fact rows still
    // counted after a dimension delete, double-counted ΔA⋈ΔB term)
    // value-fails
    "mv_cdc_join_revenue" ->
      s"""WITH $ordersMergedSql,
         |$customerMergedSql
         |SELECT c_nationkey,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS revenue,
         |  count(*) AS n_orders
         |FROM m JOIN cm ON m.o_custkey = cm.c_custkey
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // distinct-count law oracle: a fresh COUNT(DISTINCT) of the merged
    // snapshot — a support row wrongly retained (distinct too high) or
    // wrongly retracted (too low) value-fails
    "mv_cdc_distinct_custs" ->
      s"""WITH $ordersMergedSql
         |SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs
         |FROM m GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // 3-way join-view law oracle: fresh aggregate of the post-change
    // orders ⋈ customer ⋈ nation — a composition defect at either join
    // level (a renamed nation's revenue left under the old name, a
    // deleted nation's orders still counted) value-fails
    "mv_cdc_join3_revenue" -> {
      val nationMergedSql = mergeSql("nchg", "nm", "nation", "n_nationkey",
        "n_nationkey, n_name",
        """  SELECT n_nationkey, n_name || '_X' AS n_name, false AS _deleted
          |  FROM nation WHERE n_nationkey % 5 = 0 AND n_nationkey <> 13
          |  UNION ALL
          |  SELECT n_nationkey, n_name, true FROM nation WHERE n_nationkey = 13
          |  UNION ALL
          |  SELECT n_nationkey + 100, 'ATLANTIS', false
          |  FROM nation WHERE n_nationkey = 0""".stripMargin)
      s"""WITH $ordersMergedSql,
         |$customerMergedSql,
         |$nationMergedSql
         |SELECT n_name,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         |    AS revenue,
         |  count(*) AS n_orders
         |FROM m JOIN cm ON m.o_custkey = cm.c_custkey
         |JOIN nm ON cm.c_nationkey = nm.n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    },

    // left-join law oracle: fresh LEFT-join aggregate of the merged
    // snapshots — a null-extension row left standing after its customer
    // gained a first order, or never materialized after the last order
    // died, value-fails (n_rows counts null-extended rows; revenue
    // COALESCEd: all-null SQL sum is NULL, retraction arithmetic is 0)
    "mv_cdc_leftjoin_revenue" ->
      s"""WITH $ordersByCustMergedSql,
         |$customerMergedSql
         |SELECT c_nationkey,
         |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0)
         |    AS DOUBLE) AS revenue,
         |  count(*) AS n_rows
         |FROM cm LEFT JOIN m ON cm.c_custkey = m.o_custkey
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // anti-join law oracle: fresh NOT-IN count of the merged snapshots —
    // a customer wrongly kept in (or dropped from) the no-orders set
    // after its match count crossed zero value-fails
    "mv_cdc_anti_no_orders" -> {
      val orderChurnSql = mergeSql("chg", "m", "orders", "o_orderkey",
        "o_orderkey, o_custkey",
        """  SELECT o_orderkey, o_custkey, true AS _deleted
          |  FROM orders WHERE o_orderkey % 97 = 0 OR o_custkey % 31 = 0
          |  UNION ALL
          |  SELECT o_orderkey + 100000000, o_custkey + 1, false
          |  FROM orders WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0""".stripMargin)
      s"""WITH $orderChurnSql,
         |$customerMergedSql
         |SELECT c_nationkey, count(*) AS n_custs
         |FROM cm WHERE c_custkey NOT IN (SELECT o_custkey FROM m)
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
    },

    // full-outer law oracle: fresh FULL JOIN aggregate of the merged
    // snapshots, orphans of BOTH directions under the sentinel group
    "mv_cdc_fulljoin_revenue" ->
      s"""WITH $ordersByCustMergedSql,
         |$customerMergedSql
         |SELECT coalesce(c_nationkey, -1) AS nat,
         |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0)
         |    AS DOUBLE) AS revenue,
         |  count(*) AS n_rows
         |FROM cm FULL JOIN m ON cm.c_custkey = m.o_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // materialized-join law oracle: the fresh post-change join, row for
    // row — one wrongly-cancelled or ghost row value-fails
    "mv_cdc_materialized_join" ->
      s"""WITH $ordersMergedSql,
         |$customerMergedSql
         |SELECT m.o_orderkey, m.o_custkey,
         |  CAST(CAST(m.o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
         |  cm.c_nationkey
         |FROM m JOIN cm ON m.o_custkey = cm.c_custkey
         |ORDER BY m.o_orderkey""".stripMargin,

    // second-moment law oracle: fresh decimal sums of x and x² over the
    // merged snapshot, stddev derived with the SAME double formula and
    // floor-snap — identical exact inputs ⇒ identical IEEE outputs
    "mv_cdc_stddev" ->
      s"""WITH $ordersMergedSql,
         |agg AS (
         |  SELECT o_orderpriority,
         |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS sum_x,
         |    -- DECIMAL(19,4) forces DuckDB's int128 path: an 18-wide
         |    -- product stays in int64 and overflows on real totalprices
         |    sum(CAST(o_totalprice AS DECIMAL(19,4)) *
         |        CAST(o_totalprice AS DECIMAL(19,4))) AS sum_x2,
         |    count(*) AS n_orders
         |  FROM m GROUP BY o_orderpriority)
         |SELECT o_orderpriority,
         |  CAST(sum_x AS DOUBLE) AS sum_price,
         |  n_orders,
         |  floor(sqrt(greatest(
         |    (CAST(CAST(sum_x2 AS DECIMAL(38,8)) AS DOUBLE)
         |      - CAST(CAST(sum_x AS DECIMAL(38,4)) AS DOUBLE)
         |        * CAST(CAST(sum_x AS DECIMAL(38,4)) AS DOUBLE) / n_orders)
         |      / n_orders, 0)) * 1e6 + 0.5) / 1e6 AS stddev_price
         |FROM agg ORDER BY o_orderpriority""".stripMargin,

    // top-k law oracle: fresh window rank over the merged snapshot — a
    // retracted leader left in the stored top-3 value-fails
    "mv_cdc_topk_orders" ->
      s"""WITH $ordersMergedSql,
         |r AS (
         |  SELECT o_orderpriority, o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,4)) AS price,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY CAST(o_totalprice AS DECIMAL(18,4)) DESC,
         |        o_orderkey ASC) AS rnk
         |  FROM m)
         |SELECT o_orderpriority, o_orderkey, CAST(price AS DOUBLE) AS price
         |FROM r WHERE rnk <= 3
         |ORDER BY o_orderpriority, price DESC, o_orderkey""".stripMargin,

    "mv_stream_hourly_revenue" ->
      s"""$admittedEventsSql
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         |    AS bucket,
         |  event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM admitted GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    // top-k law: rank the watermark-admitted union fresh per hour on
    // the DECIMAL per-user sum (ties by user id) — maintained ≡
    // recomputed, k = 3
    "mv_stream_topk_users" ->
      s"""$admittedEventsSql,
         |per AS (
         |  SELECT date_trunc('hour', ts) AS bucket, user_id,
         |    sum(CAST(value AS DECIMAL(18,4))) AS sv, count(*) AS n
         |  FROM admitted GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY bucket
         |    ORDER BY sv DESC, user_id) AS rank FROM per)
         |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
         |  user_id, rank, n, CAST(sv AS DOUBLE) AS sum_value
         |FROM ranked WHERE rank <= 3
         |ORDER BY bucket, rank""".stripMargin,

    // the plain join of the two admitted sets
    "mv_stream_stream_join" ->
      s"""$admittedPairSql
         |SELECT c.user_id, count(*) AS n_pairs,
         |  CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM clicks c JOIN purch p ON c.user_id = p.user_id
         |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // banded-equi law: the same two admission cascades, then the BAND
    // join (|click.ts − purchase.ts| ≤ 4h, inclusive) over ALL admitted
    // rows — the maintained run folds per tick, so equality is the
    // folded ≡ raw proof under ENFORCED-ttl semantics
    "mv_stream_join_ttl" ->
      s"""$admittedPairSql
         |SELECT c.user_id, count(*) AS n_pairs,
         |  CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM clicks c JOIN purch p ON c.user_id = p.user_id
         |  AND p.ts BETWEEN c.ts - INTERVAL 4 HOUR
         |    AND c.ts + INTERVAL 4 HOUR
         |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // grid-quantile law: replay the admission, histogram on the same
    // cells, and take the SAME lower quantile (smallest cell whose
    // cumulative count reaches q·total) — maintained ≡ recomputed,
    // integer-exact at grid resolution
    "mv_stream_grid_quantiles" ->
      s"""$admittedEventsSql,
         |hist AS (SELECT date_trunc('hour', ts) AS bucket,
         |    CAST(floor(value / 10.0) AS BIGINT) AS cell, count(*) AS n
         |  FROM admitted WHERE value IS NOT NULL GROUP BY 1, 2),
         |cum AS (SELECT bucket, cell, n,
         |    sum(n) OVER (PARTITION BY bucket ORDER BY cell) AS cum,
         |    sum(n) OVER (PARTITION BY bucket) AS tot
         |  FROM hist)
         |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
         |  min(cell) FILTER (WHERE cum >= 0.50 * tot) * 10.0 AS p50,
         |  min(cell) FILTER (WHERE cum >= 0.95 * tot) * 10.0 AS p95,
         |  min(cell) FILTER (WHERE cum >= 0.99 * tot) * 10.0 AS p99,
         |  CAST(max(tot) AS BIGINT) AS n
         |FROM cum GROUP BY 1 ORDER BY bucket""".stripMargin,

    "mv_stream_attrib_join" -> attribOracleSql,

    // folded ≡ raw at the oracle gate: the fold variant recomputes to
    // the IDENTICAL answer in DuckDB's from-scratch replay
    "mv_stream_attrib_fold" -> attribOracleSql,

    // join law: watermark-admitted fact union ⋈ POST-update dimension —
    // revenue accumulated under a user's OLD nation that failed to move
    // with the key-moving dim update value-fails
    "mv_stream_join_nation_value" ->
      s"""$admittedEventsSql,
         |dim AS (
         |  SELECT c_custkey AS user_id,
         |    CASE WHEN c_custkey % 13 = 0 THEN (c_nationkey + 7) % 25
         |         ELSE c_nationkey END AS nk
         |  FROM customer),
         |named AS (
         |  SELECT d.user_id, n.n_name FROM dim d
         |  JOIN nation n ON d.nk = n.n_nationkey)
         |SELECT d.n_name, count(*) AS n,
         |  CAST(sum(CAST(a.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM admitted a JOIN named d ON a.user_id = d.user_id
         |GROUP BY d.n_name ORDER BY d.n_name""".stripMargin,

    // min/max law: fresh extremes of the admitted union — a stale or
    // wrongly-merged extreme value-fails
    "mv_stream_hourly_minmax" ->
      s"""$admittedEventsSql
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
         |    AS bucket,
         |  event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
         |  CAST(min(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_value,
         |  CAST(max(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_value
         |FROM admitted GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    // sliding form: same admission replay, each admitted event unnested
    // into its 2 covering 1h/30m windows (the time_sliding_windows
    // convention), aggregated fresh.
    "mv_stream_sliding_value" ->
      s"""$admittedEventsSql,
         |exploded AS (
         |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
         |                 time_bucket(INTERVAL '30 minutes', ts)
         |                   - INTERVAL '30 minutes']) AS w,
         |    value
         |  FROM admitted)
         |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS bucket,
         |  count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         |FROM exploded GROUP BY 1 ORDER BY bucket""".stripMargin,

    // session law: the admitted union sessionized FRESH (30 min gap) —
    // a stale pre-merge session row, a missed merge, or a leaked
    // renumbered row all value-fail
    "mv_stream_session_counts" ->
      s"""$admittedEventsSql,
         |flagged AS (
         |  SELECT user_id, ts,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         |      THEN 1 ELSE 0 END AS new_session
         |  FROM admitted WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |numbered AS (
         |  SELECT *, sum(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS session_seq
         |  FROM flagged)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         |  count(*) AS n_events
         |FROM numbered GROUP BY user_id, session_seq
         |ORDER BY user_id, session_start""".stripMargin,

    // same 3-batch admission replay; then the KMV k-min cut + estimate
    // over the admitted union, the exact hash family of
    // sketch_kmv_distinct — maintained sketch state ≡ fresh recompute
    "mv_stream_kmv_distinct" ->
      s"""$admittedEventsSql,
         |hb AS (SELECT DISTINCT date_trunc('hour', ts) AS bucket,
         |    (('0x' || substring(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
         |  FROM admitted),
         |mins AS (SELECT bucket, count(*) AS n_kept, max(h) AS hk FROM (
         |    SELECT bucket, h,
         |      row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
         |    FROM hb) WHERE rn <= 64 GROUP BY bucket)
         |SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, n_kept, hk,
         |  floor((CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
         |    ELSE 63 * 1152921504606846976.0 / hk END) * 1e6 + 0.5) / 1e6
         |    AS est_kmv
         |FROM mins ORDER BY bucket""".stripMargin
  )
}
