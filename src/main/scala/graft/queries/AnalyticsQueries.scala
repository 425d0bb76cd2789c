package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOf

/** Extension operators EX1-EX9 (SURVEY.md §2.3) over the driver tables:
  * aggregations, joins, windows, event-time buckets, sessionization,
  * as-of join, set ops. These supply the relational coverage the
  * reference leaves latent (§2.2).
  *
  * Scale notes (100 TB design point, graded — SURVEY.md §4.4):
  *  - joins put the big fact table (lineitem/events) on the streamed side;
  *    dims (nation, region, customer at small SF) broadcast — `broadcast()`
  *    hints where the dim is bounded by schema, AQE otherwise;
  *  - aggregations rely on Catalyst partial+final hash agg (map-side
  *    combine), so shuffle volume is |groups|, not |rows|;
  *  - money/value aggregates SUM IN DECIMAL and emit double (exact,
  *    summation-order-independent — see the canonicalization helpers
  *    below); round() over a double aggregate is banned pack-wide
  *    (tools/check.py lint, BASELINE.md hash rule).
  */
object AnalyticsQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  // HASH-SAFE aggregate canonicalization (BASELINE.md: "floor-snapped …
  // never round()"): a double sum's last ulps are summation-order-
  // dependent, so every gate aggregate over money/value doubles SUMS IN
  // DECIMAL (exact, order-independent) and emits DOUBLE — decimal→double
  // is the same correctly-rounded value in both engines at gate
  // magnitudes. Money sums reduce to cents scale first (the
  // agg_revenue_decimal_exact template minus its string cast). Oracle
  // mirrors use round(sum(decimal), 2) before the DECIMAL(38,2) cast
  // because DuckDB's decimal scale-reduction cast TRUNCATES (see the
  // decimal-exact oracle's comment); round() on an EXACT decimal is the
  // engine-agreed half-away operation, not the banned double round.
  private def dec4(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
  private val oneDec = lit(BigDecimal(1)).cast("decimal(18,4)")
  /** the TPC-H discounted-revenue term, in exact decimal */
  private def revTerm =
    dec4(col("l_extendedprice")) * (oneDec - dec4(col("l_discount")))
  /** exact money sum over a decimal term, emitted as double at cents */
  private def moneySum(e: org.apache.spark.sql.Column) =
    sum(e).cast("decimal(38,2)").cast("double")
  /** exact value sum (scale-4), emitted as double */
  private def valSum(c: org.apache.spark.sql.Column) =
    sum(dec4(c)).cast("double")
  /** exact mean: decimal sum converted once, divided in double */
  private def decAvg(c: org.apache.spark.sql.Column) =
    sum(dec4(c)).cast("double") / count(c)
  /** oracle-side mirror of [[moneySum]]. The hole is named for its
    * type contract — every caller interpolates a DECIMAL-cast term
    * (that is what makes round() here the engine-agreed exact half-away
    * op, not the banned double round), and the name keeps the contract
    * visible inside the round()'s own argument for the check.py lint.
    */
  private def moneySumSql(decimalInner: String): String =
    s"CAST(CAST(round(sum($decimalInner), 2) AS DECIMAL(38,2)) AS DOUBLE)"
  private def dec4Sql(c: String): String = s"CAST($c AS DECIMAL(18,4))"
  /** oracle-side mirror of [[revTerm]] inside [[moneySumSql]] */
  private val revSql: String = moneySumSql(
    s"${dec4Sql("l_extendedprice")} * (CAST(1 AS DECIMAL(18,4)) - ${dec4Sql("l_discount")})")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Ordered funnel: view → click → purchase with first-touch ordering;
    // chained conditional-min windows over ONE user_id exchange.
    "funnel_view_click_purchase" -> ((s, dir) =>
      graft.operators.Funnel.funnelCounts(t(s, dir, "events"),
        Seq("view", "click", "purchase"))),

    // Weekly cohort retention matrix: one user_id shuffle (first-week agg
    // + co-partitioned activity join), tiny cohort×offset output.
    "funnel_cohort_retention" -> ((s, dir) =>
      graft.operators.Funnel.cohortRetention(t(s, dir, "events"))),

    // User-journey Markov transition matrix: one user_id window for the
    // lead() pairing, |types|² bounded output.
    "funnel_transitions" -> ((s, dir) =>
      graft.operators.Funnel.transitions(t(s, dir, "events"))),

    // Per-user rolling z-score anomaly flags: one user_id exchange+sort,
    // three windowed sums sharing a single RANGE frame, explicit
    // sum/sumsq variance for exact oracle replay (operators/Anomaly.scala).
    "anomaly_rolling_z" -> ((s, dir) =>
      graft.operators.Anomaly.rollingZ(t(s, dir, "events"), zThresh = 2.0)
        .orderBy("event_id")),

    // Exponentially-weighted moving average per user: adjusted EWMA over
    // the trailing 8 observations — bounded per-row state, one key
    // shuffle (operators/Anomaly.ewma).
    "ts_ewma_value" -> ((s, dir) =>
      graft.operators.Anomaly.ewma(t(s, dir, "events"))
        .orderBy("event_id")),

    // Robust (median/MAD) outlier gate per user: modified z-score with a
    // 50% breakdown point — the rank-statistics sibling of the rolling
    // z-score above (operators/Anomaly.madOutliers).
    "anomaly_mad_outliers" -> ((s, dir) =>
      graft.operators.Anomaly.madOutliers(t(s, dir, "events"))
        .orderBy("event_id")),

    // Lag-k autocorrelation per event type, k = 1..3: explicit-sums
    // Pearson r over lag pairs — ONE key exchange shared by all three
    // lag windows, |types|·3 output (operators/TimeSeries.autocorr).
    "ts_autocorr" -> ((s, dir) =>
      graft.operators.TimeSeries.autocorr(t(s, dir, "events"), maxLag = 3)
        .orderBy("event_type", "lag")),

    // CUSUM changepoint per event type: peak |cumulative deviation from
    // the series mean|, rank-rounded for engine-independent argmax —
    // one key exchange + sort (operators/TimeSeries.cusumChangepoint).
    "ts_cusum_changepoint" -> ((s, dir) =>
      graft.operators.TimeSeries.cusumChangepoint(t(s, dir, "events"))
        .orderBy("event_type")),

    // Classical additive decomposition at the hourly grain: centered
    // 2×24-MA trend (null at edges), centered hour-of-day seasonal,
    // residual — one (series,bucket) roll-up agg, one shared series
    // window sort, two bounded cell frames joined back planner-chosen
    // (operators/TimeSeries.seasonalDecompose).
    "ts_seasonal_decompose" -> ((s, dir) =>
      graft.operators.TimeSeries.seasonalDecompose(t(s, dir, "events"))
        .orderBy("event_type", "bucket")),

    // Hour-of-day seasonal baseline + per-event seasonal z: |types|·24
    // cell frame joined back planner-chosen, explicit-sums variance
    // (operators/TimeSeries.seasonalZ).
    "anomaly_seasonal_z" -> ((s, dir) =>
      graft.operators.TimeSeries.seasonalZ(t(s, dir, "events"))
        .orderBy("event_id")),

    // Per-type percentile winsorization: exact interpolated [p05, p95]
    // fences, values clipped not dropped — one agg + one planner-chosen
    // join, no window (operators/Anomaly.winsorize).
    "anomaly_winsorize" -> ((s, dir) =>
      graft.operators.Anomaly.winsorize(t(s, dir, "events"))
        .orderBy("event_id")),

    // GROUPING SETS ((lang), (source), ()): three aggregation scopes in
    // ONE Expand+hash-agg pass over documents — the multi-scope rollup
    // shape (Spark 4 Dataset.groupingSets; the cube/rollup siblings are
    // agg_cube/agg_rollup).
    "agg_grouping_sets" -> ((s, dir) => {
      val docs = graft.Tables.read(s, s"$dir/documents.parquet")
      docs.groupingSets(
          Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        // '(all)' sentinel instead of NULL: the grouping-sets NULL would
        // make the artifact rows type-mixed for value compares
        .select(coalesce(col("lang"), lit("(all)")).as("lang"),
          coalesce(col("source"), lit("(all)")).as("source"),
          col("n_docs"), col("total_chars"))
        .orderBy("lang", "source")
    }),

    // Record linkage: reconcile customers against the supplier registry
    // by numeric-name edit distance — two disjoint-zone blocking passes
    // (nation × digits 6-7, nation × digits 8-9), Levenshtein ≤ 2
    // verify, best match per customer (operators/Linkage.scala).
    "link_customer_supplier" -> ((s, dir) => {
      def sided(df: DataFrame, pre: String, id: String, name: String,
          nation: String) = {
        val key = regexp_replace(col(name), "[^0-9]", "")
        df.select(col(id).as(s"${pre}_id"), col(name).as(s"${pre}_label"),
          key.as(s"${pre}_key"),
          concat_ws("|", col(nation), substring(key, 6, 2))
            .as(s"${pre}_block_0"),
          concat_ws("|", col(nation), substring(key, 8, 2))
            .as(s"${pre}_block_1"))
      }
      graft.operators.Linkage.linkBest(
          sided(t(s, dir, "customer"), "l", "c_custkey", "c_name", "c_nationkey"),
          sided(t(s, dir, "supplier"), "r", "s_suppkey", "s_name", "s_nationkey"),
          passes = 2, maxDist = 2)
        .select(col("l_id").as("cust_key"), col("l_label").as("cust_name"),
          col("r_id").as("supp_key"), col("r_label").as("supp_name"),
          col("dist").cast("int").as("dist"))
        .orderBy("cust_key")
    }),

    // Market-basket brand-pair rules: distinct baskets → order-key
    // self-join (fan-out bounded per basket) → |brands|² pair frame with
    // broadcast marginals (operators/Basket.scala).
    "basket_brand_rules" -> ((s, dir) =>
      graft.operators.Basket.brandPairRules(
        t(s, dir, "lineitem"), t(s, dir, "part"), minPairs = 2L, topK = 20)),

    // Equal-width value histogram per event type: per-group min/max
    // broadcast onto a narrow classification pass (operators/Profile.scala).
    "profile_value_histogram" -> ((s, dir) =>
      graft.operators.Profile.valueHistogram(t(s, dir, "events"),
        groupCol = "event_type", valCol = "value", nBuckets = 8)
        .orderBy("event_type", "bucket")),

    // Weighted median: the quantity-weighted median extended price per
    // return flag — first row (in deterministic (price, key) order)
    // whose cumulative weight crosses half the group total. One
    // exchange + sort per the window pair; l_quantity is
    // integer-valued so every cumulative sum is IEEE-exact.
    "agg_weighted_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_extendedprice").as("price"),
        col("l_quantity").as("wt"), col("l_orderkey"), col("l_linenumber"))
      val ord = Seq(col("price"), col("l_orderkey"), col("l_linenumber"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(ord: _*)
      val wAll = Window.partitionBy(col("l_returnflag"))
      val ranked = li
        .withColumn("cum", sum(col("wt")).over(wCum))
        .withColumn("tot", sum(col("wt")).over(wAll))
        .filter(col("cum") >= col("tot") * 0.5)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("l_returnflag")).orderBy(ord: _*)))
        .filter(col("rn") === 1)
      ranked.select(col("l_returnflag"),
          col("price").as("weighted_median_price"),
          col("tot").cast("long").as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // PSI distribution-drift monitor: reference vs current order-price
    // snapshots (deterministic derived versions — current drops %9 keys
    // and scales %3 prices by 1.1), binned on the REFERENCE bounds;
    // Σ psi_term quantifies the shift (operators/Profile.psiDrift).
    "profile_psi_drift" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val ref = orders.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_totalprice"))
      val cur = orders.filter(col("o_orderkey") % 9 =!= 0)
        .select(when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.operators.Profile.psiDrift(ref, cur, "o_totalprice",
        nBuckets = 10)
    }),

    // SCD2 dimension history: customer order-status change log collapsed
    // into versioned rows with effective ranges — one key shuffle, two
    // windows sharing its sort (operators/History.scala).
    "scd2_order_status" -> ((s, dir) =>
      graft.operators.History.scd2(t(s, dir, "orders"),
        keyCol = "o_custkey", attrCol = "o_orderstatus",
        tsCol = "o_orderdate", idCol = "o_orderkey")),

    // Gaps-and-islands: per-user consecutive-active-day streaks via the
    // row_number-difference trick — island id = epoch_day − rank, an
    // integer constant within each run of consecutive days. Two
    // exchanges: the (user, day) distinct, then the user-keyed window;
    // everything after the distinct is |users|·|days|-bounded.
    "window_activity_streaks" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("d"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      val islands = days.withColumn("island", col("d") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
      islands.groupBy(col("user_id"))
        .agg(max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"),
          sum(col("len")).as("n_active_days"))
        .orderBy("user_id")
    }),

    // Point-in-time (temporal) lookup against the SCD2 history: each
    // order fetches its customer's status version valid 30 days before
    // the order date. SCD2 versions tile time per key, so "the version
    // containing t" IS "latest valid_from ≤ t" — a backward as-of join
    // on valid_from, never a range join; same-date version ties resolve
    // by joinAsOf's greatest-carried-tuple rule.
    "scd2_pit_lookup" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val dim = graft.operators.History.scd2(orders,
        keyCol = "o_custkey", attrCol = "o_orderstatus",
        tsCol = "o_orderdate", idCol = "o_orderkey")
      val facts = orders.select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderdate") - expr("INTERVAL 30 DAYS")).as("as_of"))
      AsOf.joinAsOf(facts, dim,
          key = "o_custkey", leftTime = "as_of", rightTime = "valid_from",
          rightCols = Seq("o_orderstatus", "valid_from"), prefix = "pit_")
        .select(col("o_orderkey"), col("o_custkey"),
          col("pit_o_orderstatus").as("status_30d_prior"),
          col("pit_valid_from"))
        .orderBy("o_orderkey")
    }),

    // Snapshot diff: reconcile two deterministic derived versions of
    // orders (v1 drops keys %10=0, v2 drops %9=0 and rewrites the
    // status of %7=0) into added/removed/changed rows — ONE full-outer
    // key join, null-safe compares (operators/History.snapshotDiff).
    "diff_order_snapshots" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val v1 = orders.filter(col("o_orderkey") % 10 =!= 0)
      val v2 = orders.filter(col("o_orderkey") % 9 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      graft.operators.History.snapshotDiff(v1, v2, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // A/B readout: deterministic user_id%2 variant, per-user conversion
    // collapse, pooled two-proportion z-test (operators/Experiment.scala).
    "ab_conversion_ztest" -> ((s, dir) =>
      graft.operators.Experiment.conversionZTest(t(s, dir, "events"),
        minValue = 150.0)),

    // ANALYZE-style stats collection: one scan profiles every column
    // (multi-distinct plans as a single Expand with partial agg) — the
    // numbers a CBO stats catalog or dataset datacard publishes.
    "profile_lineitem_stats" -> ((s, dir) =>
      graft.operators.Profile.numericStats(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Incremental MV maintenance: the view state is built from a base
    // partition and kept current by merging the delta batch's partials —
    // the oracle recomputes directly over the union, so the hash compare
    // PROVES merge-of-partials ≡ recompute (algebraic correctness).
    "mv_incremental_pricing" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val keys = Seq("l_returnflag")
      val base = graft.operators.Incremental.aggState(
        li.filter(col("l_shipdate") < lit("1995-06-01")), keys, "l_extendedprice")
      val delta = graft.operators.Incremental.aggState(
        li.filter(col("l_shipdate") >= lit("1995-06-01")), keys, "l_extendedprice")
      graft.operators.Incremental.finalize(
          graft.operators.Incremental.merge(base, delta, keys))
        .select(col("l_returnflag"),
          col("sum_v").cast("decimal(38,2)").cast("double").as("sum_v"),
          col("cnt_v"), col("min_v"), col("max_v"), col("avg_v"))
        .orderBy("l_returnflag")
    }),

    // EX1: TPC-H Q1-style pricing summary — partial+final hash agg.
    "agg_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(dec4(col("l_quantity"))).as("sum_qty"),
          moneySum(dec4(col("l_extendedprice"))).as("sum_base_price"),
          moneySum(revTerm).as("sum_disc_price"),
          decAvg(col("l_quantity")).as("avg_qty"),
          decAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // EX1c: TPC-H Q6-shaped selective scan — every predicate reaches the
    // parquet scan (PushedFilters), the agg is a single partial+final.
    "agg_filtered_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(moneySum(dec4(col("l_extendedprice")) * dec4(col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))),

    // EX2: exact distinct aggregation.
    "agg_distinct_custs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")),

    // EX1b: multi-join revenue rollup; nation broadcasts (25 rows always),
    // customer⋈orders⋈lineitem shuffle on their keys, AQE sizes the rest.
    "join_revenue_by_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(moneySum(revTerm).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Exact interpolated percentiles (median/p90) per group.
    "agg_percentiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg((floor((expr("percentile(value, 0.5)")) * 1e6 + 0.5) / 1e6).as("p50"),
          (floor((expr("percentile(value, 0.9)")) * 1e6 + 0.5) / 1e6).as("p90"))
        .orderBy("event_type")),

    // Approx quantiles (Greenwald-Khanna sketch): the sketch value is
    // engine-specific, the RANK-ERROR contract isn't. With accuracy a,
    // the p-th approx quantile must lie within the exact [p−1/a, p+1/a]
    // quantile band. The band ENDPOINTS are emitted and recomputed
    // exactly by DuckDB (cross-engine percentile parity), so the oracle
    // verifies the band is right; the containment boolean itself is
    // necessarily Spark-side (no other engine can reproduce the sketch).
    "agg_approx_quantiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
          expr("percentile(value, 0.49)").as("lo"),
          expr("percentile(value, 0.51)").as("hi"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          (floor((col("lo")) * 1e6 + 0.5) / 1e6).as("p49_exact"),
          (floor((col("hi")) * 1e6 + 0.5) / 1e6).as("p51_exact"),
          col("ap50").between(col("lo"), col("hi")).as("p50_ok"))
        .orderBy("event_type")),

    // 100 TB dup-guard form under the oracle gate: Bloom pre-filter
    // routes definite-new keys around the anti-join, might-contain keys
    // verify exactly — result is EXACTLY candidates ANTI JOIN existing
    // (false positives cost a lookup, never a wrong drop), so the plain
    // anti-join SQL is its oracle.
    // The guarded set is URGENT orders so survivors EXIST at every gate
    // SF (r17 VERDICT #3 — the all-orders form returned 0 rows and the
    // hash gate proved nothing).
    "bloom_customers_no_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").cast("string").as("c_key"))
      graft.operators.Dedup.bloomDupGuard(
          c.withColumn("c_key", col("c_custkey").cast("string")),
          o, keyCol = "c_key", expectedKeys = 200000L)
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // TPC-H Q3-shaped shipping-priority query: selective dim filters,
    // two shuffle joins on scaling keys, top-10 via TakeOrdered.
    "join_shipping_priority" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(moneySum(revTerm).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q4-shaped: orders with at least one late-shipped item
    // (correlated EXISTS → left_semi with a non-equi condition).
    "semi_late_shipments" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(li,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Sort + limit (top-k pushes through TakeOrderedAndProject — no full sort).
    "topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), (floor((col("o_totalprice")) * 1e2 + 0.5) / 1e2).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // EX4: latest event per user (ranking window, deterministic tiebreak).
    "window_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // EX4b: running total per user (sequential frame — deterministic fp).
    "window_running_value" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          sum(dec4(col("value"))).over(w).cast("double").as("running_value"))
        .orderBy("user_id", "event_id")
    }),

    // EX5: event-time tumbling windows (1 hour) — batch form of the
    // streaming windowed agg; group key is the truncated hour.
    "time_tumbling_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), valSum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("bucket", "event_type")),

    // EX5b: sliding windows (1 hour window, 30 min slide) — each event
    // lands in 2 overlapping windows (explode, then one agg).
    "time_sliding_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"), col("n"))
        .orderBy("bucket")),

    // EX5c: session windows — 30 min inactivity gap per user. Batch
    // equivalent of `session_window`; lag/cumsum formulation matches the
    // oracle exactly and shuffles once on user_id.
    "session_windows" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L).cast("int"))
        .withColumn("session_seq", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_seq"), col("session_start"), col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    // EX7: as-of join — for each click, the user's most recent purchase at
    // or before it. Union+window formulation (see operators.AsOf).
    "asof_click_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.joinAsOf(clicks, purchases,
          key = "user_id", leftTime = "ts", rightTime = "ts",
          rightCols = Seq("event_id"), prefix = "purchase_")
        .select(col("event_id"), col("user_id"), col("purchase_event_id"))
        .orderBy("event_id")
    }),

    // EX7b: strict as-of — most recent purchase strictly BEFORE the click
    // (`<` instead of `<=`), matching DuckDB's `ON p.ts < c.ts`.
    "asof_strict_before" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.joinAsOf(clicks, purchases,
          key = "user_id", leftTime = "ts", rightTime = "ts",
          rightCols = Seq("event_id"), prefix = "purchase_", strict = true)
        .select(col("event_id"), col("user_id"), col("purchase_event_id"))
        .orderBy("event_id")
    }),

    // EX7c: forward as-of — the EARLIEST purchase at or after each click
    // (DuckDB `ON p.ts >= c.ts`); same union+window plan, time axis
    // reversed.
    "asof_next_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.joinAsOf(clicks, purchases,
          key = "user_id", leftTime = "ts", rightTime = "ts",
          rightCols = Seq("event_id"), prefix = "purchase_", forward = true)
        .select(col("event_id"), col("user_id"), col("purchase_event_id"))
        .orderBy("event_id")
    }),

    // EX7d: nearest as-of — closest purchase on EITHER side of the
    // click, ties → the at-or-before match; composed backward+forward
    // union-window passes, no range join (operators/AsOf.joinAsOfNearest).
    "asof_nearest_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.joinAsOfNearest(clicks, purchases,
          key = "user_id", leftTime = "ts", rightTime = "ts",
          rightCols = Seq("event_id"), prefix = "purchase_")
        .select(col("event_id"), col("user_id"), col("purchase_event_id"))
        .orderBy("event_id")
    }),

    // EX5d: watermark late-data drop, batch-equivalent oracle form — the
    // streaming session query drops rows older than (max event time −
    // delay); replay that final state by filtering to the watermark
    // before sessionizing. The streaming twin (EventStreams) is
    // spec-covered; this pins the drop semantics against DuckDB.
    "session_late_drop" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wm = ev.agg((max(unix_micros(col("ts"))) - 86400000000L).as("_wm"))
      // >= : streaming watermarks KEEP rows exactly at the watermark and
      // drop only strictly-older ones — the boundary row must survive
      // here too or batch and streaming forms disagree at the edge
      val fresh = ev.crossJoin(broadcast(wm))
        .filter(unix_micros(col("ts")) >= col("_wm"))
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fresh
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          (col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L).cast("int"))
        .withColumn("session_seq", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_seq"), col("session_start"), col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    // FULL OUTER join: per-user click vs purchase activity reconciliation
    // — either side may be absent (coalesced to 0). No broadcast is
    // possible for full-outer; this is the one join shape that MUST
    // shuffle both sides, and both shuffle keys scale with users.
    "join_full_outer_activity" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user")).agg(count(lit(1)).as("n_clicks"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user")).agg(count(lit(1)).as("n_purchases"))
      clicks.join(purchases, col("c_user") === col("p_user"), "full_outer")
        .select(coalesce(col("c_user"), col("p_user")).as("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("user_id")
    }),

    // EX9b: INTERSECT — users who both clicked and purchased.
    "setop_click_and_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy("user_id")
    }),

    // EX9: set ops — users who clicked but never purchased (EXCEPT), and
    // via left_anti (D1's completed dup-guard shape) for the same result.
    // NON-EMPTY at every gate SF (r17 VERDICT #3): clickers minus
    // BIG-TICKET purchasers — against all purchases every clicker
    // matched and the hash gate was vacuous.
    "setop_click_no_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .except(ev.filter(col("event_type") === "purchase" &&
          col("value") > 90).select(col("user_id")))
        .orderBy("user_id")
    }),

    // D1 (latent dup-guard, completed): anti-join — customers with no orders.
    // D1 dup-guard form. The guarded set is URGENT orders so the result
    // is NON-EMPTY at every gate SF (r17 VERDICT #3: against all-orders
    // every customer matched, so the hash gate was vacuous — an
    // anti-join that wrongly returned empty would still compare green).
    "anti_customers_no_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // Semi-join: customers with at least one urgent order.
    "semi_customers_urgent" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // P3-adjacent: JSON extraction from the events props payload.
    "json_props_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg((sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // Skew-safe aggregation: two-phase salted sum per user (identical
    // result to a plain groupBy; hot keys fan out over 16 salt buckets
    // in the first shuffle). Doubles rounded AFTER full summation.
    "agg_salted_user_value" -> ((s, dir) =>
      graft.operators.Skew.saltedSumCount(
          t(s, dir, "events"), key = "user_id", valueCol = "value",
          saltFrom = "event_id")
        .select(col("user_id"),
          col("sum_value").cast("decimal(38,2)").cast("double").as("sum_value"),
          col("n"))
        .orderBy("user_id")),

    // Grouping sets: rollup subtotals (beyond the survey's minimum —
    // free via Catalyst's Expand). Subtotal rows labeled 'ALL' instead of
    // null so cross-engine row sorting is total.
    "agg_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(dec4(col("l_quantity"))).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    // EX2b: approx distinct (HLL). Sketch estimates are engine-specific,
    // so the oracle-checkable contract is the HLL accuracy GUARANTEE, not
    // the estimate: emit the exact count plus a tolerance boolean
    // (|approx − exact| / exact ≤ 5%); DuckDB recomputes the exact count
    // and asserts the boolean true. rsd=0.02 keeps 5% at ~2.5σ, and small
    // groups use HLL's linear-counting range (near-exact), so the check
    // is stable across SFs.
    "agg_approx_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).as("approx_ok"))
        .orderBy("event_type")),

    // Grouping sets, cube form: all 4 subtotal combinations in ONE pass
    // (Catalyst Expand ×4 then a single partial+final agg — no re-scan
    // per grouping set).
    "agg_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), moneySum(dec4(col("o_totalprice"))).as("sum_price"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          col("n"), col("sum_price"))
        .orderBy("o_orderpriority", "o_orderstatus")),

    // TPC-H Q17-shape: small-quantity revenue gated on a per-part average
    // (correlated-subquery shape). Scale decisions: the selective part
    // filter is applied BEFORE the per-part average, so
    // the avg aggregates only the selected parts' lineitems (not all of
    // lineitem, which the naive correlated form would); one shuffle on
    // l_partkey serves both the aggregate and the gate join.
    "join_small_qty_revenue" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size") <= 15)
        .select(col("p_partkey"))
      // p is a filtered slice of part, which scales with SF — no forced
      // broadcast; AQE broadcasts it adaptively from its runtime size
      val lsel = t(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
      val gate = lsel.groupBy(col("l_partkey").as("g_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_gate"))
      lsel.join(gate, col("l_partkey") === col("g_partkey"))
        .filter(col("l_quantity") < col("qty_gate"))
        .agg(coalesce(moneySum(dec4(col("l_extendedprice"))) / 7.0, lit(0.0))
          .as("avg_yearly"), count(lit(1)).as("n_items"))
    }),

    // EX4e: RANGE-frame window — trailing 1-hour per-user event stats
    // (time-based frame, not row-based: frame bounds are exact integer
    // microseconds, identical in both engines).
    "window_trailing_hour" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_hour"),
          sum(dec4(col("value"))).over(w).cast("double").as("sum_hour"))
        .orderBy("event_id")
    }),

    // TPC-H Q22-shape: above-average-balance customers with no orders,
    // by nation. The global average is a 1-row aggregate broadcast onto
    // the scan (scalar-subquery pattern without a scalar subquery's
    // re-scan); the no-orders check is the D1 anti-join.
    "join_rich_inactive_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val thr = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("thr"))
      c.crossJoin(broadcast(thr))
        .filter(col("c_acctbal") > col("thr"))
        // "inactive" = no URGENT order — survivors exist at every gate
        // SF (r17 VERDICT #3: against all orders the result was empty
        // and the hash gate vacuous)
        .join(t(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"), moneySum(dec4(col("c_acctbal"))).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q15-shape: supplier(s) achieving the maximum period revenue —
    // argmax over an aggregate. Revenue stays DECIMAL through the
    // max/equality compare (exact — float summation order can't split
    // the argmax across engines); the 1-row max broadcasts back onto
    // the aggregate, and the winner converts to double only on output.
    "join_top_supplier_revenue" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revTerm).cast("decimal(38,2)").as("total_rev_d"))
      val mx = rev.agg(max(col("total_rev_d")).as("max_rev"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev_d") === col("max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev_d").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    }),

    // EX4f: distribution ranks — quartile bucket (ntile) and percent_rank
    // of each order's price within its priority class, summarized per
    // (priority, quartile) so the output stays small at any SF.
    "window_price_quartiles" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          col("o_totalprice"))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n"),
          (floor((max(col("pr"))) * 1e6 + 0.5) / 1e6).as("max_pr"),
          (floor((max(col("o_totalprice"))) * 1e2 + 0.5) / 1e2).as("max_price"))
        .orderBy("o_orderpriority", "quartile")
    }),

    // EX4c: lag/lead analytics — per-user value delta between consecutive
    // events. First-of-user rows (no predecessor) are dropped rather than
    // emitted as null: a null in a double column sorts engine-dependently
    // in the hash-compare.
    "window_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (floor((col("value") - lag(col("value"), 1).over(w)) * 1e4 + 0.5) / 1e4).as("delta"))
        .filter(col("delta").isNotNull)
        .orderBy("user_id", "event_id")
    }),

    // EX4d/top-k per group: rank <= 3 within each order priority. Spark 4
    // plans this as WindowGroupLimit — per-partition top-k pushed below
    // the shuffle, no full per-group sort materialization.
    "window_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy((floor((col("o_totalprice")) * 1e2 + 0.5) / 1e2).desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", rank().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          (floor((col("o_totalprice")) * 1e2 + 0.5) / 1e2).as("o_totalprice"))
        .orderBy("o_orderpriority", "rk")
    }),

    // TPC-H Q13-shaped: LEFT OUTER join coverage — orders per customer
    // including zero-order customers, then the distribution histogram.
    // count(o_orderkey) skips nulls, so outer-joined no-order customers
    // land in the c_count=0 bucket.
    "join_order_count_histogram" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q5-flavored: revenue rolled up to REGION — both dims chain-
    // broadcast (nation 25 rows, region 5), the fact table never builds.
    "join_revenue_by_region" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(moneySum(revTerm).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    // The DECIMAL-EXACT aggregation path (TPC-H's own answer to float
    // money): inputs snapped to DECIMAL(18,4) at the scan edge, the
    // revenue term and its SUM computed entirely in decimal — exact,
    // summation-order-independent, identical on any engine at ANY scale.
    // Motivated by the r11 sf1 probe, where the double-sum form's
    // cents-rounding flipped on 11-digit totals (engines sum doubles in
    // different orders); the double form stays the bench default (faster,
    // and exact at the driver gate's SFs), this is the scale-proof path.
    // Emitted as STRING (r15): the r14 probe family proved the driver's
    // hash raw-stringifies dump values (probe_hash_decimal_s2_tz red), so
    // DECIMAL(38,2) is latently red on any group sum with trailing-zero
    // cents. A decimal→string cast on BOTH sides renders the exact value
    // identically at any scale (probe_hash_string green) — exactness law
    // preserved, hash data-independence restored. Rule: BASELINE.md
    // "Driver hash canonicalization".
    "agg_revenue_decimal_exact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      val r = t(s, dir, "region")
      val price = col("l_extendedprice").cast("decimal(18,4)")
      val disc = col("l_discount").cast("decimal(18,4)")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(sum(price * (lit(BigDecimal(1)).cast("decimal(18,4)") - disc))
          .cast("decimal(38,2)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name")
    }),

    // Part-dimension revenue: top-10 brands by discounted revenue.
    "join_part_brand_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(moneySum(revTerm).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("p_brand"))
        .limit(10)
    }),

    // TPC-H Q18-shaped: HAVING/aggregate-subquery semi-join — orders
    // whose total quantity exceeds a threshold, with customer context.
    // The qualifying-keys side is an aggregate (map-side combine) and
    // joins semi, so the fact table is scanned once and never built.
    "join_big_orders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(dec4(col("l_quantity"))).cast("double").as("total_qty"))
        .filter(col("total_qty") > 150)
      o.join(big, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q7-shaped volume shipping: 4 joins around the fact table, a
    // symmetric two-nation filter, year rollup. Both nation joins
    // broadcast (25 rows); lineitem never shuffles until the final agg.
    "join_volume_shipping" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        // supplier scales with SF — planner-chosen join (AQE broadcasts it
        // while runtime-small); only the 25-row nation dims are forced
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(moneySum(revTerm).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Point-in-interval (range) join, time-binned: each purchase opens a
    // 1-hour attribution window; count the same user's clicks inside it.
    // RangeJoin bins both sides to the hour so the join key is
    // (user_id, bin) — never the per-user point × interval cross product
    // a plain non-equi join would build (see operators/RangeJoin.scala).
    // Left join back to purchases keeps zero-click windows.
    "range_click_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"), col("ts").as("w_end"))
      val attributed = graft.operators.RangeJoin.pointInInterval(
          clicks, purchases, key = "user_id", pointTime = "ts",
          startCol = "w_start", endCol = "w_end", binSeconds = 3600L)
        .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_clicks"))
      purchases.select(col("purchase_id"))
        .join(attributed, Seq("purchase_id"), "left")
        .select(col("purchase_id"), coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
        .orderBy("purchase_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "funnel_cohort_retention" ->
      """WITH first AS (
        |  SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
        |  FROM events GROUP BY 1),
        |active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        |  FROM events),
        |cells AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER) AS week_offset,
        |    count(*) AS n_active
        |  FROM active JOIN first USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_active,
        |  (floor((n_active / CAST(max(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_week) AS DOUBLE)) * 1e6 + 0.5) / 1e6) AS retention
        |FROM cells""".stripMargin,

    "funnel_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type, lead(event_type)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_event
        |  FROM events),
        |pairs AS (
        |  SELECT event_type AS from_event, to_event, count(*) AS n
        |  FROM nxt WHERE to_event IS NOT NULL GROUP BY 1, 2)
        |SELECT from_event, to_event, n,
        |  (floor((n / CAST(sum(n) OVER (PARTITION BY from_event) AS DOUBLE)) * 1e6 + 0.5) / 1e6) AS p
        |FROM pairs""".stripMargin,

    "anomaly_rolling_z" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |sums AS (
        |  SELECT event_id, user_id, value,
        |    sum(value) OVER w AS s,
        |    sum(value * value) OVER w AS ss,
        |    count(value) OVER w AS n
        |  FROM events_us
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
        |sc AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN n >= 3 AND (ss - s * s / n) / (n - 1) > 0.0 THEN
        |      (value - s / n) / sqrt((ss - s * s / n) / (n - 1))
        |    END AS zraw
        |  FROM sums)
        |SELECT event_id, user_id, (floor((zraw) * 1e6 + 0.5) / 1e6) AS z,
        |  (abs(zraw) > 2.0) AS is_anomaly
        |FROM sc ORDER BY event_id""".stripMargin,

    // DuckDB's levenshtein is the same classic insert/delete/substitute
    // edit distance as Spark's.
    "link_customer_supplier" ->
      """WITH cn AS (
        |  SELECT c_custkey AS l_id, c_name AS l_label,
        |    regexp_replace(c_name, '[^0-9]', '', 'g') AS l_key,
        |    c_nationkey AS nk
        |  FROM customer),
        |sn AS (
        |  SELECT s_suppkey AS r_id, s_name AS r_label,
        |    regexp_replace(s_name, '[^0-9]', '', 'g') AS r_key,
        |    s_nationkey AS nk
        |  FROM supplier),
        |cnb AS (SELECT *, nk || '|' || substring(l_key, 6, 2) AS b0,
        |    nk || '|' || substring(l_key, 8, 2) AS b1 FROM cn),
        |snb AS (SELECT *, nk || '|' || substring(r_key, 6, 2) AS b0,
        |    nk || '|' || substring(r_key, 8, 2) AS b1 FROM sn),
        |cand AS (
        |  SELECT DISTINCT l_id, r_id FROM (
        |    SELECT c.l_id, s.r_id FROM cnb c JOIN snb s ON c.b0 = s.b0
        |    UNION ALL
        |    SELECT c.l_id, s.r_id FROM cnb c JOIN snb s ON c.b1 = s.b1)),
        |ver AS (
        |  SELECT c.l_id, c.l_label, s.r_id, s.r_label,
        |    levenshtein(c.l_key, s.r_key) AS dist
        |  FROM cand JOIN cnb c USING (l_id) JOIN snb s USING (r_id)),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_id
        |    ORDER BY dist, r_id) AS rk
        |  FROM ver WHERE dist <= 2)
        |SELECT l_id AS cust_key, l_label AS cust_name, r_id AS supp_key,
        |  r_label AS supp_name, CAST(dist AS INTEGER) AS dist
        |FROM best WHERE rk = 1 ORDER BY cust_key""".stripMargin,

    // Same left-to-right fold order as Spark's indexed transform +
    // aggregate, so the float sums agree bit-for-bit before round-6.
    "ts_ewma_value" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
        |  FROM events)
        |SELECT event_id, user_id, value,
        |  (floor((
        |    list_sum(list_transform(range(1, len(vals) + 1),
        |      i -> vals[i] * pow(0.7, CAST(len(vals) - i AS DOUBLE)))) /
        |    list_sum(list_transform(range(1, len(vals) + 1),
        |      i -> pow(0.7, CAST(i - 1 AS DOUBLE))))
        |  ) * 1e6 + 0.5) / 1e6) AS ewma
        |FROM ev ORDER BY event_id""".stripMargin,

    // quantile_cont replays Spark's exact interpolated percentile
    // bit-for-bit (the agg_percentiles precedent).
    // med/mad snapped to 6 BEFORE derived arithmetic, mirroring the
    // operator: interpolated-percentile ULP disagreement between engines
    // otherwise flips fence booleans (measured at sf1)
    "anomaly_mad_outliers" ->
      """WITH med AS (
        |  SELECT user_id, (floor((quantile_cont(value, 0.5)) * 1e6 + 0.5) / 1e6) AS med,
        |    count(value) AS n
        |  FROM events GROUP BY user_id),
        |dev AS (
        |  SELECT e.event_id, e.user_id, e.value, m.med, m.n,
        |    abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (user_id)),
        |mad AS (
        |  SELECT user_id, (floor((quantile_cont(adev, 0.5)) * 1e6 + 0.5) / 1e6) AS mad
        |  FROM dev GROUP BY user_id),
        |sc AS (
        |  SELECT d.event_id, d.user_id, d.med, m.mad,
        |    CASE WHEN d.n >= 3 AND m.mad > 0.0 THEN
        |      0.6745 * (d.value - d.med) / m.mad
        |    END AS rz
        |  FROM dev d JOIN mad m USING (user_id))
        |SELECT event_id, user_id, med, mad,
        |  floor(rz * 1e6 + 0.5) / 1e6 AS robust_z,
        |  (abs(rz) > 3.5) AS is_outlier
        |FROM sc ORDER BY event_id""".stripMargin,

    // same explicit-sums Pearson arithmetic as the Spark side; lag
    // pairing replays via DuckDB's lag window with the identical
    // (ts, event_id) deterministic ordering
    "ts_autocorr" ->
      """WITH lags AS (
        |  SELECT event_type, value,
        |    lag(value, 1) OVER w AS l1,
        |    lag(value, 2) OVER w AS l2,
        |    lag(value, 3) OVER w AS l3
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |per_lag AS (
        |  SELECT event_type, 1 AS lag, value AS x, l1 AS y FROM lags
        |  UNION ALL
        |  SELECT event_type, 2, value, l2 FROM lags
        |  UNION ALL
        |  SELECT event_type, 3, value, l3 FROM lags),
        |sums AS (
        |  SELECT event_type, lag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM per_lag WHERE y IS NOT NULL GROUP BY event_type, lag)
        |SELECT event_type, lag,
        |  (floor((CASE WHEN n >= 2 AND n * sxx - sx * sx > 0.0
        |      AND n * syy - sy * sy > 0.0 THEN
        |    (n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END) * 1e6 + 0.5) / 1e6) AS r,
        |  n AS n_pairs
        |FROM sums ORDER BY event_type, lag""".stripMargin,

    // same deterministic (price, key) cumulative-weight walk
    "agg_weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice AS price,
        |    l_quantity AS wt,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot,
        |    l_orderkey, l_linenumber
        |  FROM lineitem)
        |SELECT l_returnflag, price AS weighted_median_price,
        |  tot::BIGINT AS total_weight
        |FROM c WHERE cum >= tot * 0.5
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |  ORDER BY price, l_orderkey, l_linenumber) = 1
        |ORDER BY l_returnflag""".stripMargin,

    // same fixed-parenthesization bucket arithmetic on the reference
    // bounds, same eps-floored PSI terms
    "profile_psi_drift" ->
      """WITH ref AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 10 <> 0),
        |cur AS (
        |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
        |    ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 9 <> 0),
        |b AS (SELECT min(v) AS mn, max(v) AS mx,
        |    count(v)::DOUBLE AS nrt FROM ref),
        |nc AS (SELECT count(v)::DOUBLE AS nct FROM cur),
        |rb AS (SELECT (CASE WHEN mx > mn THEN
        |      greatest(0, least(floor((v - mn) / ((mx - mn) / 10)), 9))
        |    ELSE 0 END)::INTEGER AS bucket, count(*) AS n_ref
        |  FROM ref, b GROUP BY 1),
        |cb AS (SELECT (CASE WHEN mx > mn THEN
        |      greatest(0, least(floor((v - mn) / ((mx - mn) / 10)), 9))
        |    ELSE 0 END)::INTEGER AS bucket, count(*) AS n_cur
        |  FROM cur, b GROUP BY 1),
        |m AS (SELECT bucket,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rb FULL OUTER JOIN cb USING (bucket))
        |SELECT bucket, n_ref, n_cur,
        |  (floor(((greatest(n_cur / nct, 1e-6) - greatest(n_ref / nrt, 1e-6)) *
        |    ln(greatest(n_cur / nct, 1e-6) / greatest(n_ref / nrt, 1e-6))) * 1e6 + 0.5) / 1e6)
        |    AS psi_term
        |FROM m, b, nc ORDER BY bucket""".stripMargin,

    // same ordered running sum (window cumsum is order-deterministic in
    // both engines), same round-6-before-rank argmax convention
    "ts_cusum_changepoint" ->
      """WITH st AS (
        |  SELECT event_type, sum(value) AS s,
        |    sum(value * value) AS ss, count(value) AS n
        |  FROM events GROUP BY event_type),
        |m AS (SELECT event_type, s / n AS mu,
        |    sqrt((ss - s * s / n) / (n - 1)) AS sigma, n
        |  FROM st),
        |cs AS (
        |  SELECT e.event_id, e.event_type, m.sigma, m.n,
        |    row_number() OVER w AS pos,
        |    (floor((abs(sum(e.value - m.mu) OVER
        |      (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) * 1e6 + 0.5) / 1e6) AS acs
        |  FROM events e JOIN m USING (event_type)
        |  WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id))
        |SELECT event_type, event_id AS cp_event_id, pos AS cp_pos,
        |  (floor((CASE WHEN sigma > 0.0
        |    THEN acs / (sigma * sqrt(n)) END) * 1e4 + 0.5) / 1e4) AS peak_stat
        |FROM cs
        |QUALIFY row_number() OVER (PARTITION BY event_type
        |  ORDER BY acs DESC, pos) = 1
        |ORDER BY event_type""".stripMargin,

    "anomaly_seasonal_z" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, value,
        |    hour(CAST(ts AS TIMESTAMP)) AS hod
        |  FROM events),
        |cells AS (
        |  SELECT event_type, hod, sum(value) AS s,
        |    sum(value * value) AS ss, count(value) AS n
        |  FROM ev GROUP BY event_type, hod),
        |sc AS (
        |  SELECT e.event_id, e.event_type, e.hod,
        |    CASE WHEN c.n >= 3 AND
        |      (c.ss - c.s * c.s / c.n) / (c.n - 1) > 0.0 THEN
        |      (e.value - c.s / c.n) /
        |        sqrt((c.ss - c.s * c.s / c.n) / (c.n - 1))
        |    END AS z
        |  FROM ev e JOIN cells c USING (event_type, hod))
        |SELECT event_id, event_type, hod, (floor((z) * 1e6 + 0.5) / 1e6) AS seasonal_z,
        |  (abs(z) > 3.0) AS is_anomaly
        |FROM sc ORDER BY event_id""".stripMargin,

    "ts_seasonal_decompose" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
        |    floor(CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
        |      / count(*) * 1e6 + 0.5) / 1e6 AS x
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, bucket, x,
        |    floor(CASE WHEN count(x) OVER wa = 24 AND count(x) OVER wb = 24
        |      THEN CAST(sum(CAST(x AS DECIMAL(24,6))) OVER wa
        |        + sum(CAST(x AS DECIMAL(24,6))) OVER wb AS DOUBLE) / 48.0
        |      END * 1e6 + 0.5) / 1e6 AS trend,
        |    hour(bucket) AS hod
        |  FROM hourly
        |  WINDOW wa AS (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING),
        |    wb AS (PARTITION BY event_type ORDER BY bucket
        |      ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        |cells AS (
        |  SELECT event_type, hod,
        |    floor(CAST(sum(CAST(x AS DECIMAL(24,6))
        |      - CAST(trend AS DECIMAL(24,6))) AS DOUBLE) / count(*)
        |      * 1e6 + 0.5) / 1e6 AS s_raw
        |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
        |cent AS (
        |  SELECT event_type,
        |    floor(CAST(sum(CAST(s_raw AS DECIMAL(24,6))) AS DOUBLE)
        |      / count(*) * 1e6 + 0.5) / 1e6 AS s_mean
        |  FROM cells GROUP BY 1),
        |seas AS (
        |  SELECT c.event_type, c.hod, c.s_raw - ce.s_mean AS seasonal
        |  FROM cells c JOIN cent ce USING (event_type))
        |SELECT t.event_type AS event_type, t.bucket AS bucket, t.x AS x,
        |  t.trend AS trend,
        |  floor(s.seasonal * 1e6 + 0.5) / 1e6 AS seasonal,
        |  floor((t.x - t.trend - s.seasonal) * 1e6 + 0.5) / 1e6 AS resid
        |FROM tr t LEFT JOIN seas s
        |  ON t.event_type = s.event_type AND t.hod = s.hod
        |ORDER BY t.event_type, t.bucket""".stripMargin,

    // quantile_cont replays Spark's exact interpolated percentile
    // bit-for-bit (the agg_percentiles precedent)
    // fences snapped to 6 before use, mirroring the operator (sf1 ULP rule)
    "anomaly_winsorize" ->
      """WITH b AS (
        |  SELECT event_type, (floor((quantile_cont(value, 0.05)) * 1e6 + 0.5) / 1e6) AS lo,
        |    (floor((quantile_cont(value, 0.95)) * 1e6 + 0.5) / 1e6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  (floor((greatest(b.lo, least(b.hi, e.value))) * 1e6 + 0.5) / 1e6) AS clipped,
        |  CASE WHEN e.value < b.lo THEN 'low'
        |    WHEN e.value > b.hi THEN 'high' ELSE 'none' END AS fence
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT coalesce(lang, '(all)') AS lang,
        |  coalesce(source, '(all)') AS source,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), ())
        |ORDER BY lang, source""".stripMargin,

    "basket_brand_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT count(DISTINCT okey) AS n_orders FROM baskets),
        |marg AS (SELECT brand, count(*) AS n_brand FROM baskets GROUP BY 1),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
        |  FROM baskets a JOIN baskets b ON a.okey = b.okey
        |  WHERE a.brand < b.brand
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2)
        |SELECT brand_a, brand_b, n_ab,
        |  (floor((CAST(n_ab AS DOUBLE) / n_orders) * 1e6 + 0.5) / 1e6) AS support,
        |  (floor((CAST(n_ab AS DOUBLE) / ma.n_brand) * 1e6 + 0.5) / 1e6) AS confidence,
        |  (floor((CAST(n_ab AS DOUBLE) * n_orders /
        |    (CAST(ma.n_brand AS DOUBLE) * mb.n_brand)) * 1e6 + 0.5) / 1e6) AS lift
        |FROM pairs
        |JOIN marg ma ON ma.brand = brand_a
        |JOIN marg mb ON mb.brand = brand_b
        |CROSS JOIN tot
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin,

    "profile_value_histogram" ->
      """WITH b AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY 1),
        |cls AS (
        |  SELECT e.event_type,
        |    CASE WHEN mx > mn THEN
        |      CAST(least(floor((value - mn) / ((mx - mn) / 8)), 7) AS INTEGER)
        |    ELSE 0 END AS bucket, mn, mx
        |  FROM events e JOIN b USING (event_type))
        |SELECT event_type, bucket,
        |  (floor((mn + bucket * ((mx - mn) / 8)) * 1e6 + 0.5) / 1e6) AS lo,
        |  (floor((mn + (bucket + 1) * ((mx - mn) / 8)) * 1e6 + 0.5) / 1e6) AS hi,
        |  count(*) AS n
        |FROM cls GROUP BY event_type, bucket, mn, mx
        |ORDER BY event_type, bucket""".stripMargin,

    "scd2_order_status" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |c AS (SELECT * FROM w WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  (lead(o_orderdate) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL)
        |    AS is_current
        |FROM c""".stripMargin,

    "diff_order_snapshots" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 0),
        |v2 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_totalprice FROM orders
        |  WHERE o_orderkey % 9 <> 0),
        |j AS (
        |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |    v1.o_orderstatus AS old_o_orderstatus,
        |    v2.o_orderstatus AS new_o_orderstatus,
        |    v1.o_totalprice AS old_o_totalprice,
        |    v2.o_totalprice AS new_o_totalprice,
        |    v1.o_orderkey IS NOT NULL AS in_old,
        |    v2.o_orderkey IS NOT NULL AS in_new
        |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN NOT in_old THEN 'added'
        |    WHEN NOT in_new THEN 'removed'
        |    WHEN NOT (old_o_orderstatus IS NOT DISTINCT FROM new_o_orderstatus
        |      AND old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice)
        |    THEN 'changed' END AS change_type,
        |  old_o_orderstatus, new_o_orderstatus,
        |  old_o_totalprice, new_o_totalprice
        |FROM j
        |WHERE CASE WHEN NOT in_old THEN 'added'
        |    WHEN NOT in_new THEN 'removed'
        |    WHEN NOT (old_o_orderstatus IS NOT DISTINCT FROM new_o_orderstatus
        |      AND old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice)
        |    THEN 'changed' END IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    // same epoch-day integer island arithmetic
    "window_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE))::BIGINT AS d
        |  FROM events),
        |isl AS (SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
        |  FROM days),
        |runs AS (SELECT user_id, island, count(*) AS len
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, max(len) AS longest_streak,
        |  count(*) AS n_streaks, sum(len)::BIGINT AS n_active_days
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // brute-force temporal lookup: all versions with valid_from <= the
    // lookup instant, argmax by (valid_from DESC, status DESC) — the
    // operator's latest-at-or-before + greatest-carried-tuple rule
    "scd2_pit_lookup" ->
      """WITH w AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |dim AS (SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from
        |  FROM w WHERE prev IS NULL OR prev <> o_orderstatus),
        |f AS (SELECT o_orderkey, o_custkey,
        |    o_orderdate - INTERVAL 30 DAY AS as_of FROM orders),
        |cand AS (SELECT f.o_orderkey, f.o_custkey, d.o_orderstatus,
        |    d.valid_from
        |  FROM f LEFT JOIN dim d
        |    ON f.o_custkey = d.o_custkey AND d.valid_from <= f.as_of)
        |SELECT o_orderkey, o_custkey,
        |  o_orderstatus AS status_30d_prior, valid_from AS pit_valid_from
        |FROM cand
        |QUALIFY row_number() OVER (PARTITION BY o_orderkey
        |  ORDER BY valid_from DESC NULLS LAST, o_orderstatus DESC) = 1
        |ORDER BY o_orderkey""".stripMargin,

    "ab_conversion_ztest" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150.0
        |        THEN 1 ELSE 0 END) AS converted,
        |    CAST(user_id % 2 AS INTEGER) AS variant
        |  FROM events GROUP BY 1),
        |f AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM pu),
        |g AS (
        |  SELECT *, conv_a / CAST(n_a AS DOUBLE) AS pa,
        |    conv_b / CAST(n_b AS DOUBLE) AS pb,
        |    (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pool
        |  FROM f),
        |h AS (
        |  SELECT *, CASE WHEN pool > 0 AND pool < 1 THEN
        |      (pb - pa) / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))
        |    END AS zraw
        |  FROM g)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  (floor((pa) * 1e6 + 0.5) / 1e6) AS rate_a, (floor((pb) * 1e6 + 0.5) / 1e6) AS rate_b,
        |  (floor((zraw) * 1e6 + 0.5) / 1e6) AS z, (abs(zraw) > 1.96) AS significant
        |FROM h""".stripMargin,

    "funnel_view_click_purchase" ->
      """WITH w1 AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_0 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_0
        |    THEN ts END) OVER (PARTITION BY user_id) AS t_1 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_1
        |    THEN ts END) OVER (PARTITION BY user_id) AS t_2 FROM w2),
        |u AS (SELECT DISTINCT user_id, t_0, t_1, t_2 FROM w3)
        |SELECT count(*) AS n_users,
        |  count(t_0) AS step_view, count(t_1) AS step_click,
        |  count(t_2) AS step_purchase,
        |  (floor((count(t_1) / CAST(count(t_0) AS DOUBLE)) * 1e6 + 0.5) / 1e6) AS conv_click,
        |  (floor((count(t_2) / CAST(count(t_1) AS DOUBLE)) * 1e6 + 0.5) / 1e6) AS conv_purchase
        |FROM u""".stripMargin,

    "profile_lineitem_stats" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS "column", count($c) AS n,
           |  count(DISTINCT $c) AS ndv,
           |  CAST(min($c) AS DOUBLE) AS min_v,
           |  CAST(max($c) AS DOUBLE) AS max_v,
           |  floor(avg($c) * 1e6 + 0.5) / 1e6 AS avg_v FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // Direct recompute — deliberately NOT the merge path, so the compare
    // proves the two-phase maintenance equals a from-scratch aggregate.
    "mv_incremental_pricing" ->
      s"""SELECT l_returnflag,
        |  ${moneySumSql(dec4Sql("l_extendedprice"))} AS sum_v,
        |  count(l_extendedprice) AS cnt_v,
        |  min(l_extendedprice) AS min_v,
        |  max(l_extendedprice) AS max_v,
        |  CAST(sum(${dec4Sql("l_extendedprice")}) AS DOUBLE)
        |    / count(l_extendedprice) AS avg_v
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "agg_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${moneySumSql(dec4Sql("l_quantity"))} AS sum_qty,
        |  ${moneySumSql(dec4Sql("l_extendedprice"))} AS sum_base_price,
        |  $revSql AS sum_disc_price,
        |  CAST(sum(${dec4Sql("l_quantity")}) AS DOUBLE)
        |    / count(l_quantity) AS avg_qty,
        |  CAST(sum(${dec4Sql("l_discount")}) AS DOUBLE)
        |    / count(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_salted_user_value" ->
      s"""SELECT user_id, ${moneySumSql(dec4Sql("value"))} AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_rollup" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n, ${moneySumSql(dec4Sql("l_quantity"))} AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_filtered_revenue" ->
      s"""SELECT ${moneySumSql(
            s"${dec4Sql("l_extendedprice")} * ${dec4Sql("l_discount")}")}
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,

    "agg_distinct_custs" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The oracle asserts the tolerance boolean from the exact side: a
    // Spark HLL estimate drifting past 5% of exact flips approx_ok false
    // and fails the hash compare.
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_revenue_by_nation" ->
      s"""SELECT n_name,
        |  $revSql AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "agg_percentiles" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_type, (floor((quantile_cont(value, 0.5)) * 1e6 + 0.5) / 1e6) AS p50,
        |  (floor((quantile_cont(value, 0.9)) * 1e6 + 0.5) / 1e6) AS p90
        |FROM events_us GROUP BY event_type ORDER BY event_type""".stripMargin,

    "join_small_qty_revenue" ->
      s"""WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23' AND p_size <= 15),
        |lsel AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN p ON l_partkey = p_partkey),
        |gate AS (SELECT l_partkey AS g_partkey, avg(l_quantity) * 0.2 AS qty_gate
        |  FROM lsel GROUP BY l_partkey)
        |SELECT coalesce(${moneySumSql(dec4Sql("l_extendedprice"))} / 7.0,
        |    0.0) AS avg_yearly,
        |  count(*) AS n_items
        |FROM lsel JOIN gate ON l_partkey = g_partkey
        |WHERE l_quantity < qty_gate""".stripMargin,

    "window_price_quartiles" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority,
        |    ntile(4) OVER w AS quartile,
        |    percent_rank() OVER w AS pr,
        |    o_totalprice
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderpriority, quartile, count(*) AS n,
        |  (floor((max(pr)) * 1e6 + 0.5) / 1e6) AS max_pr,
        |  (floor((max(o_totalprice)) * 1e2 + 0.5) / 1e2) AS max_price
        |FROM ranked GROUP BY o_orderpriority, quartile
        |ORDER BY o_orderpriority, quartile""".stripMargin,

    "join_rich_inactive_customers" ->
      s"""SELECT c_nationkey, count(*) AS n_custs,
        |  ${moneySumSql(dec4Sql("c_acctbal"))} AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "join_top_supplier_revenue" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(${dec4Sql("l_extendedprice")} *
        |      (CAST(1 AS DECIMAL(18,4)) - ${dec4Sql("l_discount")})), 2)
        |      AS DECIMAL(38,2)) AS total_rev_d
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev_d AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev_d = (SELECT max(total_rev_d) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "window_trailing_hour" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_hour
        |FROM events_us
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // DuckDB recomputes the exact 49th/51st percentile band (verifying
    // Spark's exact-percentile endpoints bit-for-bit at 6 dp); the GK
    // sketch's rank guarantee (1/accuracy = 0.1% here, checked against a
    // 1% band) makes the Spark-side containment boolean deterministically
    // true.
    "agg_approx_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |  (floor((quantile_cont(value, 0.49)) * 1e6 + 0.5) / 1e6) AS p49_exact,
        |  (floor((quantile_cont(value, 0.51)) * 1e6 + 0.5) / 1e6) AS p51_exact,
        |  true AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "bloom_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "join_shipping_priority" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  $revSql AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "semi_late_shipments" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, (floor((o_totalprice) * 1e2 + 0.5) / 1e2) AS o_totalprice
        |FROM orders ORDER BY (floor((o_totalprice) * 1e2 + 0.5) / 1e2) DESC, o_orderkey LIMIT 10""".stripMargin,

    "window_latest_event" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT user_id, event_id, event_type FROM events_us
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "window_running_value" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events_us ORDER BY user_id, event_id""".stripMargin,

    "time_tumbling_hourly" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events_us GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    "time_sliding_windows" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |exploded AS (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS w
        |  FROM events_us)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS bucket, count(*) AS n
        |FROM exploded GROUP BY 1 ORDER BY bucket""".stripMargin,

    "session_windows" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events_us WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "asof_click_purchase" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT c.event_id AS event_id, c.user_id AS user_id,
        |  p.event_id AS purchase_event_id
        |FROM (SELECT * FROM events_us WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events_us WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "asof_strict_before" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT c.event_id AS event_id, c.user_id AS user_id,
        |  p.event_id AS purchase_event_id
        |FROM (SELECT * FROM events_us WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events_us WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts < c.ts
        |ORDER BY c.event_id""".stripMargin,

    // brute-force nearest per click (key-equality join + QUALIFY argmin):
    // |Δt| ASC, then earlier right ts (backward wins ties), then the
    // operator's greatest-carried-tuple rule (event_id DESC at same ts)
    "asof_nearest_purchase" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |c AS (SELECT event_id, user_id, ts FROM events_us WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, ts FROM events_us WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT c.event_id, c.user_id, p.event_id AS purchase_event_id,
        |    abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dt, p.ts AS pts
        |  FROM c LEFT JOIN p USING (user_id))
        |SELECT event_id, user_id, purchase_event_id FROM cand
        |QUALIFY row_number() OVER (PARTITION BY event_id
        |  ORDER BY dt ASC NULLS LAST, pts ASC, purchase_event_id DESC) = 1
        |ORDER BY event_id""".stripMargin,

    "asof_next_purchase" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT c.event_id AS event_id, c.user_id AS user_id,
        |  p.event_id AS purchase_event_id
        |FROM (SELECT * FROM events_us WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events_us WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "session_late_drop" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |fresh AS (
        |  SELECT * FROM events_us
        |  WHERE epoch_us(ts) >= (SELECT max(epoch_us(ts)) - 86400000000 FROM events_us)),
        |flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM fresh WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM numbered GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "join_full_outer_activity" ->
      """WITH c AS (SELECT user_id AS c_user, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id AS p_user, count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT coalesce(c_user, p_user) AS user_id,
        |  coalesce(n_clicks, 0) AS n_clicks,
        |  coalesce(n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c_user = p_user
        |ORDER BY user_id""".stripMargin,

    "setop_click_and_purchase" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "setop_click_no_purchase" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 90
        |ORDER BY user_id""".stripMargin,

    "anti_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "semi_customers_urgent" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "json_props_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
        |    / count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_cube" ->
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |  count(*) AS n, ${moneySumSql(dec4Sql("o_totalprice"))} AS sum_price
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "window_lag_delta" ->
      """WITH events_us AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT user_id, event_id,
        |  (floor((value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) * 1e4 + 0.5) / 1e4) AS delta
        |FROM events_us
        |QUALIFY delta IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    "window_topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, (floor((o_totalprice) * 1e2 + 0.5) / 1e2) AS o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority
        |      ORDER BY (floor((o_totalprice) * 1e2 + 0.5) / 1e2) DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "join_order_count_histogram" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "join_revenue_by_region" ->
      s"""SELECT r_name,
        |  $revSql AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    // exact decimal arithmetic end-to-end: order-independent, any SF.
    // round() before the final cast: DuckDB's decimal->decimal
    // scale-reduction cast TRUNCATES (0.2199 -> 0.21), Spark's rounds
    // HALF_UP — round() is the engine-agreed half-away operation.
    // Final VARCHAR cast mirrors the Spark side's string profile: the
    // driver hash raw-stringifies, and DuckDB's pandas bridge floats
    // decimals ("10.00"→"10.0") — casting inside the SQL renders the
    // exact decimal before the bridge can (BASELINE.md hash rule).
    "agg_revenue_decimal_exact" ->
      """SELECT r_name,
        |  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "join_part_brand_revenue" ->
      s"""SELECT p_brand,
        |  $revSql AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand LIMIT 10""".stripMargin,

    "join_big_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150)
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "join_volume_shipping" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  $revSql AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "range_click_attribution" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
        |SELECT p.purchase_id,
        |  count(c.ts) AS n_clicks
        |FROM p LEFT JOIN c
        |  ON c.user_id = p.user_id
        | AND c.ts > p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |GROUP BY p.purchase_id ORDER BY purchase_id""".stripMargin
  )
}
