package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Governance
import graft.operators.Governance._

/** Governance registrations — the publish-side checks and reports of the
  * curation pipeline: data-quality expectations (one-scan suite),
  * referential-integrity audit, k-anonymity/l-diversity re-identification
  * report, and a seeded Laplace-shaped pseudo-noise count release
  * (replayable masking-test plumbing — deliberately not ε-DP, see
  * `Governance.seededNoisyCounts`).
  *
  * The expectations set deliberately includes one genuinely FAILING check:
  * (l_orderkey, l_linenumber) is NOT a unique key in the synthetic lineitem
  * (dup share ≈ 0.24 at sf0.01) — the suite's job is to say so, proving the
  * gate reports real violations rather than rubber-stamping.
  */
object GovernanceQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  private val KAnon = 10
  private val NoiseEps = 0.25
  private val NoiseSeed = 42L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // One-scan declarative DQ suite over lineitem: null-rate, range, set,
    // key-uniqueness, and NDV-floor checks all evaluated in a single
    // aggregation pass (operators/Governance.scala).
    "dq_expectations" -> ((s, dir) =>
      Governance.expectations(t(s, dir, "lineitem"), Seq(
        NotNull("l_shipdate"),
        InRange("l_discount", 0.0, 0.1),
        InRange("l_quantity", 1.0, 50.0),
        InRange("l_tax", 0.0, 0.08),
        InSet("l_returnflag", Seq("A", "N", "R")),
        InSet("l_linestatus", Seq("O", "F")),
        UniqueKey(Seq("l_orderkey", "l_linenumber")),
        MinNdv("l_suppkey", 50L)))),

    // Referential-integrity audit across the star schema's four FK edges:
    // one left-anti join per edge, reduced to per-edge totals.
    "dq_referential" -> ((s, dir) =>
      Governance.referentialAudit(Seq(
        FkRel("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        FkRel("lineitem->part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        FkRel("lineitem->supplier", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"),
        FkRel("orders->customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey")))),

    // Re-identification report: quasi-identifiers (nation, segment),
    // sensitive attribute = account-balance band; class-size histogram
    // with per-bucket worst-case l-diversity.
    "privacy_k_anonymity" -> ((s, dir) =>
      Governance.kAnonymityReport(t(s, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        sensitive = floor(col("c_acctbal") / 2000), k = KAnon)),

    // Seeded pseudo-noise count release: per-event-type counts +
    // Laplace(1/eps)-shaped noise from a committed seed — replayable by an
    // independent engine (not ε-DP; the seed makes the noise public).
    "privacy_noisy_counts" -> ((s, dir) =>
      Governance.seededNoisyCounts(t(s, dir, "events"), "event_type",
        epsilon = NoiseEps, seed = NoiseSeed)),

    // Z-ORDER vs linear layout: what file-level min/max pruning admits
    // for a point filter on each of two dimensions, per layout — the
    // quantified case for Morton clustering (sinks/Layout.scala), as a
    // partial-aggregable report with no global sort.
    "layout_zorder_stats" -> ((s, dir) =>
      graft.sinks.Layout.clusteringStats(t(s, dir, "lineitem"),
        pmod(col("l_partkey"), lit(256)), pmod(col("l_suppkey"), lit(256)),
        nFiles = 32, domain = 256)),

    // FILE-LEVEL DATA SKIPPING (sinks/FileStats.scala): events committed
    // ts-clustered into a Generations table with declared stats columns,
    // then a 3-of-30-day range scan planned from the committed per-file
    // min/max alone — Generations.readPruned never opens the excluded
    // files' footers, the 100 TB scan-cost lever beyond partitioning.
    // The query REQUIRES the plan to have skipped files (range
    // clustering makes that scale-independent), and the oracle replays
    // the same filter over the full raw table, so the hash compare
    // proves the pruned scan lost no matching rows.
    "lake_skipping_scan" -> ((s, dir) => {
      import graft.sinks.{FileStats, Generations, Scratch}
      val base = Scratch.dir(s, "graft-lakeskip")
      val tab = s"$base/events_by_ts"
      Generations.setStatsCols(s, tab, Seq("ts", "value"))
      Generations.writeAndCommit(s, t(s, dir, "events")
        .repartitionByRange(16, col("ts")).sortWithinPartitions("ts"), tab)
      val preds = Seq(FileStats.Between("ts",
        FileStats.tsMicros("2024-01-10T00:00:00"),
        FileStats.tsMicros("2024-01-13T00:00:00")))
      val (kept, total) = Generations.prunePlan(s, tab, preds).get
      require(kept.size < total,
        s"ts-clustered range scan must skip files (kept ${kept.size}/$total)")
      Generations.readPruned(s, tab, preds).get
        .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
          col("ts") < lit("2024-01-13 00:00:00"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // Data skipping × Z-ORDER: the same commit-time stats over a
    // 2-D Morton-clustered layout (Layout.zOrdered on user_id ×
    // floor(value)), so a 2-D box predicate prunes on BOTH dimensions
    // multiplicatively — the full lakehouse OPTIMIZE ZORDER + skipping
    // composition. Effectiveness is asserted in FileStatsSpec (the box
    // fraction is corpus-dependent); correctness is the oracle's
    // full-scan replay of the identical box filter.
    "lake_zorder_skipping" -> ((s, dir) => {
      import graft.sinks.{FileStats, Generations, Layout, Scratch}
      val base = Scratch.dir(s, "graft-lakez")
      val tab = s"$base/events_z"
      Generations.setStatsCols(s, tab, Seq("user_id", "value"))
      Generations.writeAndCommit(s, Layout.zOrdered(
        t(s, dir, "events").withColumn("vbucket", floor(col("value"))),
        Seq("user_id", "vbucket"), numFiles = 16), tab)
      val preds = Seq(FileStats.Between("user_id", 2L, 9L),
        FileStats.Between("value", 5.0, 60.0))
      Generations.readPruned(s, tab, preds).get
        .filter(col("user_id").between(2, 9) &&
          col("value").between(5.0, 60.0))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),

    // DISTRIBUTED metadata planning (r17 VERDICT #1 — the Delta
    // checkpoint analog): the _stats sidecars + file inventory of a
    // multi-commit span fold into ONE committed parquet checkpoint
    // (Generations.checkpointMeta), and prunePlan evaluates the range
    // predicate as a distributed filter over it — REQUIRED below: the
    // plan makes ZERO per-generation driver listings (the O(total
    // files) metastore bottleneck at 10⁵-10⁶ files), yet still skips
    // files. The oracle replays the same filter over the raw table, so
    // the hash compare proves the distributed plan lost no rows.
    "lake_meta_planned_scan" -> ((s, dir) => {
      import graft.sinks.{FileStats, Generations, Scratch}
      val base = Scratch.dir(s, "graft-lakemeta")
      val tab = s"$base/events_by_ts"
      Generations.setStatsCols(s, tab, Seq("ts"))
      val ev = t(s, dir, "events")
      (0 to 2).foreach { i =>
        val part = ev.filter(col("event_id") % 3 === i)
          .repartitionByRange(6, col("ts")).sortWithinPartitions("ts")
        if (i == 0) Generations.writeAndCommit(s, part, tab)
        else Generations.appendCommitted(s, part, tab, s"batch=$i")
      }
      Generations.checkpointMeta(s, tab)
      s.conf.set(Generations.MetaDialMinFilesKey, "0")
      try {
        val preds = Seq(FileStats.Between("ts",
          FileStats.tsMicros("2024-01-10T00:00:00"),
          FileStats.tsMicros("2024-01-13T00:00:00")))
        val before = Generations.planListCalls.get
        val (kept, total) = Generations.prunePlan(s, tab, preds).get
        require(Generations.planListCalls.get == before,
          "a fully checkpointed plan must make no per-gen driver listing")
        require(kept.size < total,
          s"meta-planned range scan must skip files (kept ${kept.size}/$total)")
        Generations.readPruned(s, tab, preds).get
          .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
            col("ts") < lit("2024-01-13 00:00:00"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double")
              .as("sum_value"))
          .orderBy("event_type")
      } finally s.conf.unset(Generations.MetaDialMinFilesKey)
    }),

    // CO-LOCATED JOIN (sinks/Bucketed.scala): both join sides persisted
    // hash-clustered by the join key (bucketBy+sortBy), so the daily
    // fact⋈dim join pays its shuffle ONCE at write time — the query
    // REQUIRES the join plan to contain zero ShuffleExchanges (the
    // 100 TB recurring-network-cost lever), and the oracle replays the
    // same join+agg over the raw tables.
    "lake_bucketed_join" -> ((s, dir) => {
      import graft.sinks.{Bucketed, Scratch}
      val base = Scratch.dir(s, "graft-bucket")
      val sfx = java.util.UUID.randomUUID.toString.take(8)
      val (to, tl) = (s"lake_b_orders_$sfx", s"lake_b_lineitem_$sfx")
      Bucketed.writeBucketed(t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        to, s"$base/o", "o_orderkey", 8)
      Bucketed.writeBucketed(t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        tl, s"$base/l", "o_orderkey", 8)
      val joined = Bucketed.colocatedJoin(s, to, tl, "o_orderkey")
      require(Bucketed.exchangeCount(joined) == 0,
        "bucketed join must plan zero exchanges")
      // decimal revenue (BASELINE.md rule): a double sum over a
      // 60M-row join differs in the last cents digit between plans
      // (SCALING.md, "r16: lakehouse-layer scale evidence") — decimal
      // is order-independent
      joined.groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(BigDecimal(1)).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,2)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // DYNAMIC file pruning (Generations.readPrunedByKeys — Delta's DFP
    // analog): the fact predicate isn't known until the dim filter runs
    // (one customer's ≤19 order keys), so the skip set is derived at
    // plan time from the dim side and the key-clustered fact reads at
    // most one file per key — REQUIRED below (≤19 keys over 32 files
    // can never touch all 32). The oracle replays the raw join.
    "lake_dfp_join" -> ((s, dir) => {
      import graft.sinks.{Generations, Scratch}
      val base = Scratch.dir(s, "graft-dfp")
      val tab = s"$base/lineitem_by_okey"
      Generations.setStatsCols(s, tab, Seq("l_orderkey"))
      Generations.writeAndCommit(s, t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartitionByRange(32, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"), tab)
      val dim = t(s, dir, "orders").filter(col("o_custkey") === 5)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val fact = Generations.readPrunedByKeys(s, tab, "l_orderkey",
        dim.select(col("o_orderkey"))).get
      require(fact.select(input_file_name()).distinct().count() < 32,
        "dim-derived key set must prune the key-clustered fact scan")
      // decimal revenue: same house rule as lake_bucketed_join
      fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(BigDecimal(1)).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,2)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // BUCKETED LAYOUT composed INTO the Generations protocol (r16 gap:
    // sinks/Bucketed was session-catalog-only — no snapshot isolation,
    // no time travel, no folds; Generations tables couldn't co-locate).
    // Here ONE mutable table of record (the reference's catalog role,
    // data_downloader.py:40-48) is written bucket-clustered by EVERY
    // commit, takes an APPEND commit, and the registered span still
    // joins with ZERO exchanges — REQUIRED below. Values replay the
    // raw join in the oracle.
    "lake_gen_bucketed_join" -> ((s, dir) => {
      import graft.sinks.{Bucketed, Generations, Scratch}
      val base = Scratch.dir(s, "graft-genbkt")
      val (ft, dt) = (s"$base/fact", s"$base/dim")
      Generations.setBucketing(s, ft, "o_orderkey", 8)
      Generations.setBucketing(s, dt, "o_orderkey", 8)
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
      Generations.writeAndCommit(s, li.filter(col("o_orderkey") % 10 =!= 0), ft)
      Generations.appendCommitted(s,
        li.filter(col("o_orderkey") % 10 === 0), ft, "batch=1")
      Generations.writeAndCommit(s, t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")), dt)
      val sfx = java.util.UUID.randomUUID.toString.take(8)
      val f = Bucketed.readGenerations(s, ft, s"lake_gb_f_$sfx")
      val d = Bucketed.readGenerations(s, dt, s"lake_gb_d_$sfx")
      val joined = f.join(d.hint("merge"), "o_orderkey")
      require(Bucketed.exchangeCount(joined) == 0,
        "the Generations-bucketed join must plan zero exchanges " +
          "across the append commit")
      joined.groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(BigDecimal(1)).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,2)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // BLOOM-tier dynamic pruning (sinks/BloomStats.scala — Delta's
    // bloom-index posture at high key cardinality): the dim key set is
    // two clumps at OPPOSITE ends of the fact's clustered key range, so
    // the min/max range tier keeps every file, and maxKeys=16 forces
    // the plan past the exact-key tier (the >1024-NDV regime where r16
    // degraded to a bare range) — only the committed per-file blooms
    // can rule out the middle files, and the REQUIRE proves they do.
    // The oracle replays the raw join; equality proves the bloom tier
    // dropped no matching rows (no false negatives, definitionally).
    "lake_bloom_dfp_join" -> ((s, dir) => {
      import graft.sinks.{Generations, Scratch}
      val base = Scratch.dir(s, "graft-bloomdfp")
      val tab = s"$base/lineitem_by_okey"
      Generations.setStatsCols(s, tab, Seq("l_orderkey"))
      // fpp is per-PROBE: two 5%-of-keyspace clumps probe ~10% of the
      // orders, so 1e-6 holds the per-file false-keep odds ≈ K·fpp
      // well under 1 at every gate SF
      Generations.setBloomCols(s, tab, Seq("l_orderkey"), fpp = 1e-6)
      Generations.writeAndCommit(s, t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartitionByRange(32, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"), tab)
      val maxKey = t(s, dir, "orders")
        .agg(max(col("o_orderkey"))).head().getLong(0)
      val (lo, hi) = (maxKey / 20, maxKey - maxKey / 20)
      val dim = t(s, dir, "orders")
        .filter(col("o_orderkey") <= lo || col("o_orderkey") >= hi)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val (kept, total) = Generations.prunePlanByKeys(s, tab, "l_orderkey",
        dim.select(col("o_orderkey")), maxKeys = 16).get
      require(kept.size * 2 < total,
        s"bloom tier must prune the middle of the clustered fact " +
          s"(kept ${kept.size}/$total)")
      val fact = Generations.readFiles(s, tab, kept)
      fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(BigDecimal(1)).cast("decimal(18,4)") -
            col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,2)").cast("string").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    })
  )

  val oracles: Map[String, String] = Map(

    // pass is computed on the UNROUNDED metric (mirrors Governance
    // .expectations); only the reported metric column rounds to 6.
    "dq_expectations" ->
      """WITH m AS (SELECT
        |  avg(CASE WHEN l_shipdate IS NULL THEN 1.0 ELSE 0.0 END) AS m_nn,
        |  avg(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1.0 ELSE 0.0 END) AS m_disc,
        |  avg(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1.0 ELSE 0.0 END) AS m_qty,
        |  avg(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0.0 OR l_tax > 0.08) THEN 1.0 ELSE 0.0 END) AS m_tax,
        |  avg(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1.0 ELSE 0.0 END) AS m_rf,
        |  avg(CASE WHEN l_linestatus IS NOT NULL AND l_linestatus NOT IN ('O','F') THEN 1.0 ELSE 0.0 END) AS m_ls,
        |  1.0 - CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE) / count(*) AS m_uk,
        |  CAST(count(DISTINCT l_suppkey) AS DOUBLE) AS m_ndv
        |FROM lineitem)
        |SELECT "check", "column", (floor((metric) * 1e6 + 0.5) / 1e6) AS metric, threshold, pass FROM (
        |  SELECT 'not_null' AS "check", 'l_shipdate' AS "column", m_nn AS metric, 0.0 AS threshold, m_nn <= 0.0 AS pass FROM m
        |  UNION ALL SELECT 'in_range', 'l_discount', m_disc, 0.0, m_disc <= 0.0 FROM m
        |  UNION ALL SELECT 'in_range', 'l_quantity', m_qty, 0.0, m_qty <= 0.0 FROM m
        |  UNION ALL SELECT 'in_range', 'l_tax', m_tax, 0.0, m_tax <= 0.0 FROM m
        |  UNION ALL SELECT 'in_set', 'l_returnflag', m_rf, 0.0, m_rf <= 0.0 FROM m
        |  UNION ALL SELECT 'in_set', 'l_linestatus', m_ls, 0.0, m_ls <= 0.0 FROM m
        |  UNION ALL SELECT 'unique_key', 'l_orderkey+l_linenumber', m_uk, 0.0, m_uk <= 0.0 FROM m
        |  UNION ALL SELECT 'min_ndv', 'l_suppkey', m_ndv, 50.0, m_ndv >= 50.0 FROM m)
        |ORDER BY "check", "column"""".stripMargin,

    "dq_referential" ->
      """SELECT relation, n_child, n_orphans,
        |  (floor((CAST(n_orphans AS DOUBLE) / n_child) * 1e6 + 0.5) / 1e6) AS orphan_rate
        |FROM (
        |  SELECT 'lineitem->orders' AS relation,
        |    (SELECT count(*) FROM lineitem) AS n_child,
        |    (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NULL
        |      OR NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |  UNION ALL SELECT 'lineitem->part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NULL
        |      OR NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem->supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE l.l_suppkey IS NULL
        |      OR NOT EXISTS (SELECT 1 FROM supplier su WHERE su.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'orders->customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NULL
        |      OR NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |ORDER BY relation""".stripMargin,

    "privacy_k_anonymity" ->
      s"""WITH cl AS (
         |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
         |    count(DISTINCT floor(c_acctbal / 2000)) AS l_diversity
         |  FROM customer GROUP BY 1, 2)
         |SELECT class_size, count(*) AS n_classes,
         |  class_size * count(*) AS n_rows,
         |  min(l_diversity) AS min_l_diversity,
         |  class_size < $KAnon AS at_risk
         |FROM cl GROUP BY class_size ORDER BY class_size""".stripMargin,

    "privacy_noisy_counts" ->
      s"""WITH g AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
         |n AS (SELECT event_type, cnt,
         |  (('0x' || substr(md5('lap|$NoiseSeed|' || event_type), 1, 8))::UBIGINT::DOUBLE + 0.5)
         |    / 4294967296.0 AS u FROM g)
         |SELECT event_type,
         |  greatest(0, CAST((floor((cnt
         |    + (-(1.0 / $NoiseEps)) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))) * 1e0 + 0.5) / 1e0) AS BIGINT))
         |    AS noisy_count
         |FROM n ORDER BY event_type""".stripMargin,

    "layout_zorder_stats" ->
      """WITH keyed AS (
        |  SELECT l_partkey % 256 AS bx, l_suppkey % 256 AS by,
        |    list_sum(list_transform(range(0, 16), i ->
        |      (((l_partkey % 256) >> i) & 1) * (1::BIGINT << (2 * i))
        |      + (((l_suppkey % 256) >> i) & 1) * (1::BIGINT << (2 * i + 1))))
        |      AS z
        |  FROM lineitem),
        |assigned AS (
        |  SELECT bx, by, 'linear' AS layout, (bx * 32) // 256 AS file FROM keyed
        |  UNION ALL
        |  SELECT bx, by, 'zorder', (z * 32) // 65536 FROM keyed),
        |per_file AS (
        |  SELECT layout, file,
        |    max(bx) - min(bx) + 1 AS span_x, max(by) - min(by) + 1 AS span_y,
        |    count(*) AS n_rows
        |  FROM assigned GROUP BY layout, file)
        |SELECT layout, count(*) AS n_files,
        |  CAST(sum(span_x) AS DOUBLE) / count(*) AS avg_span_x,
        |  CAST(sum(span_y) AS DOUBLE) / count(*) AS avg_span_y,
        |  CAST(sum(span_x) AS DOUBLE) / 256 AS est_files_x,
        |  CAST(sum(span_y) AS DOUBLE) / 256 AS est_files_y,
        |  CAST(max(n_rows) AS DOUBLE)
        |    / (CAST(sum(n_rows) AS DOUBLE) / count(*)) AS row_skew
        |FROM per_file GROUP BY layout ORDER BY layout""".stripMargin,

    // full-scan replay of the pruned range scan: equality proves the
    // file-skipping plan dropped no matching rows
    "lake_skipping_scan" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM ev
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // full-scan replay: equality proves the DISTRIBUTED metadata plan
    // (checkpoint-pruned file set) dropped no matching rows
    "lake_meta_planned_scan" ->
      """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM ev
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "lake_zorder_skipping" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 2 AND 9 AND value BETWEEN 5.0 AND 60.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // raw-table replay of the co-located join: equality proves the
    // bucketed layout changed the plan, not the values
    "lake_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
        |  count(*) AS n_items
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // raw-table replay of the dynamically pruned join
    "lake_dfp_join" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
        |  count(*) AS n_items
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_custkey = 5
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // raw-table replay of the Generations-bucketed co-located join
    // (fact = full lineitem via the two commits, so the join is total)
    "lake_gen_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
        |  count(*) AS n_items
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // raw-table replay of the bloom-pruned join (the two-clump dim)
    "lake_bloom_dfp_join" ->
      """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
        |SELECT o_orderpriority,
        |  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue,
        |  count(*) AS n_items
        |FROM orders o
        |CROSS JOIN m
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey <= m.mx // 20
        |   OR o.o_orderkey >= m.mx - m.mx // 20
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
