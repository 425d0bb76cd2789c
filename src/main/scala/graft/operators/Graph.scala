package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.Iterate.MaterializeOps

/** Graph analytics over DataFrame edge lists — the data-selection
  * complement to [[Dedup.connectedComponents]]: PageRank centrality over
  * a k-nearest-neighbour similarity graph ranks documents/embeddings by
  * how "central" they are in the corpus, the standard graph-based
  * diversity/representativeness signal for training-data selection
  * (high-rank = prototypical, low-rank = outlier).
  */
object Graph {

  /** Symmetrized k-NN edge list over the embeddings table: each vector's
    * top-k cosine neighbours within its IVF cell ([[Similarity.assignCells]]
    * — the same coarse quantizer the ANN probes and SemDeDup use), mirrored
    * so the graph is undirected; every emitted node then has outdegree ≥ 1,
    * so PageRank sees no dangling mass. A vector alone in its cell has no
    * candidates and drops out — the standard ANN-graph recall trade, dialed
    * by `nCells`.
    *
    * Scale shape: the cell layout is materialized once (it IS the IVF
    * storage layout at scale — a parquet write, localCheckpoint
    * in-session), then candidate pairs come from a plain shuffle join on
    * the cell key — `nCells` grows with the corpus, so within-cell pair
    * work stays ~linear and NOTHING corpus-sized is ever broadcast (the
    * label-block broadcast-N² this replaces dies at the broadcast limit
    * and is quadratic per block). Norms are hoisted into the layout (one
    * per vector, not two per pair). The top-k is a rank window that
    * Spark 4 plans as Partial+Final `WindowGroupLimit` — each map task
    * keeps only k rows per vec_id BEFORE the shuffle. Cosines are rounded
    * to 6 places before ranking so the neighbour choice (ties → lowest
    * id) is engine-independent.
    */
  def knnEdges(embeddings: DataFrame, k: Int, nCells: Int = 16): DataFrame =
    knnEdgesFromLayout(Similarity.cellLayout(embeddings, nCells), k)

  /** [[knnEdges]] over a prebuilt (checkpointed) [[Similarity.cellLayout]]
    * frame — use when composing with other cell-blocked operators in one
    * job so the quantizer assignment pass runs once (the
    * nearDupPairsFromShingles precedent).
    */
  def knnEdgesFromLayout(cells: DataFrame, k: Int): DataFrame = {
    val a = cells.select(col("cell"), col("vec_id"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = cells.select(col("cell"), col("vec_id").as("nn_vec_id"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn_vec_id").asc)
    // Materialize the top-k half-edges before mirroring: the union
    // references the frame twice, and the pair-scoring subtree (cell
    // join + window) would otherwise evaluate once per direction — the
    // same double-evaluation hazard fixed in connectedComponents.
    val topk = a.join(b, Seq("cell"))
      .filter(col("vec_id") =!= col("nn_vec_id"))
      .withColumn("cosine",
        (floor((VectorFns.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b"))) * 1e6 + 0.5) / 1e6))
      // project BEFORE the rank exchange (guide §2.3): the window only
      // needs (vec_id, cosine, nn_vec_id); without this the shuffle and
      // sort drag both 64-float embeddings per candidate PAIR
      .select(col("vec_id"), col("nn_vec_id"), col("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id").as("src"), col("nn_vec_id").as("dst"))
      .materializedLazy
    topk.unionByName(topk.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Measured kNN-graph recall@k: for a fixed deterministic anchor
    * sample, the fraction of each anchor's TRUE top-k cosine neighbours
    * present among its [[knnEdges]] graph neighbours — quantifying the
    * `nCells` recall dial the cell-blocked graph asserts in prose (the
    * [[Similarity.ivfRecall]] contract, applied to the graph builder;
    * symmetrization can only add neighbours, so this bounds the pure
    * within-cell recall from above). Emits one row: (n_anchors,
    * mean_recall, recall_ok = mean_recall ≥ `minMeanRecall`).
    *
    * Scale shape: anchors are bounded by construction (vec_id <
    * `anchorStride`·`maxAnchors`), so the exact pass is |A|·N dot
    * products with a legal bounded broadcast — a sampled diagnostic,
    * linear in the corpus; the graph side is the production [[knnEdges]]
    * plan itself.
    */
  def knnRecall(embeddings: DataFrame, k: Int = 4, nCells: Int = 16,
      anchorStride: Long = 25, maxAnchors: Int = 20,
      minMeanRecall: Double = 0.2): DataFrame = {
    val cells = Similarity.cellLayout(embeddings, nCells)
    val anchors = cells.filter(col("vec_id") % anchorStride === 0 &&
        col("vec_id") < anchorStride * maxAnchors)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cand = cells.select(col("vec_id").as("c_id"),
      col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val exactTop = cand.crossJoin(broadcast(anchors))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cos", (floor((VectorFns.dot(col("q_emb"), col("c_emb")) /
          (col("q_nrm") * col("c_nrm"))) * 1e6 + 0.5) / 1e6))
      .select(col("q_id"), col("c_id"), col("cos")) // narrow pre-window
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"))
    // reuse the checkpointed layout already built above — the graph side
    // must not pay a second quantizer-assignment pass in the same query
    val nbrs = knnEdgesFromLayout(cells, k)
      .select(col("src").as("q_id"), col("dst").as("c_id"))
    val overlap = exactTop.join(nbrs, Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap"))
    anchors.select(col("q_id"))
      .join(overlap, Seq("q_id"), "left")
      .select(coalesce(col("n_overlap"), lit(0L)).cast("double")
        .divide(lit(k)).as("recall"))
      .agg(count(lit(1)).as("n_anchors"),
        (floor(avg(col("recall")) * 1e4 + 0.5) / 1e4).as("mean_recall"))
      .select(col("n_anchors"), col("mean_recall"),
        (col("mean_recall") >= minMeanRecall).as("recall_ok"))
  }

  /** PageRank with `iters` fixed power iterations at damping `d`:
    * rank'(v) = (1−d)/N + d · Σ_{u→v} rank(u)/outdeg(u), ranks seeded
    * uniform. Fixed iteration count (not convergence-tested) keeps the
    * result a pure function of the edge list, so a SQL oracle can replay
    * it by unrolling the same `iters` joins.
    *
    * The node set is pinned once (every src) and each iteration LEFT-joins
    * the contribution sums back onto it — a node with out-edges but no
    * in-edges keeps its (1−d)/N base rank every round instead of silently
    * vanishing after iteration 1 (the groupBy(dst) rebuild alone emits
    * only in-edge holders, losing such a node's outgoing mass too).
    *
    * Requires every node to have at least one out-edge (true for any
    * symmetrized graph, e.g. [[knnEdges]]) — dangling nodes would leak
    * rank mass and silently deflate totals, so they are rejected here.
    * The node set and the dangling check come from ONE aggregation over
    * the edge endpoints (a vertex is dangling iff it appears as dst but
    * never as src), so setup costs a single extra action.
    *
    * Scale shape: each iteration is one join of the (checkpointed,
    * src-hash-partitioned) edge list against the current rank vector
    * plus a partial-aggregable sum — the classic Pregel shape expressed
    * declaratively. Lineage is truncated every round; damping makes the
    * iteration a contraction, so cross-engine float divergence stays at
    * rounding noise instead of compounding.
    *
    * @return (v, rank_norm) where rank_norm = rank × N (mean 1.0),
    *         rounded to 6 places.
    */
  /** Synchronous label-propagation community detection over an undirected
    * edge list: labels seed with each node's own id; every round each node
    * adopts the most frequent label among its neighbours (ties → lowest
    * label). Synchronous updates + deterministic tie-breaks make the
    * result a pure function of the edge list, so a SQL oracle replays it
    * by unrolling the same `iters` rounds. Communities emerge as label
    * plateaus — the density-sensitive clustering complement to
    * [[Dedup.connectedComponents]], which merges ANY connected structure.
    *
    * Scale shape per round: one join of the (checkpointed,
    * dst-partitioned) edge list against the current label vector, then
    * two partial-aggregable groupBys (vote count, argmax via `min_by` on
    * (−votes, label)) — no window sort, nothing broadcast, lineage
    * truncated every round; iteration frames sized from the edge count
    * like [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    // ONE eager cut of the edge list (the count for sizing rides it);
    // the dst-partitioned copy and the per-round label frames cut
    // LAZILY — the checkpoint job folds into the round's first consumer
    // while still deduplicating the double reference (r19; each round's
    // frame is referenced by the next round's join AND carried forward).
    val eRaw = edges.select(col("src"), col("dst")).materialized
    val parts = math.max(1, (eRaw.count() / 2000000L).toInt)
    val e = eRaw.repartition(parts, col("dst")).materializedLazy
    var labels = e.select(col("src").as("v")).distinct()
      .repartition(parts, col("v"))
      .withColumn("lbl", col("v")).materializedLazy
    for (_ <- 1 to iters) {
      labels = e
        .join(labels.select(col("v").as("dst"), col("lbl").as("nbr_lbl")), "dst")
        .groupBy(col("src"), col("nbr_lbl"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("src"))
        .agg(min_by(col("nbr_lbl"),
          struct((-col("votes")).as("neg_votes"), col("nbr_lbl"))).as("lbl"))
        .select(col("src").as("v"), col("lbl"))
        .materializedLazy
    }
    labels.select(col("v"), col("lbl").as("community"))
  }

  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    // cut the incoming edge list FIRST: `edges` is referenced twice
    // below (degree aggregation + the join), and without the boundary
    // the caller's whole edge-builder lineage would evaluate per
    // reference (r19)
    val e0 = edges.select(col("src"), col("dst")).materialized
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eRaw = e0.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg")).materializedLazy

    // ONE aggregation over the edge endpoints yields the node set, the
    // dangling check (a vertex is dangling iff it appears as dst but
    // never as src) AND the edge count — so setup is a single driver
    // action, yet the iteration frames can still be sized to the ACTUAL
    // edge count (pair graphs are usually minuscule next to the corpus;
    // inheriting spark.sql.shuffle.partitions paid dozens of near-empty
    // tasks per join per round).
    val verts = e0.select(col("src").as("v"), lit(1).as("o"))
      .unionByName(e0.select(col("dst").as("v"), lit(0).as("o")))
      .groupBy(col("v"))
      .agg(max(col("o")).as("has_out"), sum(col("o")).as("out_rows"))
      .materialized
    val Row(nNodes: Long, nDangling: Long, nEdges: Long) = verts
      .agg(count(lit(1)), sum(lit(1) - col("has_out")).cast("long"),
        sum(col("out_rows")).cast("long")).head()
    require(nDangling == 0,
      s"$nDangling dangling node(s) (in-edges but no out-edges) would leak rank mass")
    val parts = math.max(1, (nEdges / 2000000L).toInt)
    // One edge-frame reused every iteration: pre-partition on the join key
    // and checkpoint, so the per-iteration join reuses the layout instead
    // of re-shuffling the edges each round.
    val e = eRaw.repartition(parts, col("src")).materializedLazy
    val nodes = verts.select(col("v"))
      .repartition(parts, col("v")).materializedLazy
    val n = nNodes.toDouble

    var ranks = nodes.withColumn("r", lit(1.0 / n))
    for (i <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("v"))
        .select(col("dst"), (col("r") / col("outdeg")).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, nodes("v") === contrib("dst"), "left")
        .select(col("v"),
          (lit((1 - damping) / n) + lit(damping) * coalesce(col("s"), lit(0.0))).as("r"))
      if (i % 3 == 0 && i < iters) ranks = ranks.materializedLazy
    }
    // floor-snap, never round(): r is an iterated double sum, so the
    // snap must be the same IEEE ops in every engine (BASELINE.md)
    ranks.select(col("v"),
      (floor(col("r") * n * 1e6 + 0.5) / 1e6).as("rank_norm"))
  }

  /** Personalized PageRank: teleport mass returns to a SEED set instead
    * of uniformly — rank'(v) = (1−d)·s(v) + d·Σ_{u→v} rank(u)/outdeg(u)
    * with s(v) = 1/|S| for seeds, 0 otherwise, ranks seeded at s. The
    * data-selection read: how close is each document to a trusted seed
    * corpus through the kNN similarity graph (the graph-walk counterpart
    * of DSIR's distributional importance weights).
    *
    * Same contract and scale shape as [[pageRank]] (fixed iterations for
    * oracle replay; one src-partitioned edge join + partial-aggregable
    * sum per round; node set pinned so no-in-edge nodes keep their base
    * mass; dangling nodes rejected). The seed vector rides the pinned
    * node frame, so the personalization term costs nothing per round.
    *
    * @return (v, ppr_norm) with ppr_norm = rank × N (uniform-rank units,
    *         comparable across graph sizes), rounded to 6.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    // single eager cut of the edge list; derived frames cut lazily —
    // see pageRank (r19)
    val e0 = edges.select(col("src"), col("dst")).materialized
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val eRaw = e0.join(deg, "src")
      .select(col("src"), col("dst"), col("outdeg"))
    val verts = e0.select(col("src").as("v"), lit(1).as("o"))
      .unionByName(e0.select(col("dst").as("v"), lit(0).as("o")))
      .groupBy(col("v"))
      .agg(max(col("o")).as("has_out"), sum(col("o")).cast("long").as("out_rows"))
      .materialized
    val Row(nNodes: Long, nDangling: Long, nEdges: Long) = verts
      .agg(count(lit(1)), sum(lit(1) - col("has_out")).cast("long"),
        sum(col("out_rows")).cast("long")).head()
    require(nDangling == 0,
      s"$nDangling dangling node(s) (in-edges but no out-edges) would leak rank mass")
    val parts = math.max(1, (nEdges / 2000000L).toInt)
    val e = eRaw.repartition(parts, col("src")).materializedLazy

    val base = verts.select(col("v"))
      .join(seeds.select(col("v")).distinct().withColumn("_s", lit(1.0)),
        Seq("v"), "left")
      .select(col("v"), coalesce(col("_s"), lit(0.0)).as("flag"))
    val nSeeds = base.agg(sum(col("flag"))).head().getDouble(0)
    require(nSeeds > 0, "seed set must intersect the graph's node set")
    val s = base.select(col("v"), (col("flag") / nSeeds).as("s"))
      .repartition(parts, col("v")).materializedLazy

    var ranks = s.select(col("v"), col("s").as("r"))
    for (i <- 1 to iters) {
      val contrib = e.join(ranks, e("src") === ranks("v"))
        .select(col("dst"), (col("r") / col("outdeg")).as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("cs"))
      ranks = s.join(contrib, s("v") === contrib("dst"), "left")
        .select(s("v"),
          (lit(1 - damping) * col("s") +
            lit(damping) * coalesce(col("cs"), lit(0.0))).as("r"))
      if (i % 3 == 0 && i < iters) ranks = ranks.materializedLazy
    }
    // floor-snap, never round() — same rule as pageRank's rank_norm
    ranks.select(col("v"),
      (floor(col("r") * nNodes.toDouble * 1e6 + 0.5) / 1e6).as("ppr_norm"))
  }

  /** Multi-source BFS hop distance: hops(v) = length of the shortest
    * path from any seed node, by `maxHops` synchronous frontier-relaxation
    * rounds (dᵢ(v) = min(dᵢ₋₁(v), min over in-neighbours + 1)). The
    * graph-proximity counterpart of [[personalizedPageRank]]: discrete
    * "how many similarity steps from a trusted seed corpus" — the
    * selection signal behind graph-bootstrapped labeling and
    * seed-expansion crawls. Seeds outside the graph's node set (neither a
    * src nor a dst of any edge) are ignored; nodes unreached within
    * `maxHops` are absent from the output. The fixed round count keeps the result a pure function of
    * (edges, seeds), so a SQL oracle replays it by unrolling the same
    * rounds.
    *
    * Scale shape per round: one join of the (checkpointed,
    * src-partitioned) edge list against the current distance vector plus
    * a `min` partial aggregate — the same Pregel shape as [[pageRank]],
    * with lineage truncated every round. The distance vector only ever
    * holds reached nodes, so early rounds shuffle frontier-sized frames,
    * not graph-sized ones.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    // one eager cut; derived frames cut lazily (the checkpoint job folds
    // into each round's first consumer while still deduplicating the
    // union+join double reference within the round) — see pageRank (r19)
    val eRaw = edges.select(col("src"), col("dst")).materialized
    val parts = math.max(1, (eRaw.count() / 2000000L).toInt)
    val e = eRaw.repartition(parts, col("src")).materializedLazy
    // Node set from BOTH endpoints: on a directed edge list a seed that
    // appears only as a dst must still start at hops=0, or it would be
    // assigned a wrong (>=1) distance when reached from another seed.
    var dist = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
      .join(seeds.select(col("v")).distinct(), Seq("v"), "left_semi")
      .withColumn("hops", lit(0L))
      .repartition(parts, col("v")).materializedLazy
    for (_ <- 1 to maxHops) {
      val relax = e.join(dist, e("src") === dist("v"))
        .select(col("dst").as("v"), (col("hops") + lit(1L)).as("hops"))
      dist = dist.unionByName(relax)
        .groupBy(col("v")).agg(min(col("hops")).as("hops"))
        .materializedLazy
    }
    dist
  }

  /** Per-vertex triangle count and local clustering coefficient over an
    * undirected symmetric distinct edge list (e.g. [[knnEdges]]) — the
    * neighbourhood-density signal graph-based data pruning uses on kNN
    * graphs (tight cluster = redundant, sparse = novel/outlier).
    *
    * Each triangle is enumerated exactly once: edges are ORIENTED from
    * lower to higher (degree, id) rank, wedges generated only at each
    * triangle's lowest-rank vertex, then closed by a semi-join against
    * the canonical edge set. Degree-ordering caps any vertex's oriented
    * out-degree at O(√m) on skewed graphs — the classic bound that keeps
    * wedge fan-out from going quadratic at a celebrity node — while
    * leaving the RESULT orientation-independent, so the SQL oracle can
    * replay with plain id-ordering.
    *
    * Scale shape: two shuffle joins on vertex keys (wedge build, closure
    * probe) plus partial-aggregable counts; nothing broadcast, nothing
    * corpus-quadratic. coefficient = 2·T(v) / (deg(v)·(deg(v)−1)), 0 for
    * degree-1 vertices.
    *
    * @return (v, triangles, clustering_coeff) one row per vertex.
    */
  /** Common-neighbor / Jaccard link prediction over an undirected edge
    * list: for every NON-adjacent pair (a, b) with ≥ `minCommon` shared
    * neighbors, score = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the classic
    * local-similarity predictor (Liben-Nowell & Kleinberg 2003); on the
    * kNN graph it surfaces "should-be-neighbor" pairs the cell blocking
    * missed (a recall repair signal) and near-duplicate communities one
    * hop before they merge.
    *
    * Scale shape: the wedge join is keyed on the shared vertex, so
    * fan-out is Σ deg(w)² — bounded on a kNN graph (deg ≤ 2k after
    * symmetrization), never all-pairs; adjacency removal is a key-local
    * anti-join on the canonical (lo, hi) pair; the top-k is a
    * TakeOrderedAndProject. Nothing corpus-sized is broadcast.
    */
  def linkPredict(edges: DataFrame, minCommon: Long = 2L,
      topK: Int = 50): DataFrame = {
    // Degrees and wedges below assume an undirected view; symmetrize +
    // distinct here (as knnEdges does) so a directed or duplicated input
    // can't mix in-neighbor overlap with out-degrees or emit jaccard > 1.
    // On an already-symmetric distinct input this is a semantic no-op.
    val raw = edges.select(col("src"), col("dst"))
    val e = raw
      .unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().materializedLazy
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val cn = e.alias("x")
      .join(e.alias("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .groupBy(col("x.dst").as("a"), col("y.dst").as("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    val canon = e.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    cn.join(canon, Seq("a", "b"), "left_anti")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("common"),
        (floor((col("common") /
          (col("deg_a") + col("deg_b") - col("common"))) * 1e6 + 0.5) / 1e6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("common").desc, col("a"), col("b"))
      .limit(topK)
  }

  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).materializedLazy
    val deg = e.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    // Orientation rank: (deg, id) as a lexicographic struct; symmetric
    // input means keeping rank(src) < rank(dst) rows keeps each
    // undirected edge exactly once, pointed at the lower-rank endpoint.
    val dir = e
      .join(deg.select(col("v").as("src"), col("deg").as("deg_s")), "src")
      .join(deg.select(col("v").as("dst"), col("deg").as("deg_d")), "dst")
      .filter(struct(col("deg_s"), col("src")) < struct(col("deg_d"), col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi"))
    val wedges = dir.alias("x")
      .join(dir.alias("y"),
        col("x.lo") === col("y.lo") && col("x.hi") < col("y.hi"))
      .select(col("x.lo").as("a"), col("x.hi").as("b"), col("y.hi").as("c"))
    // Closure probe against the id-canonical edge set: (min, max) of the
    // open pair — orientation-independent membership.
    val canon = e.filter(col("src") < col("dst"))
      .select(col("src").as("p"), col("dst").as("q"))
    val tris = wedges.join(canon,
      least(col("b"), col("c")) === col("p") &&
        greatest(col("b"), col("c")) === col("q"), "left_semi")
    val perV = tris.select(col("a").as("v"))
      .unionByName(tris.select(col("b").as("v")))
      .unionByName(tris.select(col("c").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("t"))
    deg.join(perV, Seq("v"), "left")
      .select(col("v"), coalesce(col("t"), lit(0L)).as("triangles"),
        (floor((when(col("deg") > 1,
          lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - lit(1)))).otherwise(lit(0.0))) * 1e6 + 0.5) / 1e6)
          .as("clustering_coeff"))
  }
}
