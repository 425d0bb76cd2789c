package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Iterate.MaterializeOps

/** PageRank semantics against an independent in-memory power iteration,
  * plus structural guards (mass conservation, dangling rejection, kNN
  * edge symmetry) and laws that are not tautologies of the
  * implementation (BFS relaxation, triangle relabel invariance, label
  * propagation as a partition), checked on one random graph.
  */
class GraphSpec extends SparkSpec {

  /** A seeded random undirected graph of 300 nodes, built once per suite:
    * a ring with (v, v+2) chords, so triangles sit everywhere, plus one
    * hashed long chord from every fifth node, so degrees (and with them
    * the triangle orientation) vary. Symmetric, distinct, loop-free.
    * Returns the edge frame and its edges on the driver.
    */
  private lazy val randomGraph: (DataFrame, Seq[(Long, Long)]) = {
    val n = 300L
    val v = spark.range(n).select(col("id").as("a"))
    val und = v.select(col("a"), pmod(col("a") + 1, lit(n)).as("b"))
      .unionByName(v.select(col("a"), pmod(col("a") + 2, lit(n)).as("b")))
      .unionByName(v.filter(col("a") % 5 === 0)
        .select(col("a"), pmod(xxhash64(col("a"), lit(17L)), lit(n)).as("b")))
      .filter(col("a") =!= col("b"))
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .distinct().materialized
    (e, e.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq)
  }

  private def edgeDF(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  /** Reference implementation: dense power iteration over a map. */
  private def refPageRank(es: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val nodes = es.map(_._1).distinct.sorted
    val n = nodes.size.toDouble
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    var r = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v -> ((1 - d) / n + d * contrib.getOrElse(v, 0.0))).toMap
    }
    r.map { case (v, x) => v -> x * n }
  }

  test("matches an independent power iteration on an asymmetric graph") {
    // Symmetrized triangle + pendant: 1-2, 2-3, 1-3, 3-4 (both directions).
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (3L, 4L), (4L, 3L))
    val got = Graph.pageRank(edgeDF(es), iters = 5)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Double]("rank_norm")).toMap
    val want = refPageRank(es, 5, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, x) =>
      assert(math.abs(x - want(v)) < 1e-6, s"node $v: got $x want ${want(v)}")
    }
    // node 3 (degree 3) must outrank the pendant node 4 (degree 1)
    assert(got(3L) > got(4L))
  }

  test("normalized ranks average to 1 (mass conserved, no leak)") {
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (3L, 4L), (4L, 3L))
    val mean = Graph.pageRank(edgeDF(es), iters = 5)
      .agg(avg(col("rank_norm"))).head().getDouble(0)
    assert(math.abs(mean - 1.0) < 1e-6)
  }

  test("keeps nodes with out-edges but no in-edges at base rank") {
    // 1 and 2 both point at 3; 3 points back at 1 only. Node 2 has an
    // out-edge but NO in-edge: it must keep its (1-d)/n base rank every
    // iteration (and keep contributing) instead of vanishing after
    // iteration 1.
    val es = Seq((1L, 3L), (2L, 3L), (3L, 1L))
    val got = Graph.pageRank(edgeDF(es), iters = 5)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Double]("rank_norm")).toMap
    val want = refPageRank(es, 5, 0.85)
    assert(got.keySet === Set(1L, 2L, 3L))
    got.foreach { case (v, x) =>
      assert(math.abs(x - want(v)) < 1e-6, s"node $v: got $x want ${want(v)}")
    }
    // base rank, normalized: (1-d)/n * n = 0.15
    assert(math.abs(got(2L) - 0.15) < 1e-6)
  }

  test("bfsHops: shortest hops from a multi-source seed set, capped at maxHops") {
    import spark.implicits._
    // symmetric path 1-2-3-4-5 plus the disjoint pair 6-7
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (4L, 5L), (5L, 4L), (6L, 7L), (7L, 6L))
    val got = Graph.bfsHops(edgeDF(es), Seq(1L, 6L, 99L).toDF("v"), maxHops = 3)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("hops")).toMap
    // 99 is not a graph node (ignored); 5 is 4 hops out (absent at cap 3)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      6L -> 0L, 7L -> 1L))
  }

  test("bfsHops keeps the min distance when frontiers meet") {
    import spark.implicits._
    // cycle 1-2-3-4-1; seeds at 1 and 3 → every node within 1 hop
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (4L, 1L), (1L, 4L))
    val got = Graph.bfsHops(edgeDF(es), Seq(1L, 3L).toDF("v"), maxHops = 4)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Long]("hops")).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("rejects graphs with dangling nodes") {
    // 3 has an in-edge but no out-edge: rank mass would leak.
    val bad = edgeDF(Seq((1L, 2L), (2L, 1L), (2L, 3L)))
    val ex = intercept[IllegalArgumentException](Graph.pageRank(bad))
    assert(ex.getMessage.contains("dangling"))
  }

  test("labelPropagation splits bridge-joined triangles where CC merges them") {
    // two triangles {1,2,3} and {4,5,6} joined by the single bridge 3-4:
    // connectedComponents merges all six; majority-vote label propagation
    // keeps two communities because the bridge is outvoted.
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val sym = tri ++ tri.map(_.swap)
    val got = Graph.labelPropagation(edgeDF(sym), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(got) .size === 1, s"left triangle split: $got")
    assert(Set(4L, 5L, 6L).map(got).size === 1, s"right triangle split: $got")
    assert(got(1L) !== got(4L), s"communities merged across the bridge: $got")

    import spark.implicits._
    val cc = Dedup.connectedComponents(tri.toDF("a", "b"))
      .collect().map(_.getLong(1)).toSet
    assert(cc.size === 1, "CC must merge everything reachable")
  }

  test("knnEdges is symmetric and every node has outdegree >= k") {
    import spark.implicits._
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    // nCells = 1 → one cell → exact kNN candidates over all 20 vectors
    val e = Graph.knnEdges(emb, k = 3, nCells = 1).cache()
    val asym = e.select(col("dst").as("src"), col("src").as("dst"))
      .exceptAll(e).count()
    assert(asym === 0, "symmetrized edge list must contain every reverse edge")
    val minDeg = e.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(min(col("d"))).head().getLong(0)
    assert(minDeg >= 3)
    e.unpersist()
  }

  test("triangleStats counts triangles and coefficients on a known graph") {
    // Square 1-2-3-4 with diagonal 1-3: triangles (1,2,3) and (1,3,4).
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val es = und ++ und.map(_.swap)
    val got = Graph.triangleStats(edgeDF(es)).collect()
      .map(r => r.getAs[Long]("v") ->
        ((r.getAs[Long]("triangles"), r.getAs[Double]("clustering_coeff"))))
      .toMap
    assert(got(1L) == ((2L, 0.666667)) && got(3L) == got(1L))
    assert(got(2L) == ((1L, 1.0)) && got(4L) == ((1L, 1.0)))
  }

  test("personalized pagerank concentrates mass near the seed set") {
    import spark.implicits._
    // Two 3-cycles bridged by one edge pair; seed = node 1 only.
    val es = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L,
      4L -> 5L, 5L -> 6L, 6L -> 4L,
      3L -> 4L, 4L -> 3L)
    val seeds = Seq(1L).toDF("v")
    val r = Graph.personalizedPageRank(edgeDF(es), seeds)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // seed-side cycle outranks the mirror-position nodes of the far
    // cycle (5 fixed iterations: the mass WAVE is still circulating, so
    // only cross-cycle comparisons are stable, not "seed is max")
    assert(r(2L) > r(5L) && r(3L) > r(6L))
    assert(Seq(1L, 2L, 3L).map(r).sum > Seq(4L, 5L, 6L).map(r).sum)
    // independent dense replay: r' = 0.15·s + 0.85·Σ r/out
    val nodes = es.map(_._1).distinct.sorted
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    var ref = nodes.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap
    for (_ <- 1 to 5) {
      val contrib = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ref(s) / out(s) }.sum).toMap
      ref = nodes.map(v => v ->
        ((1 - 0.85) * (if (v == 1L) 1.0 else 0.0) +
          0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(r(v) - math.round(ref(v) * nodes.size * 1e6) / 1e6) < 1e-9,
        s"node $v: got ${r(v)}, want ${ref(v) * nodes.size}")
    }
  }

  test("personalized pagerank rejects a disjoint seed set") {
    import spark.implicits._
    val es = Seq(1L -> 2L, 2L -> 1L)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edgeDF(es), Seq(99L).toDF("v")).collect()
    }
  }

  test("linkPredict scores non-adjacent pairs by common-neighbor Jaccard and drops edges") {
    // Square 1-2-3-4-1: the two diagonals (1,3) and (2,4) each share 2
    // common neighbors and are non-adjacent; every edge pair is excluded.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val es = und ++ und.map(_.swap)
    val got = Graph.linkPredict(edgeDF(es), minCommon = 2L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === Set((1L, 3L), (2L, 4L)))
    // deg = 2 each: jaccard = 2 / (2 + 2 - 2) = 1.0
    assert(got((1L, 3L)) === ((2L, 1.0)))
    assert(got((2L, 4L)) === ((2L, 1.0)))
  }

  test("linkPredict: minCommon filters and adjacency always wins") {
    // Triangle 1-2-3 plus pendant 4-1: (2,4)/(3,4) share only node 1.
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val es = und ++ und.map(_.swap)
    assert(Graph.linkPredict(edgeDF(es), minCommon = 2L).collect().isEmpty)
    val loose = Graph.linkPredict(edgeDF(es), minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // triangle edges never appear even though each shares a neighbor
    assert(loose === Set((2L, 4L), (3L, 4L)))
  }

  test("linkPredict symmetrizes a directed/duplicated input itself") {
    // Same square as above but fed ONE direction per edge (and one edge
    // duplicated): the internal symmetrize+distinct must make the result
    // identical to the symmetric feed — no jaccard > 1, no missed pairs.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val directed = und :+ (1L, 2L)
    val got = Graph.linkPredict(edgeDF(directed), minCommon = 2L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet === Set((1L, 3L), (2L, 4L)))
    assert(got((1L, 3L)) === ((2L, 1.0)))
    assert(got((2L, 4L)) === ((2L, 1.0)))
  }

  test("triangleStats: triangle-free graph is all zeros; deg-1 coeff is 0") {
    // Path 1-2-3: no triangles; endpoints have degree 1.
    val und = Seq((1L, 2L), (2L, 3L))
    val es = und ++ und.map(_.swap)
    val got = Graph.triangleStats(edgeDF(es)).collect()
    assert(got.length == 3)
    assert(got.forall(r => r.getAs[Long]("triangles") == 0L &&
      r.getAs[Double]("clustering_coeff") == 0.0))
  }

  test("bfsHops laws on a random graph: seeds at 0, parent at h-1, deepening only grows") {
    import spark.implicits._
    val (e, es) = randomGraph
    val seeds = Seq(0L, 50L, 100L, 150L, 200L, 250L, 999L) // 999 is no node
    def hops(maxHops: Int): Map[Long, Long] =
      Graph.bfsHops(e, seeds.toDF("v"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (h3, h4) = (hops(3), hops(4))
    val inNbrs = es.groupMap(_._2)(_._1)
    assert(h4.collect { case (v, 0L) => v }.toSet ===
      seeds.filter(inNbrs.contains).toSet)
    // relaxation law: the nearest reached in-neighbour sits at exactly
    // h-1 (lower: v would have relaxed; none: where did h come from?)
    h4.foreach { case (v, h) =>
      if (h > 0) {
        val nearest = inNbrs(v).flatMap(h4.get)
        assert(nearest.nonEmpty && nearest.min === h - 1,
          s"node $v at $h hops, reached in-neighbours at ${nearest.sorted}")
      }
    }
    assert(h3.keySet.subsetOf(h4.keySet) && h4.size > h3.size,
      s"reached ${h3.size} at 3 hops, ${h4.size} at 4")
    h3.foreach { case (v, h) => assert(h4(v) <= h, s"node $v: $h -> ${h4(v)}") }
  }

  test("triangleStats laws on a random graph: id-reversal invariant, sum divisible by 3") {
    val (e, es) = randomGraph
    val maxId = es.map { case (a, b) => a max b }.max
    def perVertex(df: DataFrame, unlabel: Long => Long): Map[Long, Long] =
      Graph.triangleStats(df).collect()
        .map(r => unlabel(r.getLong(0)) -> r.getAs[Long]("triangles")).toMap
    val tri = perVertex(e, identity)
    // v -> maxId - v reverses every id comparison, so the (deg, id)
    // orientation counts each triangle at a different vertex
    val reversed = e.select((lit(maxId) - col("src")).as("src"),
      (lit(maxId) - col("dst")).as("dst"))
    assert(perVertex(reversed, maxId - _) === tri)
    val total = tri.values.sum
    assert(total > 0 && total % 3 == 0, s"sum of per-vertex counts = $total")
  }

  test("labelPropagation on a random graph: one row per node, every community a node") {
    val (e, es) = randomGraph
    val nodes = es.map(_._1).distinct.sorted
    val rows = Graph.labelPropagation(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).sorted.toSeq === nodes)
    assert(rows.map(_._2).toSet.subsetOf(nodes.toSet))
  }
}
