package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The driver registry is a flat `toMap` over the packs, so a name two
  * packs register silently keeps only the last one. These laws keep a
  * pack split or move from dropping or shadowing a query. No Spark
  * session: registering a query builds no plan.
  */
class QueryPackSpec extends AnyFunSuite {

  private val packs = SparkEntry.packs

  private def name(p: QueryPack) = p.getClass.getSimpleName.stripSuffix("$")

  test("no query or oracle name is registered by two packs") {
    for ((kind, keys) <- Seq[(String, QueryPack => Iterable[String])](
        "queries" -> (_.queries.keys), "oracles" -> (_.oracles.keys))) {
      val shared = packs.flatMap(p => keys(p).map(_ -> name(p)))
        .groupBy(_._1).filter(_._2.size > 1)
        .map { case (q, ps) => s"$q (${ps.map(_._2).mkString(", ")})" }
      assert(shared.isEmpty, s"$kind registered by two packs")
    }
  }

  test("every pack registers an oracle for each of its queries, and no other") {
    packs.foreach { p =>
      assert(p.queries.keySet == p.oracles.keySet,
        s"${name(p)}: queries without oracle " +
          s"${(p.queries.keySet -- p.oracles.keySet).toSeq.sorted}, " +
          s"oracles without query " +
          s"${(p.oracles.keySet -- p.queries.keySet).toSeq.sorted}")
    }
  }

  test("the registry holds all 258 driver queries") {
    assert(packs.map(_.queries.size).sum == 258)
    assert(SparkEntry.queries.size == 258)
    assert(SparkEntry.oracleSql.size == 258)
  }
}
