package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.ChangeFeed.Watermark

/** The applied-version watermark codec of the maintained views: the
  * three persisted tag forms round-trip, foreign or malformed tags are
  * ignored, the newest watermark wins, and the ratchet that keeps the
  * tag literals and the tick's head-snapshot read written once in
  * `src/main`.
  */
class WatermarkSpec extends AnyFunSuite {

  test("the 1-, 2- and N-source forms round-trip through their tags") {
    assert(Watermark.single.tag(Seq(7L)) === "=cdcv=7")
    assert(Watermark.pair.tag(Seq(4L, 3L)) === "=cdcv2=4-3")
    assert(Watermark.chain(3).tag(Seq(1L, 1L, 2L)) === "=cdcvn=1-1-2")
    for ((mark, vs) <- Seq(Watermark.single -> Seq(12L),
        Watermark.pair -> Seq(2L, 1L),
        Watermark.chain(2) -> Seq(5L, 9L),
        Watermark.chain(4) -> Seq(1L, 2L, 3L, 4L)))
      assert(mark.parse(Seq(mark.tag(vs))) === vs)
    assert(Watermark.pair.parse(Nil) === Seq(0L, 0L))
    assert(Watermark.chain(3).parse(Nil) === Seq(0L, 0L, 0L))
    intercept[IllegalArgumentException](Watermark.pair.tag(Seq(1L)))
  }

  test("wrong-arity, non-numeric and foreign tags are ignored") {
    val junk = Seq("=cdcv=1-2", "=cdcv=x", "=cdcv=", "=cdcv2=3", "=cdcv2=1-2-3",
      "=cdcv2=1-", "=cdcv2=a-b", "=cdcvn=1-2", "=cdcvn=1-2-3-4",
      "=sjfoldq=99", "=sjfold=99", "batch=5", "-", "cdc=8")
    assert(Watermark.single.parse(junk) === Seq(0L))
    assert(Watermark.pair.parse(junk) === Seq(0L, 0L))
    assert(Watermark.chain(3).parse(junk) === Seq(0L, 0L, 0L))
    // the forms never read each other's tags
    assert(Watermark.single.parse(Seq("=cdcv2=4-4", "=cdcvn=4")) === Seq(0L))
    assert(Watermark.chain(2).parse(Seq("=cdcv2=4-4")) === Seq(0L, 0L))
    assert(Watermark.pair.parse(junk :+ "=cdcv2=6-2") === Seq(6L, 2L))
  }

  test("the max across the tag and the carried witness wins") {
    // a squash's witness may carry an older watermark than the live tag,
    // or a newer one than a later commit's own (non-watermark) tag
    assert(Watermark.single.parse(Seq("=cdcv=3", "=cdcv=10", "=cdcv=9")) ===
      Seq(10L))
    assert(Watermark.single.parse(Seq("-", "=cdcv=4")) === Seq(4L))
    assert(Watermark.pair.parse(Seq("=cdcv2=2-1", "=cdcv2=4-3",
      "=cdcv2=3-3")) === Seq(4L, 3L))
    assert(Watermark.chain(3).parse(Seq("=cdcvn=2-2-2", "=cdcvn=4-2-2",
      "=cdcvn=1-1-2")) === Seq(4L, 2L, 2L))
  }

  test("the watermark literals and the head-snapshot read are each " +
      "written once in src/main") {
    import scala.jdk.CollectionConverters._
    val code = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("*", "//", "/*").exists(l.trim.startsWith) =>
            (p.toString, i + 1, l)
        }
      }.toSeq
    // every hit in one file, on one run of consecutive lines: one
    // definition, not copies of it
    for (marker <- Seq("\"=cdcv", "has no readable generation")) {
      val hits = code.filter(_._3.contains(marker))
      val where = hits.map(h => s"${h._1}:${h._2}: ${h._3.trim}")
      assert(hits.nonEmpty, s"$marker: no definition left")
      assert(hits.map(_._1).distinct.size === 1 &&
        hits.map(_._2).max - hits.map(_._2).min === hits.size - 1,
        s"$marker is written more than once:\n" + where.mkString("\n"))
    }
  }
}
