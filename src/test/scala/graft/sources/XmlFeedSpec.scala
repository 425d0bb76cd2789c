package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The XML feed source's contract: fixture parse + projection, entity
  * decoding done by the real parser, multi-file distributed scans, and
  * malformed-element quarantine (the Queue phantom-task rule applied to
  * XML).
  */
class XmlFeedSpec extends SparkSpec {

  test("fixture feed parses to download candidates with decoded entities") {
    val rows = XmlFeed.tasks(XmlFeed.read(spark)).orderBy("url").collect()
    assert(rows.length === 3)
    // the parser, not a regex, decodes &amp; — the query-string URL
    val vol = rows.find(_.getString(1).startsWith("vol.zip")).get
    assert(vol.getString(0) === "https://example.com/volumes/vol.zip?a=1&b=2")
    assert(vol.getString(1) === "vol.zip?a=1&b=2")
    assert(rows.map(_.getString(2)).sorted ===
      Array("2026-08-10", "2026-08-11", "2026-08-12"))
  }

  test("a directory of feed snapshots scans as one distributed source") {
    val dir = suiteDir("xmlfeed")
    def feed(name: String, locs: Seq[String]): Unit =
      Files.writeString(dir.resolve(name),
        "<urlset>" + locs.map(l =>
          s"<url><loc>$l</loc><lastmod>2026-01-01</lastmod></url>").mkString
          + "</urlset>")
    feed("a.xml", Seq("https://h/x/a1.csv", "https://h/x/a2.csv"))
    feed("b.xml", Seq("https://h/y/b1.csv"))
    val names = XmlFeed.tasks(XmlFeed.read(spark, dir.toString))
      .select("name").collect().map(_.getString(0)).toSet
    assert(names === Set("a1.csv", "a2.csv", "b1.csv"))
  }

  test("newSince consumes a growing feed incrementally by lastmod watermark") {
    val feed = XmlFeed.read(spark) // fixture lastmods: 08-10, 08-11, 08-12
    // INCLUSIVE boundary: lastmod is date-granular, so entries dated at
    // the watermark are kept (a same-day addition must never be skipped
    // silently; the D1 dup guard absorbs the redelivery)
    assert(XmlFeed.tasks(XmlFeed.newSince(feed, "2026-08-11")).count() === 2)
    assert(XmlFeed.tasks(XmlFeed.newSince(feed, "2026-08-12")).count() === 1)
    assert(XmlFeed.tasks(XmlFeed.newSince(feed, "2026-08-13")).count() === 0)
    // an entry with no lastmod is never silently skipped
    val dir = suiteDir("xmlinc")
    Files.writeString(dir.resolve("f.xml"),
      "<urlset><url><loc>https://h/z.csv</loc></url></urlset>")
    assert(XmlFeed.tasks(XmlFeed.newSince(
      XmlFeed.read(spark, dir.toString), "2026-08-12")).count() === 1)
  }

  test("a same-day late addition at the watermark is delivered, not lost") {
    // the exact scenario the strict-> boundary got wrong: poll a feed,
    // persist watermark = its max lastmod, then the publisher adds a
    // SECOND entry with that same (date-granular) lastmod
    val dir = suiteDir("xmlsameday")
    Files.writeString(dir.resolve("f.xml"),
      """<urlset><url><loc>https://h/a.csv</loc><lastmod>2026-08-14</lastmod></url></urlset>""")
    val wm = "2026-08-14" // persisted after the first poll
    Files.writeString(dir.resolve("f.xml"),
      """<urlset>
        |<url><loc>https://h/a.csv</loc><lastmod>2026-08-14</lastmod></url>
        |<url><loc>https://h/b.csv</loc><lastmod>2026-08-14</lastmod></url>
        |</urlset>""".stripMargin)
    val names = XmlFeed.tasks(XmlFeed.newSince(
        XmlFeed.read(spark, dir.toString), wm))
      .select("name").collect().map(_.getString(0)).toSet
    assert(names === Set("a.csv", "b.csv")) // b.csv delivered; a.csv redelivery absorbed downstream
  }

  test("FeedOffsets: re-polling an unchanged feed enqueues nothing") {
    val dir = suiteDir("feedoff")
    val feedPath = dir.resolve("f.xml").toString
    val offDir = dir.resolve("offsets").toString
    Files.writeString(Paths.get(feedPath),
      """<urlset>
        |<url><loc>https://h/a.csv</loc><lastmod>2026-08-13</lastmod></url>
        |<url><loc>https://h/b.csv</loc><lastmod>2026-08-14</lastmod></url>
        |</urlset>""".stripMargin)
    val first = FeedOffsets.poll(spark, feedPath, offDir, "feed-a")(_ => ())
    assert(first.count() === 2)
    // unchanged feed, new poll: the persisted mark (watermark + names
    // seen at it) filters everything — exact, not merely at-least-once
    assert(FeedOffsets.poll(spark, feedPath, offDir, "feed-a")(_ => ())
      .count() === 0)
  }

  test("FeedOffsets.poll advances the mark only AFTER enqueue succeeds") {
    val dir = suiteDir("feedoff3")
    val feedPath = dir.resolve("f.xml").toString
    val offDir = dir.resolve("offsets").toString
    Files.writeString(Paths.get(feedPath),
      """<urlset><url><loc>https://h/a.csv</loc><lastmod>2026-08-14</lastmod></url></urlset>""")
    // the caller's enqueue fails — the mark must NOT advance, so nothing
    // is silently lost: the next poll re-delivers the same entries
    intercept[RuntimeException] {
      FeedOffsets.poll(spark, feedPath, offDir, "f") { _ =>
        throw new RuntimeException("queue down")
      }
    }
    assert(FeedOffsets.read(spark, offDir, "f").isEmpty,
      "a failed enqueue must leave the mark untouched")
    var delivered = 0L
    FeedOffsets.poll(spark, feedPath, offDir, "f")(f => delivered = f.count())
    assert(delivered === 1L, "the failed poll's entries re-deliver")
    // and only now is the mark durable
    assert(FeedOffsets.read(spark, offDir, "f").get.watermark === "2026-08-14")
  }

  test("FeedOffsets: same-day addition delivered exactly once across polls") {
    val dir = suiteDir("feedoff2")
    val feedPath = dir.resolve("f.xml").toString
    val offDir = dir.resolve("offsets").toString
    Files.writeString(Paths.get(feedPath),
      """<urlset><url><loc>https://h/a.csv</loc><lastmod>2026-08-14</lastmod></url></urlset>""")
    assert(FeedOffsets.poll(spark, feedPath, offDir, "f")(_ => ())
      .count() === 1)
    // publisher adds b.csv under the SAME date-granular lastmod
    Files.writeString(Paths.get(feedPath),
      """<urlset>
        |<url><loc>https://h/a.csv</loc><lastmod>2026-08-14</lastmod></url>
        |<url><loc>https://h/b.csv</loc><lastmod>2026-08-14</lastmod></url>
        |</urlset>""".stripMargin)
    val second = FeedOffsets.poll(spark, feedPath, offDir, "f")(_ => ())
      .select("loc").collect().map(_.getString(0))
    assert(second.toSeq === Seq("https://h/b.csv")) // only the addition
    // and a third poll is quiet again
    assert(FeedOffsets.poll(spark, feedPath, offDir, "f")(_ => ())
      .count() === 0)
  }

  test("feed-driven harvest: XML feed → tasks → download pipeline → sink") {
    import graft.streaming.{DownloadPipeline, Workspace}
    val tmp = suiteDir("xmlharvest")
    val art = tmp.resolve("artifacts"); Files.createDirectories(art)
    Files.writeString(art.resolve("q1.csv"), "sym,px\nAAA,9.5")
    Files.writeString(art.resolve("q2.csv"), "sym,px\nBBB,1.5")
    val u = art.toUri.toString
    Files.writeString(tmp.resolve("feed.xml"),
      s"""<urlset>
         |<url><loc>${u}q1.csv</loc><lastmod>2026-08-14</lastmod></url>
         |<url><loc>${u}q2.csv</loc><lastmod>2026-08-14</lastmod></url>
         |</urlset>""".stripMargin)
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    val feedTasks = XmlFeed.toTasks(
      XmlFeed.read(spark, tmp.resolve("feed.xml").toString), "feed-a")
    val report = DownloadPipeline.processBatch(feedTasks, root)
    assert(report.downloaded === 2)
    assert(Files.readString(
      Paths.get(root, "out/LINKS_DIRECT/q1.csv")) === "sym,px\nAAA,9.5")
    assert(Files.readString(
      Paths.get(root, "out/LINKS_DIRECT/q2.csv")) === "sym,px\nBBB,1.5")
  }

  test("FeedPoller: feed → channel → pipeline, incremental across polls") {
    import graft.streaming.{BatchHandler, FeedPoller, Workspace}
    val tmp = suiteDir("feedpoll")
    val art = tmp.resolve("artifacts"); Files.createDirectories(art)
    Files.writeString(art.resolve("d1.csv"), "sym,px\nAAA,1.0")
    Files.writeString(art.resolve("d2.csv"), "sym,px\nBBB,2.0")
    val u = art.toUri.toString
    val feedPath = tmp.resolve("feed.xml").toString
    Files.writeString(Paths.get(feedPath),
      s"""<urlset><url><loc>${u}d1.csv</loc><lastmod>2026-08-14</lastmod></url></urlset>""")
    val root = tmp.resolve("ws").toString
    Workspace.provision(root)
    val chan = DirectoryChannel(s"$root/queue")
    val off = tmp.resolve("offsets").toString

    assert(FeedPoller.pollOnce(spark, feedPath, off, "feed-x", chan) === 1)
    // re-poll of the unchanged feed enqueues nothing
    assert(FeedPoller.pollOnce(spark, feedPath, off, "feed-x", chan) === 0)
    // the publisher announces a second artifact under the SAME lastmod
    Files.writeString(Paths.get(feedPath),
      s"""<urlset>
         |<url><loc>${u}d1.csv</loc><lastmod>2026-08-14</lastmod></url>
         |<url><loc>${u}d2.csv</loc><lastmod>2026-08-14</lastmod></url>
         |</urlset>""".stripMargin)
    assert(FeedPoller.pollOnce(spark, feedPath, off, "feed-x", chan) === 1)
    // drain the channel through the batch handler: both artifacts land
    val r1 = BatchHandler.runOnce(spark, root)
    assert(r1.downloaded === 2)
    assert(Files.readString(
      Paths.get(root, "out/LINKS_DIRECT/d1.csv")) === "sym,px\nAAA,1.0")
    assert(Files.readString(
      Paths.get(root, "out/LINKS_DIRECT/d2.csv")) === "sym,px\nBBB,2.0")
  }

  test("malformed elements yield null fields, not phantom rows with data") {
    val dir = suiteDir("xmlbad")
    Files.writeString(dir.resolve("feed.xml"),
      """<urlset>
        |<url><loc>https://h/ok.csv</loc><lastmod>2026-01-01</lastmod></url>
        |<url><notloc>garbage</notloc></url>
        |</urlset>""".stripMargin)
    val rows = XmlFeed.read(spark, dir.toString)
    // the no-loc element parses with null loc; tasks() filters it out —
    // same rule as the queue's corrupt-line quarantine
    assert(rows.count() === 2)
    val tasks = XmlFeed.tasks(rows).collect()
    assert(tasks.length === 1)
    assert(tasks.head.getString(1) === "ok.csv")
  }
}
