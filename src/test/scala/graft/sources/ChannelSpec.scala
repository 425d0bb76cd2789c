package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** TaskChannel contract over both shipped transports — the pipeline sees
  * only the trait, so a Kafka drop-in inherits these semantics — plus the
  * offset-log channel's Kafka-model specifics (key partitioning, offset
  * commits, consumer-group isolation, at-least-once redelivery).
  */
class ChannelSpec extends SparkSpec {
  import spark.implicits._

  private def tasks(n: Int, from: Int = 1) =
    (from until from + n)
      .map(i => (s"s-$i", s"file:///t$i", "DIRECT", s"p$i.bin", "0", 0))
      .toDF("ID", "URL", "TYPE", "PATTERN", "UTC", "attempts")

  private val transports: Seq[(String, String => TaskChannel)] = Seq(
    "directory" -> (d => DirectoryChannel(s"$d/q")),
    "offset-log" -> (d => OffsetLogChannel(s"$d/q", nPartitions = 3)))

  for ((name, mk) <- transports) {
    test(s"[$name] enqueue/dequeue round-trips tasks with the <=5 poll cap") {
      val dir = suiteDir("chan").toString
      val ch: TaskChannel = mk(dir)
      ch.enqueue(tasks(7))
      assert(ch.dequeue(spark).count() === 5) // reference poll cap default
      assert(ch.dequeue(spark, max = 0).count() === 7)
      val ids = ch.dequeue(spark, max = 0).select("ID")
        .collect().map(_.getString(0)).toSet
      assert(ids === (1 to 7).map(i => s"s-$i").toSet)
    }

    test(s"[$name] dequeueStream drains the channel through the streaming source") {
      val dir = suiteDir("chan-s").toString
      val ch: TaskChannel = mk(dir)
      ch.enqueue(tasks(3))
      val out = s"$dir/out"
      ch.dequeueStream(spark).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", s"$dir/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(spark.read.parquet(out).count() === 3)
    }
  }

  test("malformed queue lines quarantine instead of becoming phantom tasks") {
    val dir = suiteDir("chan-q").toString
    val ch = DirectoryChannel(s"$dir/q")
    ch.enqueue(tasks(2))
    // a torn/garbage line lands in the queue dir (partial write, bit rot)
    Files.write(java.nio.file.Paths.get(s"$dir/q/garbage.json"),
      "{this is not json\n".getBytes("UTF-8"))
    val polled = ch.dequeue(spark, max = 0)
    assert(polled.count() === 2, "corrupt line must not surface as a task")
    assert(polled.filter(polled("ID").isNull).count() === 0,
      "no all-null phantom rows")
    val q = Queue.quarantined(spark, s"$dir/q").collect().map(_.getString(0))
    assert(q.toSeq === Seq("{this is not json"))
    // streaming path drops it too
    val out = s"$dir/out"
    ch.dequeueStream(spark).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(spark.read.parquet(out).count() === 2)
  }

  test("offset-log: key partitioning is stable and offsets are contiguous") {
    val dir = suiteDir("olog").toString
    val ch = OffsetLogChannel(s"$dir/q", nPartitions = 3)
    ch.enqueue(tasks(6))
    ch.enqueue(tasks(6)) // same IDs again — must land in the same partitions
    val recs = ch.dequeueWithOffsets(spark, max = 0)
      .select("ID", "_partition", "_offset")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // same key → same partition, every time (Kafka key semantics)
    val partsPerKey = recs.groupBy(_._1).values.map(_.map(_._2).toSet)
    assert(partsPerKey.forall(_.size == 1))
    // per-partition offsets are 0..n-1 with no gaps across enqueue batches
    recs.groupBy(_._2).foreach { case (_, rs) =>
      val offs = rs.map(_._3).sorted
      assert(offs.toList === (0L until offs.length).toList)
    }
  }

  test("offset-log: dequeue does not consume; commit advances the group") {
    val dir = suiteDir("olog-c").toString
    val ch = OffsetLogChannel(s"$dir/q", nPartitions = 2)
    ch.enqueue(tasks(4))
    val poll1 = ch.dequeueWithOffsets(spark, max = 0)
    assert(poll1.count() === 4)
    // no commit → redelivery (at-least-once, the SQS/Kafka model)
    assert(ch.dequeueWithOffsets(spark, max = 0).count() === 4)
    ch.commit(poll1)
    assert(ch.dequeueWithOffsets(spark, max = 0).count() === 0)
    // new records after the commit point are delivered
    ch.enqueue(tasks(2, from = 10))
    val poll2 = ch.dequeueWithOffsets(spark, max = 0)
    assert(poll2.select("ID").as[String].collect().toSet
      === Set("s-10", "s-11"))
  }

  test("offset-log: a partial commit redelivers only the uncommitted rest") {
    val dir = suiteDir("olog-p").toString
    val ch = OffsetLogChannel(s"$dir/q", nPartitions = 1)
    ch.enqueue(tasks(5))
    val firstTwo = ch.dequeueWithOffsets(spark, max = 2)
    assert(firstTwo.count() === 2)
    ch.commit(firstTwo)
    val rest = ch.dequeueWithOffsets(spark, max = 0)
    assert(rest.select("ID").as[String].collect().toSet
      === Set("s-3", "s-4", "s-5"))
  }

  test("offset-log: lag reports and min-committed retention pruning") {
    val dir = suiteDir("olog-l").toString
    val fast = OffsetLogChannel(s"$dir/q", nPartitions = 2, group = "fast")
    val slow = OffsetLogChannel(s"$dir/q", nPartitions = 2, group = "slow")
    fast.enqueue(tasks(6))
    fast.enqueue(tasks(6, from = 20))
    // nothing committed: lag == hwm on every partition
    assert(fast.lag(spark).select("lag").as[Long].collect().sum === 12L)
    fast.commit(fast.dequeueWithOffsets(spark, max = 0))
    assert(fast.lag(spark).select("lag").as[Long].collect().sum === 0L)
    // slow group never committed → retention keeps everything
    assert(fast.pruneConsumed(Seq("fast", "slow")) === 0)
    slow.commit(slow.dequeueWithOffsets(spark, max = 0))
    // both caught up: consumed segments go, but the newest segment per
    // partition survives as the high-water-mark witness
    val pruned = fast.pruneConsumed(Seq("fast", "slow"))
    assert(pruned > 0)
    // offsets keep climbing from the preserved hwm — no collision with
    // committed ranges, so new records are still delivered
    fast.enqueue(tasks(3, from = 40))
    // group discovery: with no explicit list, retention protects every
    // group that has ever committed — neither group acked the new batch,
    // so pruning (which may now drop the superseded hwm witnesses) must
    // leave every unacked record visible to both groups
    fast.pruneConsumed()
    assert(fast.dequeue(spark, max = 0).count() === 3)
    assert(slow.dequeue(spark, max = 0).count() === 3)
  }

  test("offset-log: consumer groups are isolated") {
    val dir = suiteDir("olog-g").toString
    val a = OffsetLogChannel(s"$dir/q", nPartitions = 2, group = "a")
    val b = OffsetLogChannel(s"$dir/q", nPartitions = 2, group = "b")
    a.enqueue(tasks(3))
    val pa = a.dequeueWithOffsets(spark, max = 0)
    a.commit(pa)
    assert(a.dequeueWithOffsets(spark, max = 0).count() === 0)
    // group b never committed — sees everything from offset 0
    assert(b.dequeue(spark, max = 0).count() === 3)
  }
}
