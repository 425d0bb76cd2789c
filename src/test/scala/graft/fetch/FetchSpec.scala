package graft.fetch

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

import graft.SparkSpec

/** [[Fetch.overlapped]]'s contract — input order, at most
  * [[Fetch.InFlight]] calls at once, a call's fatal error rethrown — and
  * the fused fetch-and-PUT call over it matching a plain sequential
  * fetch. `file://` URLs only. */
class FetchSpec extends SparkSpec {

  /** A hang fails the case instead of stalling the suite. */
  private def bounded[T](body: => T): T = {
    implicit val signaler: Signaler = ThreadSignaler
    TimeLimits.failAfter(Span(1, Minutes))(body)
  }

  test("overlapped returns results in input order") {
    bounded {
      val rnd = new scala.util.Random(12)
      val sleeps = Seq.fill(40)(rnd.nextInt(21).toLong)
      val out = Fetch.overlapped(sleeps.zipWithIndex.iterator) { case (ms, i) =>
        Thread.sleep(ms); i
      }.toList
      assert(out === (0 until 40).toList)
    }
  }

  test("overlapped keeps InFlight calls running at once, never more") {
    bounded {
      val all = new CountDownLatch(Fetch.InFlight)
      val running = new AtomicInteger()
      val peak = new AtomicInteger()
      val out = Fetch.overlapped((0 until 3 * Fetch.InFlight).iterator) { i =>
        peak.accumulateAndGet(running.incrementAndGet(), math.max)
        try {
          all.countDown()
          val met = all.await(30, TimeUnit.SECONDS)
          Thread.sleep(2)
          (i, met)
        } finally running.decrementAndGet()
      }.toList
      assert(out.map(_._1) === (0 until 3 * Fetch.InFlight).toList)
      assert(out.forall(_._2), s"${Fetch.InFlight} calls were never in flight at once")
      assert(peak.get === Fetch.InFlight)
    }
  }

  test("overlapped rethrows a call's fatal error instead of hanging") {
    class Fatal extends Error("fatal in call")
    bounded {
      val it = Fetch.overlapped((0 until 20).iterator) { i =>
        if (i == 5) throw new Fatal else i
      }
      assert((0 until 5).map(_ => it.next()) === (0 until 5))
      intercept[Fatal](it.next())
    }
  }

  test("fetchAndPut matches a sequential fetch and put row for row") {
    import spark.implicits._
    withTempDir("fetch") { dir =>
      val rows = (0 until 30).map { i =>
        val f = dir.resolve(s"f$i.bin")
        if (i % 3 != 2) Files.write(f, s"body-$i".getBytes("UTF-8"))
        (s"s${i % 4}", f.toUri.toString, s"LINK/f$i.bin")
      }
      val df = spark.sparkContext.parallelize(rows, 3).toDF("ID", "URL", "key")
      val sink = dir.resolve("sink").toString
      val want = rows.map { case (id, url, key) =>
        val body = try Right(Fetch.readBytes(url))
          catch { case e: Exception => Left(Fetch.errMsg(e)) }
        (Fetch.Landed(id, url, key, body.left.toOption.orNull),
          body.toOption.map(_.toSeq))
      }
      val got = bounded(Fetch.fetchAndPut(df) { (key, body) =>
        graft.sinks.ObjectSink.put(sink, key, body, overwrite = false)
      }.collect().toSeq)
      assert(got === want.map(_._1))
      assert(got.count(_.error != null) === 10)
      // every body that was fetched is in the sink under its key, and
      // nothing else is
      val stored = rows.map { case (_, _, key) =>
        val p = java.nio.file.Paths.get(sink, key)
        Option.when(Files.exists(p))(Files.readAllBytes(p).toSeq)
      }
      assert(stored === want.map(_._2))
    }
  }
}
