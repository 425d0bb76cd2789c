package graft.fetch

import java.io.ByteArrayOutputStream
import java.net.{URI, URLConnection}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService,
  Executors, Future, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}

import graft.model.Task

/** Fetch kernels (reference X1/X5/X8/X9, `data_downloader.py:62-70,83,152`).
  *
  * Side-effecting and non-deterministic, so they are deliberately NOT
  * Catalyst expressions: Catalyst may duplicate/reorder expressions past
  * filters, which must never happen to a network fetch (SURVEY.md §4.3).
  * They live in `mapPartitions` over typed Datasets — one connection-ish
  * context per partition, up to 8 requests in flight per partition,
  * results in input order. A file's body goes from its fetch straight
  * to its PUT and is never collected, so a partition holds at most 8
  * bodies at once. Retries under speculative execution stay safe
  * because the sink is PUT-style idempotent (key = strategy/name).
  *
  * Tests drive these with `file://` URLs only — no network (SURVEY §5.2).
  */
object Fetch {

  /** One fetched page/listing per task: (task, text | error). */
  case class PageResult(task: Task, text: String, error: String)

  /** One fetched artifact after its PUT: (task ID, URL, sink key,
    * error). Bodiless: the body lands in the sink inside the call that
    * fetched it ([[fetchAndPut]]). */
  case class Landed(ID: String, URL: String, key: String, error: String)

  /** `urllib.request.urlopen(url).read()` equivalent: whole-body read.
    * The reference reads bodies fully into memory (`data_downloader.py:69`)
    * — kept, but bounded per-partition rather than per-lambda.
    */
  def readBytes(url: String): Array[Byte] = {
    val conn: URLConnection = new URI(url).toURL.openConnection()
    conn.setConnectTimeout(15000)
    conn.setReadTimeout(60000)
    val in = conn.getInputStream
    try {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  def readText(url: String): String =
    new String(readBytes(url), "UTF-8")

  /** Fetch the page/listing text for each task (X1/X6 head of the LINKS
    * and FTP_FILES branches). Errors are captured per-row, not thrown —
    * they feed the E1/E2 error path.
    */
  def fetchPages(tasks: Dataset[Task]): Dataset[PageResult] = {
    implicit val enc = Encoders.product[PageResult]
    tasks.mapPartitions { it =>
      overlapped(it) { t =>
        try PageResult(t, readText(t.URL), null)
        catch { case e: Exception => PageResult(t, null, errMsg(e)) }
      }
    }
  }

  /** Fetch each (ID, URL, key) row's body and hand it to `put(key, body)`
    * in the same call (X9 kernel + K3 PUT, the reference's
    * fetch-then-`put_object` loop), so no body outlives its call. A fetch
    * error is captured in the row, as in [[fetchPages]]; a throw from
    * `put` fails the Spark task, so every row without an error is in the
    * sink.
    */
  def fetchAndPut(df: DataFrame)(put: (String, Array[Byte]) => Unit): Dataset[Landed] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("ID", "URL", "key").as[(String, String, String)]
      .mapPartitions { it =>
        overlapped(it) { case (id, url, key) =>
          val body = try Right(readBytes(url))
            catch { case e: Exception => Left(errMsg(e)) }
          body.foreach(put(key, _))
          Landed(id, url, key, body.left.toOption.orNull)
        }
      }
  }

  /** Calls of `f` kept running at once per partition. A fetch mostly
    * waits on its origin, so overlapping requests hides that wait at the
    * cost of a few idle threads and at most this many bodies held. */
  private[fetch] val InFlight = 8

  private lazy val pool: ExecutorService =
    Executors.newCachedThreadPool(new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-fetch-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** `it.map(f)` with up to [[InFlight]] calls of `f` running on the
    * fetch pool, results in input order. A throw from `f` (fatal errors
    * too) is rethrown from `next`; calls still running when the Spark
    * task ends are cancelled.
    */
  private[fetch] def overlapped[A, B](it: Iterator[A])(f: A => B): Iterator[B] = {
    val pending = new java.util.ArrayDeque[Future[B]](InFlight)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      pending.forEach(_.cancel(true))
    })
    def fill(): Unit =
      while (pending.size < InFlight && it.hasNext) {
        val a = it.next()
        pending.add(pool.submit(new Callable[B] { def call(): B = f(a) }))
      }
    new Iterator[B] {
      def hasNext: Boolean = { fill(); !pending.isEmpty }
      def next(): B = {
        if (!hasNext) throw new NoSuchElementException("overlapped")
        try pending.poll().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    }
  }

  private[fetch] def errMsg(e: Exception): String = {
    val m = if (e.getMessage == null) e.getClass.getSimpleName else e.getMessage
    s"${e.getClass.getSimpleName}: $m"
  }
}
