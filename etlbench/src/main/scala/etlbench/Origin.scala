package etlbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process HTTP origin for the download workloads. It serves the
  * [[Sources]] model for the current hour on `127.0.0.1`, holding every
  * response for a fixed `delayMs` first: a local fetch otherwise costs
  * nothing, and a change to fetch concurrency could never show.
  *
  * Everything the origin sees is counted here, not in the pipeline:
  * requests, bytes sent, 404s, the in-flight high-water mark and total
  * service time.
  *
  * Its worker pool is daemon, so a harness that forgets [[stop]] still
  * exits.
  */
final class Origin(seed: Long, delayMs: Int, threads: Int) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"origin-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })
  server.setExecutor(pool)

  val baseUrl: String = {
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}/"
  }

  val model: Sources.Model = Sources.model(seed, baseUrl)
  private val byId = model.byId
  @volatile private var hour = 0

  /** The hour whose pages and bodies the origin serves. */
  def setHour(h: Int): Unit = hour = h

  val requests = new AtomicLong
  val artifactRequests = new AtomicLong
  val bytes = new AtomicLong
  val notFound = new AtomicLong
  val serviceNanos = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  /** Zero every counter (between set-up and measurement). */
  def reset(): Unit = {
    Seq(requests, artifactRequests, bytes, notFound, serviceNanos).foreach(_.set(0))
    inflightMax.set(0)
  }

  case class Counts(requests: Long, artifactRequests: Long, bytes: Long,
      notFound: Long, inflightMax: Int, waitS: Double)

  def counts: Counts = Counts(requests.get, artifactRequests.get, bytes.get,
    notFound.get, inflightMax.get, serviceNanos.get / 1e9)

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    try {
      Thread.sleep(delayMs.toLong)
      val path = ex.getRequestURI.getPath.stripPrefix("/")
      val (status, body, artifact) = respond(path) match {
        case Some((b, isArtifact)) => (200, b, isArtifact)
        case None => (404, "not found\n".getBytes(UTF_8), !path.endsWith("/"))
      }
      ex.sendResponseHeaders(status, body.length.toLong)
      val os = ex.getResponseBody
      try os.write(body) finally os.close()
      requests.incrementAndGet()
      if (artifact) artifactRequests.incrementAndGet()
      if (status == 404) notFound.incrementAndGet()
      bytes.addAndGet(body.length.toLong)
    } finally {
      inflight.decrementAndGet()
      serviceNanos.addAndGet(System.nanoTime() - t0)
      ex.close()
    }
  })

  /** Body for a request path and whether it is an artifact (not a page). */
  def respond(path: String): Option[(Array[Byte], Boolean)] = {
    val h = hour
    path.split("/").toList match {
      case "links" :: id :: Nil => source(id, "LINKS").map(s =>
        (Sources.linksPage(Sources.listedNames(s, h)).getBytes(UTF_8), false))
      case "over" :: id :: Nil => source(id, "LINKS_OVERWRITE").map(s =>
        (Sources.linksPage(Sources.overwriteNames(s)).getBytes(UTF_8), false))
      case "ftp" :: id :: Nil => source(id, "FTP_FILES").map(s =>
        (Sources.ftpListing(s, h).getBytes(UTF_8), false))
      case ("links" | "ftp") :: id :: name :: Nil =>
        source(id, "LINKS", "FTP_FILES")
          .filter(s => Sources.listedNames(s, h).contains(name))
          .map(s => (Sources.body(model, s, name, h), true))
      case "over" :: id :: name :: Nil => source(id, "LINKS_OVERWRITE")
        .filter(s => Sources.overwriteNames(s).contains(name))
        .map(s => (Sources.body(model, s, name, h), true))
      case ("direct" | "ftpd") :: id :: file :: Nil =>
        source(id, "DIRECT", "DIRECT_FTP").map(s =>
          (Sources.body(model, s, s"${s.id}_$file", h), true))
      case _ => None
    }
  }

  private def source(id: String, types: String*): Option[Sources.Source] =
    byId.get(id).filter(s => !s.dead && types.contains(s.tpe))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
