package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Harvest
import graft.sources.{Catalog, Queue}
import graft.streaming.{BatchHandler, Workspace}

/** One hourly cycle of the download pipeline, driven only through the
  * library's public entry points: catalog → [[Harvest.tasks]] →
  * [[Queue.enqueue]] (one queue file per message, as SQS holds one
  * message per receipt) → [[BatchHandler.runOnce]] at its default poll
  * cap until the queue is empty.
  */
object Download {

  /** Timings of one cycle. `latencyS` maps each due source to the time
    * from fire to the ack of the batch that carried its message. */
  case class Cycle(cycleS: Double, enqueueS: Double, batchS: Seq[Double],
      latencyS: Map[String, Double], queueFiles: Int, failures: Seq[String])

  final class Site(val root: Path) {
    val catalog: Path = root.resolve("catalog.csv")
    val queue: Path = root.resolve("queue")
    val done: Path = root.resolve("done")
    val out: Path = root.resolve("out")
  }

  def site(root: Path, model: Sources.Model, flagged: Set[String] = Set.empty): Site = {
    Workspace.provision(root.toString)
    val s = new Site(root)
    Files.write(s.catalog, Sources.catalogCsv(model, flagged).getBytes(UTF_8))
    s
  }

  def cycle(spark: SparkSession, trace: Trace, site: Site, hour: Int): Cycle =
    trace.span(s"cycle-h$hour", "cycle") {
      val t0 = System.nanoTime()
      val queued = trace.span("enqueue", "enqueue") {
        val tasks = Harvest.tasks(Catalog.read(spark, site.catalog.toString),
          Sources.fireTs(hour), "hourly")
        val n = tasks.count().toInt
        if (n > 0)
          Queue.enqueue(tasks.repartitionByRange(n, col("ID")), site.queue.toString)
        n
      }
      val t1 = System.nanoTime()
      val queueFiles = listNames(site.queue).size
      val batches = Seq.newBuilder[(Double, Double, Set[String])]
      val failures = Seq.newBuilder[String]
      var seen = listNames(site.done)
      var i = 0
      // a failed poll leaves its claim in processing/; stop after as many
      // polls as there were messages so a failing batch cannot spin
      while (listNames(site.queue).nonEmpty && i < math.max(queueFiles, 1)) {
        val b0 = System.nanoTime()
        try trace.span(s"batch-$i", "batch") {
          BatchHandler.runOnce(spark, site.root.toString, Some(site.catalog.toString))
        } catch {
          case NonFatal(e) => failures += s"batch $i: ${e.getClass.getName}: ${e.getMessage}"
        }
        val b1 = System.nanoTime()
        val now = listNames(site.done)
        batches += (((b1 - b0) / 1e9, (b1 - t0) / 1e9, now -- seen))
        seen = now
        i += 1
      }
      val t2 = System.nanoTime()
      val done = batches.result().filter(_._3.nonEmpty)
      val latency = done.flatMap { case (_, ack, files) =>
        files.toSeq.flatMap(f => messageIds(site.done.resolve(f))).map(_ -> ack)
      }.toMap
      require(queued == queueFiles || queued == 0,
        s"enqueue wrote $queueFiles queue files for $queued messages")
      Cycle((t2 - t0) / 1e9, (t1 - t0) / 1e9, batches.result().map(_._1), latency,
        queueFiles, failures.result())
    }

  /** Visible (non-hidden, non-marker) regular files of a directory. */
  def listNames(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
      finally s.close()
    }

  /** The `ID` field of a queue message or an alert (JSON lines). */
  val idField = "\"ID\"\\s*:\\s*\"([^\"]*)\"".r

  private def messageIds(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.flatMap(l => idField.findFirstMatchIn(l).map(_.group(1)))
}
