package graft.streaming

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.Schemas
import graft.sinks.ObjectSink
import graft.sources.Queue

/** Batch-mode downloader handler — the direct analog of the reference's
  * `data_downloader.handler` loop (`data_downloader.py:204-228`): take up
  * to `pollCap` queued task files, process them, then ack by moving the
  * consumed queue files to `done/` (batch E3; the streaming form acks via
  * checkpoint instead — SURVEY.md §2.1 E3).
  *
  * File-level claim/ack (move to `processing/` first, `done/` after)
  * mirrors the reference's visibility-timeout semantics: a crash between
  * claim and ack leaves files in `processing/` for a sweeper to re-queue
  * — at-least-once, made effectively-once by the idempotent object sink.
  *
  * A poll is small enough to collect: at most `pollCap` queue files. The
  * claimed files are read on the driver and parsed over a local frame,
  * which splits off the corrupt lines and starts no Spark job;
  * [[DownloadPipeline.processBatch]] then routes the tasks and fetches
  * and PUTs every artifact in one pass, caching nothing. The corrupt
  * lines are PUT to `quarantine/` after processing and before the ack.
  */
object BatchHandler {

  def runOnce(spark: SparkSession, root: String,
      catalogPath: Option[String] = None, pollCap: Int = 5): DownloadPipeline.BatchReport = {
    val queueDir = Paths.get(root, "queue")
    val processing = Paths.get(root, "processing")
    val done = Paths.get(root, "done")
    Files.createDirectories(processing); Files.createDirectories(done)

    // claim: move the pollCap lowest-named task files queue/ →
    // processing/. Name order, not listing order, so which tasks share a
    // poll is the same on every run: the enqueue's part-file names sort by
    // partition index, which is the enqueue's ID range order.
    val claimed = {
      val s = Files.list(queueDir)
      try {
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .filterNot(_.getFileName.toString.startsWith("_"))
          .toList.sortBy(_.getFileName.toString)
          .take(pollCap)
          .map { p =>
            val t = processing.resolve(p.getFileName)
            Files.move(p, t, StandardCopyOption.ATOMIC_MOVE)
            // stamp the CLAIM time: the visibility timeout in recoverStale
            // is measured from mtime, and the rename preserves the enqueue
            // mtime — without this, queue wait time counts against the
            // timeout and a backlogged task could be re-enqueued while
            // this batch is still processing it
            Files.setLastModifiedTime(t,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
            t
          }
      } finally s.close()
    }
    if (claimed.isEmpty)
      return DownloadPipeline.BatchReport(0, 0, 0, 0, 0)

    // The claim is read on the driver, as the reference's handler
    // receives its <= 5 message bodies, decoded leniently (an invalid
    // byte becomes U+FFFD, never an exception), and parsed with one
    // collect over a local frame. Malformed lines are dropped, and their
    // files still ack to done/ below — poison messages must not redeliver
    // forever (the SQS DLQ rationale). Because the ack MOVES the claimed
    // files out of the queue dir, Queue.quarantined(queueDir) would never
    // see them again: the corrupt raw lines are therefore PUT to an
    // explicit `quarantine/` dir BEFORE the ack, so every dropped poison
    // line has a durable, inspectable record (the DLQ-body analog). They
    // are written after processing: a batch that throws leaves its files
    // in processing/, and their redelivery quarantines them.
    import spark.implicits._
    val corruptCol = Schemas.taskCorruptCol
    val parsed = Queue.parseTaskLines(
      claimed.flatMap(p => new String(Files.readAllBytes(p), UTF_8).split("\r\n|\r|\n"))
        .toDF("value"), Schemas.taskWithCorrupt)
    val (corrupt, good) = parsed.collect().toSeq
      .partition(r => !r.isNullAt(r.fieldIndex(corruptCol)))
    val report = DownloadPipeline.processBatch(
      spark.createDataFrame(good.asJava, parsed.schema).drop(corruptCol),
      root, catalogPath)
    if (corrupt.nonEmpty) DownloadPipeline.step(spark, "quarantine") {
      ObjectSink.putPart(Paths.get(root, "quarantine").toString,
        corrupt.map(_.getAs[String](corruptCol)), ".txt")
    }

    // ack: processing/ → done/ (the delete_message analog)
    claimed.foreach { p =>
      Files.move(p, done.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    report
  }

  private val attemptsField = "\"attempts\"\\s*:\\s*(\\d+)".r

  /** Visibility-timeout redelivery sweeper (E4,
    * `cloudformation/lambda.cfn.yaml:28-36`): a crash between claim and
    * ack strands task files in `processing/`; re-enqueue them with
    * `attempts+1` so redeliveries count toward the DLQ threshold —
    * `processBatch` dead-letters tasks arriving with attempts >=
    * maxAttempts. (Handled errors never come back here: they are acked
    * after flag+alert, matching the reference's poison-pill ack.)
    * Returns the number of files re-enqueued.
    *
    * @param visibilityTimeoutMs only re-enqueue files whose mtime is at
    *        least this old — the SQS visibility-timeout analog. With the
    *        default 0 EVERY in-flight file is re-enqueued, which
    *        double-processes tasks a live batch is still working on:
    *        callers that can't guarantee no batch is active (single
    *        writer) MUST pass a timeout longer than a batch run.
    */
  def recoverStale(root: String, visibilityTimeoutMs: Long = 0L): Int = {
    val processing = Paths.get(root, "processing")
    val queueDir = Paths.get(root, "queue")
    if (!Files.isDirectory(processing)) return 0
    Files.createDirectories(queueDir)
    val cutoff = System.currentTimeMillis() - visibilityTimeoutMs
    val stale = {
      val s = Files.list(processing)
      try {
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .filterNot(_.getFileName.toString.startsWith("_"))
          // a live batch may ack (move away) a listed file between the
          // directory listing and this stat — treat vanished as not-stale
          // instead of aborting the whole sweep
          .filter { p =>
            try Files.getLastModifiedTime(p).toMillis <= cutoff
            catch { case _: java.nio.file.NoSuchFileException => false }
          }
          .toList
      } finally s.close()
    }
    // ISO-8859-1 maps every byte to one char and back, so a file that is
    // not valid UTF-8 is rewritten with every byte but `attempts` kept
    stale.foreach { p =>
      val bumped = new String(Files.readAllBytes(p), ISO_8859_1).linesIterator.map { line =>
        if (attemptsField.findFirstIn(line).isDefined)
          attemptsField.replaceAllIn(line,
            m => "\"attempts\":" + (m.group(1).toInt + 1))
        else if (line.endsWith("}"))
          line.dropRight(1) + ",\"attempts\":1}"
        else line
      }
      val out = queueDir.resolve(p.getFileName.toString + ".retry")
      Files.write(out, bumped.map(_ + "\n").mkString.getBytes(ISO_8859_1))
      Files.delete(p)
    }
    stale.size
  }
}
