package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.sinks.ObjectSink

/** Directory-backed task queue (reference K1/K2: SQS,
  * `data_harvester.py:38` → `data_downloader.py:210-216`).
  *
  * The queue is a directory of JSON-lines files: enqueue = append-write,
  * dequeue = read (+ `limit` for the reference's ≤5-per-poll cap), ack =
  * Structured Streaming checkpoint (streaming) or moving files to `done/`
  * (batch). A durable directory is Spark's native equivalent of the
  * reference's SQS handoff (SURVEY.md §3.2).
  */
object Queue {

  /** Enqueue task rows: one JSON object per line, the bytes `write.json`
    * would write (a null field is omitted). Each non-empty partition is
    * ONE [[graft.sinks.ObjectSink.put]] of `part-<partition>-<run>.json`,
    * no output-commit protocol: the name is deterministic, so a retried
    * task overwrites its own file, and name order is partition order.
    */
  def enqueue(tasks: DataFrame, queueDir: String): Unit = {
    val cols = Seq("ID", "URL", "TYPE", "PATTERN", "UTC")
    val run = java.util.UUID.randomUUID.toString
    tasks
      .withColumn("attempts", coalesce(
        tasks.columns.find(_ == "attempts").map(col)
          .getOrElse(lit(null).cast("int")), lit(0)))
      .select(to_json(struct((cols.map(col) :+ col("attempts")): _*)))
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) ObjectSink.put(queueDir,
          f"part-${TaskContext.getPartitionId()}%05d-$run.json",
          rows.map(_.getString(0) + "\n").mkString.getBytes(UTF_8),
          overwrite = true)
      }
  }

  private def taskCols = Schemas.task.fieldNames.toSeq.map(col)

  /** Parse JSON-lines text into the task-with-corrupt shape. Reading as
    * TEXT + `from_json` (rather than the json datasource with a corrupt
    * column) sidesteps Spark's query-only-corrupt-column restriction,
    * which otherwise fires whenever column pruning reduces the scan to
    * the corrupt column alone (e.g. any `.count()` on the filtered
    * frame). Blank lines are dropped, not quarantined.
    */
  private[graft] def parseTaskLines(raw: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    raw.filter(length(col("value")) > 0)
      .select(from_json(col("value"), schema,
        Map("columnNameOfCorruptRecord" -> Schemas.taskCorruptCol)).as("r"))
      .select(col("r.*"))

  /** Batch dequeue with the reference's poll cap (≤5/invocation,
    * `data_downloader.py:210-213`); `max <= 0` reads everything.
    * Malformed lines are EXCLUDED (never surfaced as all-null phantom
    * tasks); [[quarantined]] returns them for the error path.
    */
  def dequeue(spark: SparkSession, queueDir: String, max: Int = 5): DataFrame = {
    val df = parseTaskLines(spark.read.text(queueDir), Schemas.taskWithCorrupt)
      .filter(col(Schemas.taskCorruptCol).isNull)
      .select(taskCols: _*)
    if (max > 0) df.limit(max) else df
  }

  /** The raw malformed queue lines [[dequeue]] excluded — the poison
    * messages an operator inspects/alerts on (`raw` = the line verbatim).
    */
  def quarantined(spark: SparkSession, queueDir: String): DataFrame =
    parseTaskLines(spark.read.text(queueDir), Schemas.taskWithCorrupt)
      .filter(col(Schemas.taskCorruptCol).isNotNull)
      .select(col(Schemas.taskCorruptCol).as("raw"))

  /** Streaming dequeue: file source over the queue directory;
    * `maxFilesPerTrigger` bounds each micro-batch like the poll cap.
    * Same malformed-line exclusion as [[dequeue]].
    */
  def dequeueStream(spark: SparkSession, queueDir: String,
      maxFilesPerTrigger: Int = 5): DataFrame =
    parseTaskLines(
      spark.readStream
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(queueDir),
      Schemas.taskWithCorrupt)
      .filter(col(Schemas.taskCorruptCol).isNull)
      .select(taskCols: _*)
}
