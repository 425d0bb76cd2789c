package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.fetch.Fetch
import graft.model.{Schemas, Task}
import graft.operators.{Dedup, ErrorPath, Router}
import graft.functions.{Extract, Globs, Urls}
import graft.functions.expressions.UrlResolveExpr.urlResolveNative
import graft.sinks.ObjectSink
import graft.sources.Catalog
import graft.operators.Iterate.MaterializeOps

/** The download pipeline (reference `data_downloader.handler`, traced in
  * SURVEY.md §3.2), batch + streaming forms. One pass per batch:
  *
  *   tasks → route (R1) + E4 split: ONE collect of the poll's tasks
  *     → ONE page/listing fetch over the LINKS, LINKS_OVERWRITE and
  *       FTP_FILES tasks
  *     → ONE candidates frame (ID, URL, key, overwrite), key = prefix/name:
  *         LINKS / LINKS_OVERWRITE : anchors → resolve → basename
  *         FTP_FILES               : last-token names → glob → resolve
  *         DIRECT / DIRECT_FTP     : the task URL, name = PATTERN
  *                                   (reference's ID-as-URL bug
  *                                   corrected, SURVEY §7.0)
  *     → ONE dup-guard anti-join on key for the non-overwrite rows (D1;
  *       its per-prefix bootstrap/Bloom decisions are made once per batch
  *       from one manifest read, see [[processBatch]])
  *     → ONE fetch-and-PUT call per file, its bodiless rows collected once
  *     → ONE manifest append from the collected keys
  * errors, collected by the passes above → alert sink (E2) + catalog
  * Active:=2 applied to the live catalog (E1) + handled-error ack (the
  * reference's poison-pill ack, data_downloader.py:58: flagged sources
  * are NOT retried). Uncaught
  * batch failures leave their claimed files in processing/;
  * [[BatchHandler.recoverStale]] re-enqueues those with attempts+1 —
  * the visibility-timeout redelivery analog — and tasks arriving with
  * attempts >= maxAttempts dead-letter here (E4).
  *
  * All fetch I/O is inside mapPartitions (never a Catalyst expression);
  * the deterministic transform chain around it is plain DataFrame code so
  * Catalyst still prunes/pushes around the kernels.
  */
object DownloadPipeline {

  val maxAttempts = 5

  case class BatchReport(
      attempted: Long, downloaded: Long, skippedDuplicates: Long,
      errors: Long, deadLettered: Long)

  /** Above this many existing manifest rows for the batch's prefixes the
    * D1 guard switches from a planner-chosen anti-join to
    * [[graft.operators.Dedup.bloomDupGuard]]: sink history grows without
    * bound at object-store scale, so a forced broadcast of it is a
    * scale-killer (r7 verdict ask #5). Below it the existing side is a
    * tiny local relation the planner broadcasts on its own — no hint
    * needed.
    */
  val bloomGuardThreshold = 100000

  /** Every sink prefix, in a fixed order: the manifest pin counts each of
    * them whatever the batch's strategy mix, so its generated code is the
    * same for every batch. */
  private val sinkPrefixes = Schemas.sinkPrefix.values.toSeq.sorted

  /** Process one batch of task rows end-to-end. `root` is the workspace
    * (out/, alerts/, dead_letter/ live under it).
    *
    * A poll is small enough to collect (at most `pollCap` queue files, see
    * [[BatchHandler.runOnce]]), so its tasks are routed with ONE
    * `collect()`. The attempted and dead-letter counts, the unknown-type
    * errors and the guarded sink prefixes come from those rows, and the
    * rest of the batch is planned over them as a local relation. Every
    * artifact is then fetched and PUT in one call
    * ([[graft.fetch.Fetch.fetchAndPut]]); its bodiless rows are collected
    * once, and the manifest is appended from their keys, so every object
    * lands before its manifest row. Nothing is cached: each page and each
    * file is fetched by the one action that needs it.
    *
    * The D1 guard's "existing" side is the sink's names MANIFEST
    * ([[ObjectSink.manifestAll]]) — a prefix-pruned distributed parquet
    * scan appended by every successful write, never a driver-side listing
    * of the sink (which can't enumerate an object store). Its decisions
    * are made here, once per batch, from one row count per prefix the
    * batch can write without overwrite: a prefix with no manifest rows
    * (no manifest at all, or a legacy sink whose objects predate it) is
    * bootstrap-seeded from ONE bounded directory listing, so every later
    * batch takes the manifest path and pre-manifest objects stay guarded
    * forever; above [[bloomGuardThreshold]] existing rows the guard routes
    * through a Bloom pre-filter.
    *
    * Counts and error rows ride the passes that run anyway: the manifest
    * pin counts its rows per prefix, the page fetch observes its error
    * rows (ID, URL, REASON), the candidates frame its keys. Every error
    * list is bounded by the poll's size, so the alerts are written from
    * one local frame and the catalog is flagged by a map-only projection
    * over the collected IDs. Each step's Spark jobs carry an
    * `ingest: <step>` job description (see [[step]]).
    */
  def processBatch(tasks: DataFrame, root: String,
      catalogPath: Option[String] = None): BatchReport = {
    val spark = tasks.sparkSession
    import spark.implicits._
    val out = s"$root/out"

    // The pinned manifest snapshot is released when the batch ends,
    // failed or not.
    var manifest: Option[DataFrame] = None
    try {
      val routing = Router.route(tasks)
        .withColumn("attempts", coalesce(col("attempts"), lit(0)))
        .withColumn("REASON", Router.unknownType(col("TYPE")))
      val rows = step(spark, "route")(routing.collect()).toSeq
      val routed = spark.createDataFrame(rows.asJava, routing.schema)
      // E4: exhausted tasks dead-letter before any work is done.
      val (live, dead) = ErrorPath.splitRetryable(routed, maxAttempts)
      val (retryable, exhausted) =
        rows.partition(_.getAs[Int]("attempts") < maxAttempts)
      val routeErrors = retryable.filter(_.getAs[Boolean]("is_error"))
        .map(r => (r.getAs[String]("ID"), r.getAs[String]("URL"),
          r.getAs[String]("REASON")))
      val guardedPrefixes = retryable
        .filter(r => !r.getAs[Boolean]("is_error") && !r.getAs[Boolean]("overwrite"))
        .map(_.getAs[String]("strategy")).distinct
      if (exhausted.nonEmpty) step(spark, "dead letter") {
        dead.select(to_json(struct(col("ID"), col("URL"), col("TYPE"),
            col("PATTERN"), col("UTC"), col("attempts"))).as("value"))
          .write.mode("append").text(s"$root/dead_letter")
      }

      val valid = live.filter(!col("is_error"))
      val pageObs = Observation()
      val pages = Fetch.fetchPages(valid
          .filter(col("TYPE").isin("LINKS", "LINKS_OVERWRITE", "FTP_FILES"))
          .select(col("ID"), col("URL"), col("TYPE"), col("PATTERN"),
            col("UTC"), col("attempts"))
          .as[Task])
        .observe(pageObs, errorList(col("error").isNotNull, col("task.ID"),
          col("task.URL"), col("error")))
      // anchors and listing names in one branch off the one page fetch
      val globRegex = udf((p: String) => Globs.globToRegex(p))
      val isListing = col("TYPE") === "FTP_FILES"
      val paged = pages.filter(col("error").isNull)
        .select(col("task.ID").as("ID"), col("task.TYPE").as("TYPE"),
          col("task.URL").as("base"), col("task.PATTERN").as("pattern"),
          col("text"))
        .select(col("ID"), col("TYPE"), col("base"), col("pattern"),
          explode(when(isListing, Extract.listingNames(col("text")))
            .otherwise(Extract.anchorHrefs(col("text")))).as("ref"))
        .withColumn("URL", urlResolveNative(col("base"), col("ref")))
        .withColumn("name",
          when(isListing, col("ref")).otherwise(Urls.basename(col("URL"))))
        .filter(when(isListing, regexp_like(col("name"), globRegex(col("pattern"))))
          .otherwise(length(col("name")) > 0))
      val direct = valid.filter(col("TYPE").isin("DIRECT", "DIRECT_FTP"))
        .withColumnRenamed("PATTERN", "name")
      val prefix = typedLit(Schemas.sinkPrefix)
      val guardObs = Observation()
      val candidates = Seq(paged, direct)
        .map(_.select(col("ID"), col("URL"),
          concat(prefix(col("TYPE")), lit("/"), col("name")).as("key"),
          (col("TYPE") === "LINKS_OVERWRITE").as("overwrite")))
        .reduce(_ unionByName _)
        .dropDuplicates("key")
        .observe(guardObs, count(lit(1)).as("candidates"))

      // D1: one manifest read for the batch's guarded prefixes, its rows
      // counted per prefix as the pin runs. The localCheckpoint PINS the
      // batch-start snapshot and severs the plan's tie to the manifest
      // path, which this batch's own append writes to. Filter and counts
      // have one shape for every strategy mix, so the pin compiles once.
      val manifestObs = Observation()
      manifest = step(spark, "manifest pin") {
        (if (guardedPrefixes.isEmpty) None
        else ObjectSink.manifestAll(spark, out)).map { m =>
          val perPrefix = sinkPrefixes.map(p => count_if(col("prefix") === p).as(p))
          m.filter(array_contains(typedLit(guardedPrefixes), col("prefix")))
            .observe(manifestObs, perPrefix.head, perPrefix.tail: _*).materialized
        }
      }
      val counts = manifest.fold(Map.empty[String, Long]) { _ =>
        val got = manifestObs.get
        guardedPrefixes.map(p => p -> got(p).asInstanceOf[Long])
          .filter(_._2 > 0).toMap
      }
      val seeded = guardedPrefixes.filterNot(counts.contains).flatMap { p =>
        ObjectSink.existingNames(out, p).map(n => s"$p/$n")
      }
      if (seeded.nonEmpty)
        step(spark, "manifest seed")(ObjectSink.appendManifest(spark, out, seeded))
      val manifestKeys = if (counts.isEmpty) None else manifest.map(
        _.select(concat(col("prefix"), lit("/"), col("name")).as("key")))
      val existing = (manifestKeys ++ Option.when(seeded.nonEmpty)(
        seeded.toDF("key"))).reduceOption(_ unionByName _)
      val n = counts.values.sum + seeded.size
      val kept = existing match {
        case Some(ex) if n > bloomGuardThreshold =>
          Dedup.bloomDupGuard(candidates.filter(!col("overwrite")), ex, "key",
            expectedKeys = n).unionByName(candidates.filter(col("overwrite")))
        case Some(ex) =>
          candidates.join(ex.withColumnRenamed("key", "existing_key"),
            col("key") === col("existing_key") && !col("overwrite"), "left_anti")
        case None => candidates
      }

      // X9 fetch + K3 PUT in one call per file, once for every strategy;
      // the manifest append follows from the collected keys.
      val overwritePrefix = Schemas.sinkPrefix("LINKS_OVERWRITE") + "/"
      val landed = step(spark, "fetch+sink")(Fetch.fetchAndPut(kept) {
        (key, body) => ObjectSink.put(out, key, body, key.startsWith(overwritePrefix))
      }.collect()).toSeq
      val (stored, failed) = landed.partition(_.error == null)
      if (stored.nonEmpty) step(spark, "manifest append")(
        ObjectSink.appendManifest(spark, out, stored.map(_.key)))
      val fileErrors = failed.map(l => (l.ID, l.URL, l.error))

      // ---- error path: E2 alerts + E1 catalog flag ----------------------
      val errors = routeErrors ++ errorRows(pageObs.get("errors")) ++ fileErrors
      if (errors.nonEmpty) {
        step(spark, "alerts")(ErrorPath.alertJson(errors.toDF("ID", "URL", "REASON"))
          .select(col("alert_json")).coalesce(1)
          .write.mode("append").text(s"$root/alerts"))
        // E1: flags apply to the LIVE catalog (the reference's write-to-
        // side-path bug, data_downloader.py:48, is NOT reproduced): read the
        // latest state — accumulating flags from earlier batches — and swap
        // the updated file in place.
        catalogPath.foreach { path =>
          step(spark, "catalog flag")(Catalog.replaceInPlace(
            ErrorPath.flagBroken(Catalog.read(spark, path),
              errors.flatMap(e => Option(e._1)).distinct), path))
        }
      }

      BatchReport(rows.size, stored.size,
        skippedDuplicates =
          guardObs.get("candidates").asInstanceOf[Long] - landed.size,
        errors = errors.size, deadLettered = exhausted.size)
    } finally {
      manifest.foreach(_.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      })
    }
  }

  /** The (ID, URL, REASON) error rows where `isError` holds, gathered as
    * one list by the aggregate or observation that carries it. */
  private def errorList(isError: Column, id: Column, url: Column,
      reason: Column): Column =
    collect_list(when(isError, struct(id.as("ID"), url.as("URL"),
      reason.as("REASON")))).as("errors")

  private def errorRows(list: Any): Seq[(String, String, String)] =
    list.asInstanceOf[scala.collection.Seq[Row]].toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  /** Runs `body` with the Spark jobs it starts described as
    * `ingest: <name>`; AQE stage and broadcast jobs inherit the
    * description. The caller's description is restored after. */
  private[streaming] def step[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"ingest: $name")
    try body finally sc.setJobDescription(caller)
  }

  /** Streaming form (L2/K2/E3): file source on the queue dir, poll cap via
    * maxFilesPerTrigger, `Trigger.AvailableNow` for a drain-then-stop run,
    * checkpoint = the ack/commit point. Each micro-batch runs the same
    * batch body as above.
    */
  def runStream(spark: SparkSession, queueDir: String, root: String,
      checkpoint: String, catalogPath: Option[String] = None): Unit =
    runStream(spark, graft.sources.DirectoryChannel(queueDir), root,
      checkpoint, catalogPath)

  /** [[runStream]] over any [[graft.sources.TaskChannel]] — the transport
    * (directory today, Kafka in production) is a drop-in.
    */
  def runStream(spark: SparkSession, channel: graft.sources.TaskChannel,
      root: String, checkpoint: String, catalogPath: Option[String]): Unit = {
    val q = channel.dequeueStream(spark)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, root, catalogPath); ()
      }
      .start()
    q.awaitTermination()
  }
}
