package etlbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The `ingest` workload: one cold hourly cycle of 15 sources against
  * the local origin, drained by one consumer at the default poll cap.
  *
  * Set-up: session start, the seeded inputs (catalog file and empty
  * workspace, one site for each cycle a run may make, timed for a
  * median) and a warm-up cycle of one poll.
  */
object Ingest {

  /** The hour every cycle fires at: LINKS and FTP pages list 13 hours. */
  val hour = 12

  /** How long the origin holds each response. */
  val originDelayMs = 10

  def run(spark: SparkSession, trace: Trace, o: Main.Opts, sessionS: Double): Main.Outcome = {
    val origin = new Origin(o.seed, originDelayMs, Host.cpus)
    try {
      origin.setHour(hour)
      val gens = (0 until (if (o.trace) 4 else Passes.limit)).map { i =>
        val g0 = System.nanoTime()
        val site = Download.site(o.work.resolve(s"site-$i"), Sources.model(o.seed, origin.baseUrl))
        (site, (System.nanoTime() - g0) / 1e9)
      }
      val model = origin.model
      val w0 = System.nanoTime()
      warmUp(spark, trace, o, model)
      val warmS = (System.nanoTime() - w0) / 1e9
      origin.reset()
      val setupS = sessionS + Stats.median(gens.map(_._2), minBeyond = 0) + warmS

      val problems = Seq.newBuilder[String]
      val cycles = Seq.newBuilder[Download.Cycle]
      /** One cycle on fresh site `i`, checked after it is timed. */
      def cycle(i: Int): Download.Cycle = {
        val s = gens(i)._1
        val c = Download.cycle(spark, trace, s, hour)
        problems ++= Checks.ingest(s, model, hour)
        cycles += c
        c
      }
      def pass(i: Int): Passes.Pass = {
        val c = cycle(i)
        Passes.Pass(c.cycleS, c.latencyS.values.toSeq, c.batchS)
      }

      // Untraced: see Passes.untraced. Traced: an untimed warm-up cycle
      // (the first whole cycle ran about a quarter slower than the next
      // ones), then untraced, traced and untraced cycles; the overhead's
      // base is the mean of the two untraced ones.
      val (passes, perLayer, spans) =
        if (!o.trace)
          (Passes.untraced(o.seconds)(pass), Map.empty[String, Double], Seq.empty[Trace.SpanStats])
        else {
          cycle(0)
          val before = Passes.timed(pass(1))
          origin.reset()
          trace.enable()
          val c = cycle(2)
          trace.settle()
          val counts = origin.counts
          val spans = trace.report()
          trace.disable()
          val after = Passes.timed(pass(3))
          val base = (before.wallS + after.wallS) / 2
          (Seq(before, after), layers(spans, c, base, counts, gens(2)._1, trace), spans)
        }
      val all = cycles.result()

      Main.Outcome(
        setupS = setupS,
        passes = passes,
        attempted = all.map(_.batchS.size).sum,
        failures = all.flatMap(_.failures),
        problems = problems.result(),
        sizes = Map("sources" -> model.sources.size, "due_sources" -> model.due.size,
          "failing_sources" -> model.failing.size, "hour" -> hour,
          "origin_delay_ms" -> originDelayMs,
          "queue_files" -> all.head.queueFiles, "cycles" -> all.size,
          "polls_per_cycle" -> all.head.batchS.size,
          "artifacts" -> model.sources.filter(_.live).map(Sources.landed(_, hour).size).sum,
          "session_s" -> sessionS, "warmup_s" -> warmS),
        perLayer = perLayer,
        spans = spans,
        names = Map("pass_s" -> "cycle_s", "latency_p50_s" -> "source_latency_p50_s",
          "service_p50_s" -> "batch_p50_s"),
        unitsMinBeyond = 7, serviceMinBeyond = 1)
    } finally origin.stop()
  }

  /** One poll over five sources of the model: one live LINKS,
    * LINKS_OVERWRITE, FTP_FILES and DIRECT source and one dead source.
    * Every branch, the fetch-error path, the alert write and the catalog
    * rewrite run once before anything is timed. A whole warm-up cycle
    * took twice as long and left the timed cycle no faster. */
  private def warmUp(spark: SparkSession, trace: Trace, o: Main.Opts, m: Sources.Model): Unit = {
    val pick = Seq("LINKS", "LINKS_OVERWRITE", "FTP_FILES", "DIRECT").flatMap(t =>
      m.sources.find(s => s.live && s.tpe == t)) ++ m.sources.find(s => s.due && s.dead)
    val site = Download.site(o.work.resolve("warmup"), m.copy(sources = pick))
    val c = Download.cycle(spark, trace, site, hour)
    require(c.failures.isEmpty, s"warm-up cycle failed: ${c.failures.mkString("; ")}")
  }

  private def layers(spans: Seq[Trace.SpanStats], c: Download.Cycle, untracedS: Double,
      counts: Origin#Counts, site: Download.Site, trace: Trace): Map[String, Double] = {
    val cycle = spans.find(_.kind == "cycle").get
    val batches = spans.filter(b => b.kind == "batch" && b.parent == cycle.id)
    val enqueue = spans.find(e => e.kind == "enqueue" && e.parent == cycle.id).get
    val objects = Checks.files(site.out).filterNot(_.startsWith("_manifest/"))
    val objectBytes = objects.map(k => Files.size(site.out.resolve(k))).sum
    val manifestFiles = Checks.dataFiles(site.out.resolve("_manifest")).size
    Map(
      "spark.jobs_per_batch" -> batches.map(_.jobs).sum.toDouble / batches.size,
      "spark.actions_per_batch" -> batches.map(_.actions).sum.toDouble / batches.size,
      "spark.stages" -> cycle.stages.toDouble, "spark.tasks" -> cycle.tasks.toDouble,
      "spark.job_s" -> cycle.jobS, "spark.planning_s" -> cycle.planningS,
      "spark.driver_gap_s" -> cycle.driverGapS, "spark.executor_cpu_s" -> cycle.cpuS,
      "spark.gc_s" -> cycle.gcS, "spark.shuffle_bytes" -> cycle.shuffleBytes.toDouble,
      "spark.storage_peak_mb" -> trace.storagePeakBytes / 1048576.0,
      "sources.enqueue_s" -> enqueue.wallS,
      "streaming.batch_calls" -> batches.size.toDouble,
      "streaming.batch_self_s" -> batches.map(_.selfS).sum,
      "fetch.requests" -> counts.requests.toDouble, "fetch.bytes" -> counts.bytes.toDouble,
      "fetch.not_found" -> counts.notFound.toDouble,
      "fetch.inflight_max" -> counts.inflightMax.toDouble, "fetch.wait_s" -> counts.waitS,
      "fetch.useful_ratio" -> objects.size.toDouble / math.max(counts.artifactRequests, 1),
      "sinks.objects_written" -> objects.size.toDouble,
      "sinks.bytes_written" -> objectBytes.toDouble,
      "sinks.manifest_files" -> manifestFiles.toDouble,
      "trace.overhead_ratio" -> (c.cycleS / untracedS - 1.0),
      "trace.unattributed_s" -> (cycle.wallS - enqueue.wallS - batches.map(_.selfS).sum)) ++
      CountingFileSystem.names.zip(cycle.fs).map { case (n, v) => s"fs.$n" -> v.toDouble }
  }
}
