package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The `lake` workload: passes over [[Lake.queries]], in list order, on a
  * private copy of the committed driver tables. Every pass reads the same
  * copy. The inputs are fixed: a seeded query order moved single query
  * times by up to 30% through JIT and codegen-cache effects, so the seed
  * is recorded and nothing more.
  *
  * Set-up: session start, the table copy and a warm-up pass over the
  * list, so the timed passes run on a warm JVM.
  */
object LakeRun {

  /** Reference row counts and digests, recorded from an oracle-green run. */
  val referenceFile = "lake_reference.json"

  def run(spark: SparkSession, trace: Trace, o: Main.Opts, sessionS: Double): Main.Outcome = {
    val c0 = System.nanoTime()
    val dir = copyTables(o.data, o.work.resolve("tables")).toString
    val copyS = (System.nanoTime() - c0) / 1e9
    val w0 = System.nanoTime()
    Lake.queries.foreach(q => Lake.run(spark, trace, dir, q))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + copyS + warmS

    val failures = Seq.newBuilder[String]
    var attempted = 0
    var outputs = Map.empty[String, org.apache.spark.sql.DataFrame]

    /** One pass: its wall, per-query walls and per-query output writes. */
    def pass(): Passes.Pass = trace.span("pass", "pass") {
      val p0 = System.nanoTime()
      val done = Lake.queries.flatMap { q =>
        attempted += 1
        try {
          val (t, df) = Lake.run(spark, trace, dir, q)
          outputs += q -> df
          Some((t.wallS, t.outputS))
        } catch {
          case NonFatal(e) =>
            failures += s"query $q: ${e.getClass.getName}: ${e.getMessage}"
            None
        }
      }
      Passes.Pass((System.nanoTime() - p0) / 1e9, done.map(_._1), done.map(_._2))
    }

    // Untraced: see Passes.untraced. Traced: an untimed second warm-up
    // pass (the first pass after set-up ran about a fifth slower than
    // the next ones), then untraced, traced and untraced passes; the
    // overhead's base is the mean of the two untraced ones.
    val (passes, perLayer, spans) =
      if (!o.trace)
        (Passes.untraced(o.seconds)(_ => pass()), Map.empty[String, Double],
          Seq.empty[Trace.SpanStats])
      else {
        pass()
        val before = Passes.timed(pass())
        trace.enable()
        val traced = pass()
        trace.settle()
        val spans = trace.report()
        trace.disable()
        val after = Passes.timed(pass())
        val base = (before.wallS + after.wallS) / 2
        (Seq(before, after), layers(spans, traced.wallS, base, trace), spans)
      }

    // outputs of the last pass, digested after all timing
    val got = outputs.flatMap { case (q, df) =>
      try Some(q -> Lake.digest(df))
      catch {
        case NonFatal(e) =>
          failures += s"digest $q: ${e.getClass.getName}: ${e.getMessage}"
          None
      }
    }
    val problems = o.record match {
      case Some(file) =>
        Files.write(file, Json.obj(got.map { case (q, (n, d)) =>
          q -> Map("rows" -> n, "digest" -> d) }).getBytes(UTF_8))
        Nil
      case None => Checks.lake(got, reference(o))
    }

    Main.Outcome(
      setupS = setupS,
      passes = passes,
      attempted = attempted,
      failures = failures.result(),
      problems = problems,
      sizes = Map("queries" -> Lake.queries.size,
        "passes" -> (passes.size + (if (o.trace) 2 else 0)),
        "tables" -> o.data.getFileName.toString,
        "session_s" -> sessionS, "copy_s" -> copyS, "warmup_s" -> warmS),
      perLayer = perLayer,
      spans = spans,
      names = Map("pass_s" -> "pack_s", "latency_p50_s" -> "query_p50_s",
        "service_p50_s" -> "output_p50_s"),
      unitsMinBeyond = 4, serviceMinBeyond = 4)
  }

  private def copyTables(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.iterator().forEachRemaining(f =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    finally s.close()
    dst
  }

  private def reference(o: Main.Opts): Map[String, (Long, String)] = {
    val text = new String(Files.readAllBytes(o.data.getParent.resolve(referenceFile)), UTF_8)
    val entry = "\"([a-z0-9_]+)\":\\{\"digest\":\"([^\"]*)\",\"rows\":(\\d+)\\}".r
    entry.findAllMatchIn(text).map(m => m.group(1) -> (m.group(3).toLong, m.group(2))).toMap
  }

  private def layers(spans: Seq[Trace.SpanStats], tracedS: Double, untracedS: Double,
      trace: Trace): Map[String, Double] = {
    val pass = spans.filter(_.kind == "pass").last
    val queries = spans.filter(q => q.kind == "query" && q.parent == pass.id)
    val ids = queries.map(_.id).toSet
    val build = spans.filter(s => s.kind == "build" && ids(s.parent))
    val output = spans.filter(s => s.kind == "output" && ids(s.parent))
    Map(
      "spark.jobs_per_batch" -> queries.map(_.jobs).sum.toDouble / queries.size,
      "spark.actions_per_batch" -> queries.map(_.actions).sum.toDouble / queries.size,
      "spark.stages" -> pass.stages.toDouble, "spark.tasks" -> pass.tasks.toDouble,
      "spark.job_s" -> pass.jobS, "spark.planning_s" -> pass.planningS,
      "spark.driver_gap_s" -> pass.driverGapS, "spark.executor_cpu_s" -> pass.cpuS,
      "spark.gc_s" -> pass.gcS, "spark.shuffle_bytes" -> pass.shuffleBytes.toDouble,
      "spark.storage_peak_mb" -> trace.storagePeakBytes / 1048576.0,
      "queries.build_s" -> build.map(_.wallS).sum,
      "queries.output_s" -> output.map(_.wallS).sum,
      "trace.overhead_ratio" -> (tracedS / untracedS - 1.0),
      "trace.unattributed_s" -> (pass.wallS - queries.map(_.wallS).sum)) ++
      CountingFileSystem.names.zip(pass.fs).map { case (n, v) => s"fs.$n" -> v.toDouble }
  }
}
