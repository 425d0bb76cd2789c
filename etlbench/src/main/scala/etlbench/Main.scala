package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload ingest|lake --seed N --seconds S --trace 0|1 --nproc N
  *      --work DIR --results DIR --data DIR [--record FILE]
  * }}}
  *
  * Prints a human-readable line per metric, then one JSON object as the
  * last line of stdout: `correct`, `attempted`, `failed` and `metrics`
  * (the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`). Everything it writes lives under `--work`, except one
  * results file under `--results`. The exit status is explicit: 0 when
  * a result was printed, 2 when the run could not produce one, which
  * includes an untraced run whose every timed pass lost more than
  * [[Passes.maxStealFrac]] of the host's CPU time to the hypervisor.
  * `--nproc` is the host's CPU count, recorded; the JVM may be given
  * fewer.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      nproc: Int, work: Path, results: Path, data: Path, record: Option[Path])

  /** When the JVM started; retries of a stolen pass stop in time. */
  val startNs: Long = System.nanoTime()

  /** What a workload hands back for reporting. `passes` are its untraced
    * timed passes. The two floors are the fewest samples one pass puts
    * beyond the median of its units and of its service times; [[Stats]]
    * refuses a median below them. */
  final case class Outcome(setupS: Double, passes: Seq[Passes.Pass], attempted: Int,
      failures: Seq[String], problems: Seq[String],
      sizes: Map[String, Any], perLayer: Map[String, Double], spans: Seq[Trace.SpanStats],
      names: Map[String, String], unitsMinBeyond: Int, serviceMinBeyond: Int)

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "latency_p50_s" -> "s",
    "service_p50_s" -> "s", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_batch" -> "count", "spark.actions_per_batch" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.job_s" -> "s",
    "spark.planning_s" -> "s", "spark.driver_gap_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes", "spark.storage_peak_mb" -> "MB",
    "sources.enqueue_s" -> "s", "streaming.batch_calls" -> "count",
    "streaming.batch_self_s" -> "s", "fetch.requests" -> "count", "fetch.bytes" -> "bytes",
    "fetch.not_found" -> "count", "fetch.inflight_max" -> "count", "fetch.wait_s" -> "s",
    "fetch.useful_ratio" -> "ratio", "sinks.objects_written" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.manifest_files" -> "count") ++
    CountingFileSystem.names.map(n => s"fs.$n" -> "count") ++ Seq(
    "queries.build_s" -> "s", "queries.output_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.unattributed_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case NonFatal(e) =>
          System.err.println(s"etlbench: run failed: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Seq("ingest", "lake").contains(workload), s"unknown workload $workload")
    Opts(workload, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("nproc").toInt, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("results")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      kv.get("record").map(Paths.get(_).toAbsolutePath))
  }

  def run(o: Opts): Int = {
    val load0 = Host.loadavg
    val cpu0 = Host.cpuTicks
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark)
    val out =
      try o.workload match {
        case "ingest" => Ingest.run(spark, trace, o, sessionS)
        case "lake"   => LakeRun.run(spark, trace, o, sessionS)
      } finally spark.stop()
    val load1 = Host.loadavg
    val cpu1 = Host.cpuTicks

    val steal = out.passes.map(_.stealFrac)
    // A traced run's end-to-end figures are printed, never reported.
    val kept = if (o.trace) out.passes else out.passes.filter(_.stealFrac <= Passes.maxStealFrac)
    if (kept.isEmpty)
      throw new IllegalStateException(s"no result: every timed pass lost more than " +
        s"${Passes.maxStealFrac} of the host's CPU time to the hypervisor (steal " +
        s"${steal.map(num).mkString(", ")}; wall " +
        s"${out.passes.map(p => num(p.wallS)).mkString(", ")} s)")

    val failedFrac = out.failures.size.toDouble / math.max(out.attempted, 1)
    val correct = out.problems.isEmpty && out.failures.isEmpty
    val e2e = Map(
      "setup_s" -> out.setupS,
      "pass_s" -> Stats.median(kept.map(_.wallS), minBeyond = 0),
      "latency_p50_s" -> Stats.median(kept.flatMap(_.units), out.unitsMinBeyond),
      "service_p50_s" -> Stats.median(kept.flatMap(_.service), out.serviceMinBeyond),
      "peak_rss_mb" -> Host.peakRssMb)

    val host = Map[String, Any]("nproc" -> o.nproc, "jvm_cpus" -> Host.cpus,
      "loadavg_before" -> load0, "loadavg_after" -> load1,
      "cpu_steal_frac" -> Host.stealFrac(cpu0, cpu1), "pass_wall_s" -> out.passes.map(_.wallS),
      "pass_steal_frac" -> steal,
      "max_pass_steal_frac" -> Passes.maxStealFrac, "passes_kept" -> kept.size,
      "seed" -> o.seed, "workload" -> o.workload, "trace" -> o.trace, "seconds" -> o.seconds) ++
      out.sizes
    println("host " + Json.obj(host))
    out.failures.foreach(f => println(s"failed $f"))
    out.problems.foreach(p => println(s"check $p"))
    // each shared metric under its per-workload name
    endToEnd.foreach { case (k, unit) =>
      println(f"metric ${out.names.getOrElse(k, k)}%-22s ${num(e2e(k))}%s $unit")
    }
    println(f"metric failed_frac            ${num(failedFrac)} ratio (${out.failures.size}/${out.attempted})")
    if (o.trace) perLayer.foreach { case (k, unit) =>
      println(f"layer  $k%-26s ${num(out.perLayer.getOrElse(k, 0.0))} $unit")
    }
    println(s"checks ${if (correct) "passed" else "FAILED"}")

    val metrics = (if (o.trace) perLayer.map { case (k, u) => (k, out.perLayer.getOrElse(k, 0.0), u) }
      else endToEnd.map { case (k, u) => (k, e2e(k), u) })
      .map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
    val result = Json.obj(Map("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failures.size, "metrics" -> Json.Ordered(metrics)))

    Files.createDirectories(o.results)
    val file = o.results.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
    Files.write(file, Json.obj(Map("host" -> host, "result" -> Json.Raw(result),
      "failures" -> out.failures, "problems" -> out.problems,
      "spans" -> out.spans.map(spanJson))).getBytes(UTF_8))
    println(result)
    0
  }

  def session(o: Opts): SparkSession = {
    val cores = Host.cpus.toString
    val b = SparkSession.builder()
      .appName(s"etlbench-${o.workload}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.Tables.nanosAsLongKey, "true")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config(graft.sinks.Scratch.DirKey, o.work.resolve("scratch").toString)
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def num(v: Double): String = String.format(Locale.ROOT, "%.6f", Double.box(v))

  private def spanJson(s: Trace.SpanStats): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "wall_s" -> s.wallS, "self_s" -> s.selfS, "jobs" -> s.jobs, "actions" -> s.actions,
    "stages" -> s.stages, "tasks" -> s.tasks, "job_s" -> s.jobS, "planning_s" -> s.planningS,
    "driver_gap_s" -> s.driverGapS, "executor_cpu_s" -> s.cpuS, "gc_s" -> s.gcS,
    "shuffle_bytes" -> s.shuffleBytes,
    "fs" -> CountingFileSystem.names.zip(s.fs).toMap)
}

/** Untraced timed passes and the CPU-steal gate on them. */
object Passes {

  /** One timed, untraced pass: its wall time, the per-item samples behind
    * the latency median (sources or queries), the per-step service times
    * (polls or queries), and the share of the host's CPU time the
    * hypervisor stole while it ran. */
  final case class Pass(wallS: Double, units: Seq[Double], service: Seq[Double],
      stealFrac: Double = 0.0)

  /** The most passes a run makes, and so the inputs a workload prepares. */
  val limit = 3

  /** A pass that lost a larger share of the host's CPU time to the
    * hypervisor is not reported. Steal marks a busy host: on a 4-CPU VM,
    * runs over 5% steal took 10-100% longer than runs under 1%. */
  val maxStealFrac = 0.05

  /** No retry starts unless it should end this long after JVM start. */
  val retryUntilS = 130.0

  /** `pass` run with the host's steal over its window recorded. */
  def timed(pass: => Pass): Pass = {
    val c0 = Host.cpuTicks
    val p = pass
    p.copy(stealFrac = Host.stealFrac(c0, Host.cpuTicks))
  }

  /** Passes `pass(0)`, `pass(1)`, ... (at most [[limit]]). After a pass
    * within the steal gate, another runs if it would end within
    * `seconds` of the first one's start; while every pass so far is over
    * the gate, another runs if it would end within [[retryUntilS]]. */
  def untraced(seconds: Int)(pass: Int => Pass): Seq[Pass] = {
    val m0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val done = Seq.newBuilder[Pass]
    var clean = false
    var i = 0
    var more = true
    while (more) {
      val p = timed(pass(i))
      done += p
      i += 1
      clean ||= p.stealFrac <= maxStealFrac
      more = i < limit && (
        if (clean) since(m0) + p.wallS <= seconds
        else since(Main.startNs) + 1.5 * p.wallS <= retryUntilS)
    }
    done.result()
  }
}

/** Host state recorded next to every result. */
object Host {
  /** CPUs the JVM uses (`run.py` caps them at half the host's). */
  def cpus: Int = Runtime.getRuntime.availableProcessors

  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case NonFatal(_) => "unavailable" }

  /** Aggregate `cpu` line of /proc/stat: (steal ticks, all ticks). */
  def cpuTicks: (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .split("\n").head.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of CPU time the hypervisor took from this machine during a run. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  /** Process high-water resident set (`VmHWM`), in MB. */
  def peakRssMb: Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => Double.NaN }
}

/** Just enough JSON writing for flat results (no dependency). */
object Json {
  final case class Raw(text: String)
  final case class Ordered(fields: Seq[(String, Any)])

  def obj(m: Map[String, Any]): String = value(Ordered(m.toSeq.sortBy(_._1)))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case Ordered(fs) => fs.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
