package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query to `outDir/<name>` parquet. Failures must be
    * VISIBLE in the artifacts: a query that fails to build or execute
    * gets (a) a row in failed_queries.json, (b) an `_error` marker file
    * inside its dump dir (so a half-written or stale dump can't read as
    * a clean result), and (c) a stdout FAIL line. In r7 four queries
    * silently vanished from CORRECTNESS because failures only went to
    * stderr. Returns the (name, message) failures.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val hashes = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        hashes += name -> rowSha256(spark, s"$outDir/$name")
      }
      catch { case NonFatal(e) =>
        val msg = failureMessage(e)
        println(s"[verify] FAIL $name: $msg")
        failed += name -> msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // remove any stale parquet from a prior green run so the driver
        // can't compare against an outdated dump
        d.listFiles().filter(f => f.getName.endsWith(".parquet") ||
          f.getName.startsWith("part-") || f.getName == "_SUCCESS")
          .foreach(_.delete())
        Files.writeString(Paths.get(s"$outDir/$name/_error"), msg)
      }
    }
    val failJson = failed
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"), failJson)
    val hashJson = hashes
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/row_sha256.json"), hashJson)
    failed.toSeq
  }

  /** A failure's cause on one line: its message (its class name when it
    * has none), first 3 lines joined. Bench records it after the
    * exception's class name. */
  def failureMessage(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(3).mkString(" | ")

  /** Builder-side content fingerprint of a dumped result, emitted to
    * `row_sha256.json` so the driver's hash path can be DIFFED against a
    * documented one when a hash-only mismatch appears (r12's
    * `mv_cdc_incremental_revenue`: rows+schema green, hash red, yet
    * value-exact vs DuckDB at three SFs). Canonical form: read the dump
    * back (fingerprint exactly what the driver will compare), project
    * columns in name order, render each row as its Spark JSON document,
    * sha256 each row, and combine the digests as an unsigned sum mod
    * 2^256 — a MULTISET fingerprint: order-independent (so no global
    * sort), duplicate-sensitive (sum, not xor), and computed
    * distributed with no driver collect, so it holds at any dump size
    * (the first cut collected+concatenated and broke the >2 GB dumps at
    * sf10).
    */
  def rowSha256(spark: SparkSession, dumpDir: String): String = {
    val df = spark.read.parquet(dumpDir)
    val mod = BigInt(1) << 256
    val sum = df.select(df.columns.sorted.map(df.col).toSeq: _*)
      .toJSON.rdd.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        var acc = BigInt(0)
        it.foreach { s =>
          md.reset()
          acc = (acc + BigInt(1, md.digest(s.getBytes("UTF-8")))) % mod
        }
        Iterator.single(acc)
      }.fold(BigInt(0))((a, b) => (a + b) % mod)
    f"$sum%064x"
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER overrides the master for MULTI-JVM smoke runs
    // (e.g. local-cluster[2,16,4096]): executors are then real separate
    // JVMs, so single-process assumptions — per-JVM caches, driver-
    // colocated scratch, localCheckpoint durability — get exercised by
    // the same oracle gate. Executor JVMs need the app classes and the
    // JDK17 module opens on their own command line (the sbt fork's
    // javaOptions only reach the driver).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      // Executor classpath = wherever THIS class was loaded from (the
      // sbt classes dir), not a hardcoded repo path: a clone rooted
      // elsewhere or a Scala bump would otherwise fail indirectly with
      // executor-side ClassNotFoundException. Env-overridable for
      // launchers whose code source is unresolvable (e.g. a wrapped
      // fat-jar loader).
      val execCp = sys.env.getOrElse("SPARK_GRAFT_EXEC_CLASSPATH",
        Option(SparkEntry.getClass.getProtectionDomain.getCodeSource)
          .map(cs => new java.io.File(cs.getLocation.toURI).getPath)
          .getOrElse("/root/repo/target/scala-2.13/classes"))
      builder
        .config("spark.executor.extraClassPath", execCp)
        .config("spark.executor.extraJavaOptions", opens)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional comma-separated filter for local iteration (driver sets no
    // filter and dumps everything), mirroring Bench. A blank value means
    // UNSET — "".split(",") would otherwise yield Set("") and silently
    // filter out every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = dump(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[verify] ${failed.size} failed of ${selected.size} run")
    spark.stop()
  }
}
