package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

/** Partitioned object sink (reference K3, `data_downloader.py:102-107,132,
  * 170,195`): raw-blob fidelity — each artifact is written as its own
  * object at `<root>/<strategy-prefix>/<name>`, exactly like the
  * reference's `put_object` keys.
  *
  * Idempotent PUT semantics: write-to-temp + atomic move, so Spark task
  * retries/speculation can never leave torn objects, and re-delivery of a
  * task overwrites with identical content (at-least-once → effectively
  * once at the sink). `overwrite` decides per key whether an existing
  * object is replaced (the LINKS vs LINKS_OVERWRITE flag,
  * `data_downloader.py:72,219-220`); where it says no, keys that already
  * exist are skipped — completing the reference's unimplemented
  * duplicate-download guard (D1) at the storage layer.
  *
  * Each artifact [[put]] runs on an executor inside the call that fetched
  * its body ([[graft.fetch.Fetch.fetchAndPut]]): distributed, no body
  * collected. The ingest's poll-sized outputs (queue files, manifest
  * deltas, alerts, dead letters, quarantined lines, the flagged catalog)
  * are PUTs too, never a Spark write job: their bytes come from a
  * `to_json`/`to_csv` projection, and the one atomic move replaces
  * Hadoop's output commit (its `_temporary` dirs, renames and markers).
  */
object ObjectSink {

  /** PUT `body` at `<root>/<key>`. A failed write or move deletes its
    * temp object and throws. */
  def put(root: String, key: String, body: Array[Byte],
      overwrite: Boolean): Unit = {
    val target = Paths.get(root, key)
    Files.createDirectories(target.getParent)
    if (overwrite || !Files.exists(target)) {
      val tmp = Files.createTempFile(target.getParent, ".tmp-", ".part")
      var moved = false
      try {
        Files.write(tmp, body)
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        moved = true
      } finally if (!moved) Files.deleteIfExists(tmp)
    }
  }

  /** PUT `lines` as one new `<dir>/part-<uuid><ext>` object, each line
    * ended by `\n` as Spark's text and JSON writers end it. */
  def putPart(dir: String, lines: Iterable[String], ext: String): Unit =
    put(dir, s"part-${UUID.randomUUID}$ext",
      lines.map(_ + "\n").mkString.getBytes(UTF_8), overwrite = true)

  /** Names-manifest table: one (prefix, name) row per object written
    * through this sink, appended as one JSON-lines delta file per batch
    * under `<root>/_manifest`; [[compactManifest]] folds the deltas into
    * a parquet snapshot (Delta Lake's split: a JSON log with parquet
    * checkpoints). This is the D1 dup-guard's object-store-scale
    * "existing" side: a distributed scan, in place of a driver-side
    * directory listing that can't enumerate billions of keys.
    * Append-only; duplicate rows from batch re-delivery are harmless to
    * the guard (anti-join/Bloom membership).
    */
  def manifestPath(root: String): String = s"$root/_manifest"

  private val manifestSchema = "prefix STRING, name STRING"

  /** Append `keys` (`<prefix>/<name>`, each an object already PUT) to the
    * manifest as one JSON-lines delta file, one PUT. Call only with a
    * non-empty list: an all-skipped/all-error batch must not conjure an
    * empty delta file. On
    * a failed append the next batch simply re-fetches and skip-writes
    * (at-least-once), then re-appends. Also seeds the manifest with the
    * names a legacy sink's objects were found under (one bounded
    * directory listing, [[existingNames]]), so every later batch takes
    * the manifest path and the legacy objects stay guarded forever.
    */
  def appendManifest(spark: SparkSession, root: String,
      keys: Seq[String]): Unit = {
    import spark.implicits._
    putPart(manifestPath(root),
      keys.map { k => val i = k.lastIndexOf('/'); (k.take(i), k.drop(i + 1)) }
        .toDF("prefix", "name")
        .select(to_json(struct(col("prefix"), col("name")))).as[String].collect(),
      ".json")
  }

  /** Root of the manifest's compacted-snapshot generation table (pointer-
    * file committed via [[Generations]] — no directory renames, so the
    * compaction commit is safe on S3-class stores too). The full manifest
    * is snapshot ∪ delta dir.
    */
  def manifestSnapPath(root: String): String = s"$root/_manifest_snap"

  /** The whole manifest as one distributed frame — the committed snapshot
    * (if any compaction ever ran) unioned with the append-only delta dir.
    * None when neither exists yet (bootstrap/legacy sink). Explicit
    * schema: a delta dir emptied by a compaction must read as empty, not
    * fail inference. Deltas are JSON lines: a sink whose deltas are still
    * parquet files must be compacted by a build that reads them first.
    */
  def manifestAll(spark: SparkSession, root: String): Option[DataFrame] = {
    val delta =
      if (Files.isDirectory(Paths.get(manifestPath(root))))
        Some(spark.read.schema(manifestSchema).json(manifestPath(root)))
      else None
    val snap = Generations.read(spark, manifestSnapPath(root))
    (snap, delta) match {
      case (Some(s), Some(d)) => Some(s.unionByName(d))
      case (s, d)             => s.orElse(d)
    }
  }

  /** Compact the manifest: fold the accumulated delta files — one small
    * JSON-lines file per batch — plus the previous snapshot into
    * one deduplicated snapshot generation, published via [[Generations]]'
    * pointer-file commit, then delete the folded delta files. Run it like
    * any table-maintenance job (size- or count-triggered); the guard's
    * read path ([[manifestAll]]) is unchanged.
    *
    * No directory is ever renamed (the old protocol's rename-pair swap
    * is gone), so the commit is correct on S3-class object stores, which
    * have no atomic rename — the deployment target the reference's own
    * wiki assumes (`wiki.md:139-141`). Crash windows: before the pointer
    * commit → an orphaned generation [[Generations.gc]] removes, deltas
    * untouched; between commit and delta deletion → folded rows exist in
    * both snapshot and delta, harmless to the guard (anti-join/Bloom
    * membership) and removed by the next compaction. The delta file list
    * is captured BEFORE the fold, so batches appending concurrently are
    * never deleted unfolded.
    *
    * @return number of rows in the compacted snapshot. */
  def compactManifest(spark: SparkSession, root: String): Long = {
    val path = Paths.get(manifestPath(root))
    val deltaFiles: Seq[java.nio.file.Path] =
      if (!Files.isDirectory(path)) Seq.empty
      else {
        val s = Files.list(path)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
          }.toSeq
        } finally s.close()
      }
    val snap = Generations.read(spark, manifestSnapPath(root))
    val delta =
      if (deltaFiles.isEmpty) None
      else Some(spark.read.schema(manifestSchema)
        .json(deltaFiles.map(_.toString): _*))
    val all = (snap, delta) match {
      case (Some(s), Some(d)) => s.unionByName(d)
      case (Some(s), None)    => s
      case (None, Some(d))    => d
      case (None, None)       => return 0L
    }
    val c = Generations.writeAndCommit(spark, all.distinct(),
      manifestSnapPath(root))
    deltaFiles.foreach(Files.deleteIfExists(_))
    Generations.gc(spark, manifestSnapPath(root), keep = 2)
    c.rows
  }

  /** Names already present under `<root>/<prefix>/` — the D1 dup-guard's
    * "existing" side for the anti-join form. LEGACY/bootstrap path for
    * sinks predating the manifest: a driver-side listing only works when
    * the sink is a small local directory; [[manifestAll]] is the scale
    * path and wins whenever a manifest exists.
    */
  def existingNames(root: String, prefix: String): Seq[String] = {
    val dir = Paths.get(root, prefix)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".tmp-")).toSeq
      } finally s.close()
    }
  }
}
