package graft.sinks

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Each [[put]] runs on an executor inside the call that fetched its body
  * ([[graft.fetch.Fetch.fetchAndPut]]): distributed, no body collected.
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

  /** Names-manifest table: one (prefix, name) row per object written
    * through this sink, appended as parquet under `<root>/_manifest`.
    * This is the D1 dup-guard's object-store-scale "existing" side: a
    * distributed parquet scan (the `prefix` equality filter prunes via
    * row-group stats; a real deployment would partition the table by
    * prefix/date), in place of a driver-side directory listing that
    * can't enumerate billions of keys. Append-only; duplicate rows from
    * batch re-delivery are harmless to the guard (anti-join/Bloom
    * membership). A periodic compaction job can rewrite it, same as any
    * append table.
    */
  def manifestPath(root: String): String = s"$root/_manifest"

  /** Append `keys` (`<prefix>/<name>`, each an object already PUT) to the
    * manifest as one delta file. Call only with a non-empty list: an
    * all-skipped/all-error batch must not conjure an empty delta file. On
    * a failed append the next batch simply re-fetches and skip-writes
    * (at-least-once), then re-appends. Also seeds the manifest with the
    * names a legacy sink's objects were found under (one bounded
    * directory listing, [[existingNames]]), so every later batch takes
    * the manifest path and the legacy objects stay guarded forever.
    */
  def appendManifest(spark: SparkSession, root: String,
      keys: Seq[String]): Unit = {
    import spark.implicits._
    keys.map { k => val i = k.lastIndexOf('/'); (k.take(i), k.drop(i + 1)) }
      .toDF("prefix", "name")
      .coalesce(1) // one delta file per append: names are poll-sized
      .write.mode("append").parquet(manifestPath(root))
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
    * schema: a delta dir holding only _SUCCESS (possible after an
    * all-error batch) must read as empty, not fail inference. If a crash
    * of the PRE-generation compactor's rename pair left only a displaced
    * `.old` dir behind, it is restored first — the guard never silently
    * loses legacy history to a half-finished old-protocol swap.
    */
  def manifestAll(spark: SparkSession, root: String): Option[DataFrame] = {
    val path = Paths.get(manifestPath(root))
    val old = path.resolveSibling(path.getFileName.toString + ".old")
    if (!Files.isDirectory(path) && Files.isDirectory(old))
      Files.move(old, path)
    val delta =
      if (Files.isDirectory(path))
        Some(spark.read.schema("prefix STRING, name STRING")
          .parquet(manifestPath(root)))
      else None
    val snap = Generations.read(spark, manifestSnapPath(root))
    (snap, delta) match {
      case (Some(s), Some(d)) => Some(s.unionByName(d))
      case (s, d)             => s.orElse(d)
    }
  }

  /** Compact the manifest: fold the accumulated delta files — one small
    * parquet file per batch — plus the previous snapshot into
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
    val old = path.resolveSibling(path.getFileName.toString + ".old")
    // restore a legacy (pre-generation protocol) half-finished swap
    if (!Files.isDirectory(path) && Files.isDirectory(old)) Files.move(old, path)
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
      else Some(spark.read.schema("prefix STRING, name STRING")
        .parquet(deltaFiles.map(_.toString): _*))
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
