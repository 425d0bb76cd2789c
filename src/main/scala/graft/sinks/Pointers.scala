package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic, overwritable small-file pointers — the missing "replace"
  * primitive the commit protocol's create-only rename cannot express.
  *
  * Why not delete-then-rename: between the delete and the rename a
  * reader sees NO file (constraints silently unenforced, a cursor reset
  * to 0), and a crash in that window loses the pointer permanently —
  * the r12 ADVICE finding against `setChecks` and
  * [[graft.streaming.ChangeFeed]]'s cursor. Hadoop's FileContext
  * OVERWRITE rename is no help: the default local implementation is
  * itself delete+rename.
  *
  * Scheme (the same public argument as [[Generations]], shrunk to one
  * mutable name): the logical pointer `<dir>/<name>` is a family of
  * IMMUTABLE versioned objects `<name>.v{%016d}`; read = newest
  * version's content, replace = create the next version (temp +
  * same-directory create-only rename — atomic on a filesystem, a
  * conditional PUT on S3). Every version is written whole or not at
  * all, so readers always observe SOME complete former value — never
  * absence, never a torn write. Writers racing the same next version
  * see one rename win; the loser bumps and re-publishes
  * (last-writer-wins, the semantic both call sites want: a monotone
  * cursor owned by one consumer group, a constraints declaration).
  *
  * Old versions are pruned opportunistically AFTER a successful
  * publish, always keeping the newest two — a reader that listed just
  * before a concurrent replace+prune can still open the runner-up, and
  * [[read]] retries on a vanished file anyway. A bare legacy file at
  * `<dir>/<name>` (the pre-r13 layout) reads as the oldest version and
  * is removed on the first versioned publish.
  */
object Pointers {

  /** Atomic CREATE-ONLY publish of `tmp` as `dst`: true iff this writer
    * won the name; `tmp` is left in place on failure (rename-like
    * contract — callers clean it up).
    *
    * Why not plain `fs.rename`: the protocol's locks all reduce to
    * "renaming onto an existing name must FAIL", which HDFS guarantees
    * server-side — but Hadoop's LOCAL rename is a non-atomic exists
    * check followed by POSIX rename(2), which silently REPLACES the
    * destination. Two writers racing the same commit name can therefore
    * BOTH report success (measured: 1934/2000 concurrent pairs on
    * ext4), the loser's pointer overwriting the winner's — a lost
    * update the optimistic-concurrency tests only catch under load. On
    * `file:` schemes the atomic no-replace primitive is link(2), which
    * EEXIST-fails as one syscall; everything else keeps `fs.rename`.
    *
    * Degraded mounts: a `file:`-scheme filesystem WITHOUT hard links
    * (vfat/exFAT, some FUSE/CIFS mounts) surfaces as a non-EEXIST
    * IOException from createLink — those fall back to `fs.rename`, i.e.
    * the pre-link behavior: still correct single-writer, racy only
    * under concurrent same-name publishes on that exotic mount (the
    * trade that keeps every environment committing).
    */
  def publishNew(fs: FileSystem, tmp: Path, dst: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException | _: java.io.IOException =>
          fs.rename(tmp, dst)
      }
    } else fs.rename(tmp, dst)

  private def versioned(name: String) = (s: String) =>
    s.startsWith(name + ".v") && s.drop(name.length + 2).matches("\\d{16}")

  private def vnum(name: String, s: String): Long =
    s.drop(name.length + 2).toLong

  /** Newest committed content of pointer `<dir>/<name>`, or None if it
    * was never written. Tolerates a concurrent [[replace]]'s prune
    * between listing and open by retrying against a fresh listing.
    */
  def read(fs: FileSystem, dir: Path, name: String): Option[String] = {
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      if (!fs.exists(dir)) return None
      val names = fs.listStatus(dir).map(_.getPath.getName)
        .filter(versioned(name)).sortBy(vnum(name, _))
      val target =
        if (names.nonEmpty) Some(new Path(dir, names.last))
        else { val legacy = new Path(dir, name)
          if (fs.exists(legacy)) Some(legacy) else None }
      target match {
        case None =>
          // r13-ADVICE race: a concurrent replace can publish the FIRST
          // versioned file and prune the legacy one between our listing
          // and the exists() probe — returning None here would read as
          // "never written" though a versioned successor exists (cursor
          // reset / unchecked commit downstream). Only return None once
          // a FRESH listing confirms genuine emptiness; otherwise loop
          // and read the successor.
          val fresh = fs.listStatus(dir).map(_.getPath.getName)
            .filter(versioned(name))
          if (fresh.isEmpty && !fs.exists(new Path(dir, name))) return None
        // else: retry against the new state
        case Some(p) =>
          try {
            val in = fs.open(p)
            return Some(try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString finally in.close())
          } catch {
            case _: java.io.FileNotFoundException => // pruned mid-read:
            // a newer version exists by definition — re-list and retry
          }
      }
    }
    throw new java.io.IOException(
      s"pointer $dir/$name kept vanishing between list and open")
  }

  /** Atomically replace pointer `<dir>/<name>` with `content`. At every
    * instant readers see a complete value (the old one until the new
    * version's rename lands); a crash anywhere loses nothing but a temp
    * file.
    */
  def replace(fs: FileSystem, dir: Path, name: String,
      content: String): Unit = {
    fs.mkdirs(dir)
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val names = fs.listStatus(dir).map(_.getPath.getName)
        .filter(versioned(name))
      val next = (0L +: names.map(vnum(name, _)).toSeq).max + 1
      val target = new Path(dir, f"$name.v$next%016d")
      val tmp = new Path(dir,
        s".$name.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (publishNew(fs, tmp, target)) {
        // publish done — prune superseded versions (keep newest 2 for
        // in-flight readers) and the legacy bare file, best-effort
        names.sortBy(vnum(name, _)).dropRight(1).foreach(n =>
          fs.delete(new Path(dir, n), false))
        val legacy = new Path(dir, name)
        if (fs.exists(legacy)) fs.delete(legacy, false)
        // crash debris: temp files from writers that died before their
        // rename. Age-gated to an hour so a LIVE concurrent replacer's
        // in-flight temp is never yanked (deleting it would only cost
        // that writer a retry, but why cause one).
        val ageCut = System.currentTimeMillis() - 60L * 60 * 1000
        fs.listStatus(dir).foreach { s =>
          val n = s.getPath.getName
          if (n.startsWith(s".$name.") && n.endsWith(".tmp") &&
              n != tmp.getName && s.getModificationTime < ageCut)
            fs.delete(s.getPath, false)
        }
        return
      }
      fs.delete(tmp, false) // lost the version race: bump and retry
    }
    throw new java.io.IOException(
      s"pointer $dir/$name: lost the publish race 20 times")
  }
}
