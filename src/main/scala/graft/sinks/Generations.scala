package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, input_file_name, lit, sum, when}

/** Pointer-file ("generation") commit protocol for snapshot-replaced
  * tables — the object-store-safe alternative to rename-swapping a
  * directory in place.
  *
  * Why: `fs.rename(dirA, dirB)` is atomic on a real filesystem but does
  * not exist on S3-class object stores (the S3A "rename" is a per-object
  * copy+delete loop a reader can observe half-done). The reference's own
  * deployment assumes S3 (`wiki.md:139-141`), so at the stated 100 TB
  * design point any maintenance op that commits via directory rename is
  * wrong. The lakehouse answer (Delta/Iceberg): data lives in immutable,
  * uniquely-named generation directories that are NEVER renamed or
  * rewritten, and the commit is the creation of one tiny immutable
  * pointer object naming the live generation. Single-object creation is
  * atomic on both a local filesystem ([[Pointers.publishNew]]: temp +
  * link(2), because Hadoop's LOCAL rename silently replaces an existing
  * destination and would let two same-version publishes both "win") and
  * S3 (a PUT is all-or-nothing; readers see the old or the new object,
  * never bytes of both).
  *
  * Layout under `<table>/`:
  *  - `data/g{nnnnnnnn}-{uuid}/` — immutable parquet generation dirs
  *    (the numeric prefix is the version the writer EXPECTED when it
  *    wrote the data — advisory/debug only; under concurrent committers
  *    the published version may be higher)
  *  - `_commits/v{%016d}`       — one immutable pointer file per commit:
  *    `version gen rows tag [carried...]` on one line
  *
  * Protocol:
  *  - WRITE: materialize the new snapshot into a fresh `data/g…` dir,
  *    then publish `_commits/v{N+1}` (write `.tmp`, single-object rename).
  *  - READ: list `_commits`, take the max version, read its gen dir.
  *  - GC: delete commit files older than the newest `keep` and any gen
  *    dir no kept commit references — deletes only, idempotent, so a
  *    crashed GC just runs again.
  *
  * Crash safety, every window: a crash before the pointer publish leaves
  * an orphaned (unreferenced, invisible) gen dir for GC; a crash after
  * leaves stale-but-referenced history GC prunes later. At no point can a
  * reader observe a missing, partial, or duplicated snapshot — the
  * failure mode of the rename-pair swap this replaces.
  *
  * Concurrency: MULTIPLE writers per table are supported. The pointer
  * namespace is the lock — two writers racing to publish the same
  * version see exactly one publish succeed ([[Pointers.publishNew]]:
  * create-only, atomic-no-replace on every scheme; on S3 the equivalent
  * is a conditional PUT with If-None-Match: *). The loser re-reads `latest`,
  * bumps, and re-publishes its already-written generation under the next
  * version — blind snapshot/append commits never lose data, only order.
  * Read-modify-write commits (MERGE, squash, compaction) additionally
  * pass the version they READ as `expectedBase`: if someone else
  * committed meanwhile, the publish aborts with
  * [[CommitConflictException]] and the caller re-reads and redoes the
  * whole transform — optimistic concurrency, the Delta/Iceberg commit
  * loop.
  */
object Generations {

  /** `tag` is free metadata recorded in the pointer: "-" for plain
    * snapshot commits, a caller id (e.g. `batch=7`) for idempotent log
    * appends, [[SquashTag]] for a log-folding snapshot. `carried` (only
    * ever non-empty on snapshot-kind commits) preserves the newest
    * superseded append tag per writer prefix — the idempotence witness
    * that lets [[appendCommitted]] detect a replay without any
    * pre-snapshot commit file surviving GC.
    */
  final case class Commit(version: Long, gen: String, rows: Long,
      tag: String = "-", carried: Seq[String] = Nil)

  /** Tag marking a commit that supersedes ALL earlier commits of a log
    * table (the Delta-checkpoint analog): [[readLog]] starts here.
    */
  val SquashTag = "=squash"

  /** Thrown when a commit built on `expectedBase` finds the table has
    * advanced past it — the caller's read-modify-write is stale and must
    * be redone from the new head.
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** Thrown when a commit violates the table's declared constraints
    * ([[setChecks]]) or append-path schema enforcement. The offending
    * generation is never published — readers cannot observe the bad
    * rows — and its orphaned data dir is ordinary [[gc]] debris.
    */
  final class ConstraintViolationException(msg: String,
      val violations: Seq[(String, Long)] = Nil)
    extends RuntimeException(msg)

  /** A snapshot-KIND commit supersedes everything before it in the log
    * view: explicit squashes and plain `-` snapshot commits alike (a
    * MERGE or compaction rewrites the WHOLE table content, so commits
    * landing on a log table via [[mergeAndCommit]]/
    * [[graft.sinks.Compact.compactGenerations]] fold history exactly the
    * way a squash does — treating them otherwise pinned GC retention
    * forever and made [[readLog]] double-count the compacted rows).
    * ANY `=`-prefixed tag is snapshot-kind: `=squash`, and the
    * METADATA-snapshot form `=name=value` — a full-replace commit whose
    * tag records a caller watermark (e.g. a maintained view's applied
    * source version, [[graft.streaming.ChangeFeed]]'s `=cdcv=<v>`).
    * The `=` prefix is reserved ([[appendCommitted]] rejects it), so a
    * log append can never be mistaken for a replace.
    */
  def isSnapshotCommit(c: Commit): Boolean =
    c.tag == "-" || c.tag.startsWith("=")

  /** `=name=value` metadata snapshot tags: snapshot-kind AND carried
    * forward through later squashes (keyed on `=name` in the witness,
    * like any prefix=value tag), so a caller watermark survives folds
    * and GC the same way append-replay witnesses do.
    */
  private def isMetaTag(t: String): Boolean =
    t.startsWith("=") && t != SquashTag && t.lastIndexOf('=') > 0

  private def commitsDir(table: Path) = new Path(table, "_commits")
  private def dataDir(table: Path) = new Path(table, "data")
  private def commitName(v: Long) = f"v$v%016d"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Parsed commit files by qualified path: a commit file is CREATE-ONLY
  // by protocol ([[Pointers.publishNew]] never overwrites; gc only
  // removes the name from listings), so its parse never goes stale.
  // Every span walk (logCommits / latest / carryTags / appendWitnessed)
  // would otherwise re-open the same one-line files. Its `misses` count
  // the commit files opened and parsed.
  private[graft] val commitCache = new MetaCache[String, Commit](MetaCache.SmallEntries)

  private def parseCommit(fs: FileSystem, cd: Path, name: String): Commit = {
    val p = new Path(cd, name)
    commitCache(fs.makeQualified(p).toString) {
      val in = fs.open(p)
      val line = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next() finally in.close()
      val parts = line.trim.split(" ")
      Commit(parts(0).toLong, parts(1), parts(2).toLong,
        if (parts.length > 3) parts(3) else "-",
        if (parts.length > 4) parts.drop(4).toSeq else Nil)
    }
  }

  private def commitNames(fs: FileSystem, cd: Path): Array[String] =
    if (!fs.exists(cd)) Array.empty
    else fs.listStatus(cd).map(_.getPath.getName)
      .filter(_.matches("v\\d{16}"))
      .sortBy(_.drop(1).toLong)

  /** Every commit of the table, version-ascending. */
  def commits(spark: SparkSession, table: String): Seq[Commit] = {
    val cd = commitsDir(new Path(table))
    val fs = fsOf(spark, cd)
    commitNames(fs, cd).map(parseCommit(fs, cd, _)).toSeq
  }

  /** The newest committed generation, or None for an empty/new table.
    * Opens exactly ONE commit file (the max-named): [[writeAndCommit]]
    * calls this per append, so on a long-lived log table it must not be
    * O(commits) parses the way [[commits]] necessarily is.
    */
  def latest(spark: SparkSession, table: String): Option[Commit] = {
    val cd = commitsDir(new Path(table))
    val fs = fsOf(spark, cd)
    val names = commitNames(fs, cd)
    if (names.isEmpty) None else Some(parseCommit(fs, cd, names.last))
  }

  /** Path of a commit's generation directory. */
  def genPath(table: String, c: Commit): String =
    new Path(dataDir(new Path(table)), c.gen).toString

  // Inferred parquet schema per generation dir: a generation is
  // IMMUTABLE by protocol (uniquely named, written once; mutations commit
  // NEW generations), so the path alone is the key. Without it every
  // Generations.read/readLog/span read re-infers schemas from footers
  // (~60-70 ms per call, and a mergeSchema union read launches a
  // footer-reading Spark job), which the multi-tick IVM pipelines pay
  // dozens of times per run.
  private val genSchemaCache =
    new MetaCache[String, org.apache.spark.sql.types.StructType](MetaCache.SmallEntries)

  private def genSchema(spark: SparkSession, table: String,
      c: Commit): org.apache.spark.sql.types.StructType = {
    val p = genPath(table, c)
    genSchemaCache(p)(spark.read.parquet(p).schema)
  }

  /** Driver-side equivalent of a `mergeSchema` union read's inferred
    * schema for ADDITIVE evolution (the only kind the append gate
    * admits): fields merge left-to-right in commit order — left order
    * kept, new fields appended, nullability unioned (parquet-inferred
    * top-level fields are nullable anyway). None on a same-name type
    * clash — the caller falls back to Spark's own mergeSchema read,
    * which resolves the legal numeric promotions this helper does not
    * attempt.
    */
  private def mergeTypes(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x, y) if x == y => Some(x)
      case (x: StructType, y: StructType) => mergeStructs(x, y)
      case (ArrayType(xe, xn), ArrayType(ye, yn)) =>
        mergeTypes(xe, ye).map(ArrayType(_, xn || yn))
      case (MapType(xk, xv, xn), MapType(yk, yv, yn)) =>
        for { k <- mergeTypes(xk, yk); v <- mergeTypes(xv, yv) }
          yield MapType(k, v, xn || yn)
      case _ => None
    }
  }

  private def mergeStructs(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val bByName = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    val left: Array[Option[StructField]] = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case None => Some(fa.copy(nullable = true)) // absent in b: nulls
        case Some(fb) => mergeTypes(fa.dataType, fb.dataType)
          .map(t => StructField(fa.name, t, fa.nullable || fb.nullable))
      }
    }
    if (left.exists(_.isEmpty)) None
    else Some(StructType(left.map(_.get) ++
      b.fields.filterNot(f => aNames.contains(f.name))
        .map(_.copy(nullable = true))))
  }

  /** The merged schema of a commit span (what a mergeSchema read over
    * its generations infers), from cached per-generation schemas. None
    * when the span is empty or a type clash defeats the driver-side
    * merge.
    */
  private def spanSchema(spark: SparkSession, table: String,
      cs: Seq[Commit]): Option[org.apache.spark.sql.types.StructType] =
    if (cs.isEmpty) None
    else try {
      cs.map(c => Option(genSchema(spark, table, c)))
        .reduce((x, y) => for {a <- x; b <- y; m <- mergeStructs(a, b)}
          yield m)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Union read of a commit span's generations under the merged cached
    * schema — semantically the `mergeSchema` union read, minus the
    * per-call footer inference (and its Spark job). Degrades to the
    * real mergeSchema read when the driver-side merge cannot prove the
    * span's schemas compose (never load-bearing, like every metadata
    * cache here).
    */
  def readSpan(spark: SparkSession, table: String,
      cs: Seq[Commit]): DataFrame = {
    val paths = cs.map(genPath(table, _))
    spanSchema(spark, table, cs) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** The live log content's schema ([[readLog]]'s), without building a
    * frame — the append-path schema gate and [[readFiles]] need only
    * this. None when never committed (or the merge degraded).
    */
  def logSchema(spark: SparkSession,
      table: String): Option[org.apache.spark.sql.types.StructType] =
    spanSchema(spark, table, logCommits(spark, table))

  /** Read the current snapshot as a DataFrame (None: never committed). */
  def read(spark: SparkSession, table: String): Option[DataFrame] =
    latest(spark, table).map(c => spark.read
      .schema(genSchema(spark, table, c)).parquet(genPath(table, c)))

  /** Time travel: the snapshot as of commit `version` (None if that
    * version was never committed or its generation has been GC'd). What
    * history is travelable is exactly [[gc]]'s `keep` dial — the
    * Delta/Iceberg retention trade.
    */
  def readAt(spark: SparkSession, table: String,
      version: Long): Option[DataFrame] =
    commits(spark, table).find(_.version == version).flatMap { c =>
      val p = new Path(genPath(table, c))
      val fs = fsOf(spark, p)
      if (fs.exists(p))
        Some(spark.read.schema(genSchema(spark, table, c))
          .parquet(p.toString))
      else None
    }

  /** Change data feed between two committed versions (Delta's
    * `table_changes` analog): the row-level changeset
    * ([[graft.operators.Merge.diff]] — insert / update_postimage /
    * delete) that turns the `fromVersion` snapshot into the `toVersion`
    * one. None if either version is unknown or its generation has been
    * GC'd — CDC reach is exactly [[gc]]'s `keep` dial, same as time
    * travel. One key-shuffled full-outer join; no history replay.
    */
  def changesBetween(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String],
      includePreimages: Boolean = false): Option[DataFrame] =
    for {
      b <- readAt(spark, table, fromVersion)
      a <- readAt(spark, table, toVersion)
    } yield graft.operators.Merge.diff(b, a, keys,
      includePreimages = includePreimages)

  /** Split a tag into its witness key (the writer prefix of a
    * `prefix=value` tag; the whole tag otherwise) and, when the value
    * part is a decimal number, that number — the replay-ordering id of
    * `batch=<id>`-style streaming tags.
    */
  private def tagKeyId(t: String): (String, Option[Long]) = {
    val i = t.lastIndexOf('=')
    if (i <= 0) (t, None)
    else (t.substring(0, i),
      Option(t.substring(i + 1)).filter(_.matches("\\d{1,18}")).map(_.toLong))
  }

  /** The newest tag per writer prefix (`prefix=value` tags key on the
    * prefix) across `prev` (an earlier witness) overlaid by the live
    * tagged commits in commit order — bounded by the number of distinct
    * WRITERS, never by history length. [[appendCommitted]] enforces the
    * `prefix=value` form, so the witness stays writer-bounded; a BARE
    * tag (possible only via a direct non-snapshot [[writeAndCommit]])
    * keys on itself and is carried forever — don't mint unbounded bare
    * tags.
    */
  private def carryTags(prev: Seq[String], live: Seq[Commit]): Seq[String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    prev.foreach(t => m(tagKeyId(t)._1) = t)
    live.filterNot(isSnapshotCommit).foreach(c => m(tagKeyId(c.tag)._1) = c.tag)
    m.values.toSeq
  }

  /** Materialize `df` as the table's next generation and publish it.
    * The data write targets a fresh uniquely-named dir (never touching
    * the live generation) and counts its rows IN the write itself
    * (`observe` + CollectMetrics — committing is one data scan, not a
    * write-then-recount double scan); the publish is one temp-write +
    * SAME-DIRECTORY create-only publish ([[Pointers.publishNew]]) — the
    * only name-mutation in the protocol, and the one kind that is
    * atomic-equivalent on object stores too. On a publish collision with a concurrent writer the
    * already-written generation is re-published under the next free
    * version (bounded retries); when `expectedBase` is given and the
    * table advanced past it, [[CommitConflictException]] is thrown
    * instead and the orphaned generation is left for [[gc]].
    *
    * Snapshot-kind commits (`-`/[[SquashTag]]) automatically carry the
    * newest superseded append tag per writer prefix (see [[Commit]]) so
    * replay idempotence survives any later GC.
    */
  def writeAndCommit(spark: SparkSession, df: DataFrame,
      table: String, tag: String = "-",
      expectedBase: Option[Long] = None, maxRetries: Int = 20,
      options: Map[String, String] = Map.empty): Commit =
    writeAndCommitImpl(spark, df, table, tag, expectedBase, maxRetries,
      options, abortIfEmpty = false, preCommit = () => ()).get

  /** [[writeAndCommit]] that PUBLISHES NOTHING when the frame turns out
    * empty (r20, guide §1.2 fewer actions): the emptiness verdict rides
    * the write's own `observe` scan instead of a separate probe job, so
    * a witnessed-append tick is ONE action. An empty frame's generation
    * dir is deleted unpublished (invisible by protocol — same debris
    * class as a crash mid-write) and None returns. `preCommit` fires
    * after the data write proves non-empty and BEFORE anything becomes
    * visible (stats/bloom sidecars, pointer publish) — the
    * crash-injection seam StreamingIvm's replay contract needs: a kill
    * there leaves only unpublished debris, exactly like the pre-fusion
    * "before-append" point.
    */
  def writeAndCommitSkipEmpty(spark: SparkSession, df: DataFrame,
      table: String, tag: String = "-",
      expectedBase: Option[Long] = None, maxRetries: Int = 20,
      options: Map[String, String] = Map.empty,
      preCommit: () => Unit = () => ()): Option[Commit] =
    writeAndCommitImpl(spark, df, table, tag, expectedBase, maxRetries,
      options, abortIfEmpty = true, preCommit)

  private def writeAndCommitImpl(spark: SparkSession, df: DataFrame,
      table: String, tag: String,
      expectedBase: Option[Long], maxRetries: Int,
      options: Map[String, String], abortIfEmpty: Boolean,
      preCommit: () => Unit): Option[Commit] = {
    require(!tag.contains(" ") && tag.nonEmpty, s"tag must be space-free: '$tag'")
    val t = new Path(table)
    val fs = fsOf(spark, t)
    // Append-path schema enforcement (the Delta rule): a DELTA commit
    // may add columns (additive evolution — older generations surface
    // them as null) but must not CHANGE the type of a column the live
    // table already has, or every reader's mergeSchema union breaks. A
    // snapshot-kind commit rewrites the whole table, so it may reshape
    // the schema freely (Delta's overwriteSchema).
    if (!(tag == "-" || tag.startsWith("="))) {
      // schema only — the cached span merge (logSchema) answers this
      // with zero footer reads after first touch; a degraded merge
      // falls back to one mergeSchema inference, never skips the gate
      logSchema(spark, table)
        .orElse(readLog(spark, table).map(_.schema)).foreach { live =>
        val liveTypes = live.map(f => f.name -> f.dataType).toMap
        val clashes = df.schema.flatMap { f =>
          liveTypes.get(f.name).filter(_ != f.dataType)
            .map(t0 => s"${f.name}: $t0 -> ${f.dataType}")
        }
        if (clashes.nonEmpty) throw new ConstraintViolationException(
          s"append to $table changes column types (rewrite via a " +
            s"snapshot commit instead): ${clashes.mkString(", ")}")
      }
    }
    val baseVersion = latest(spark, table).map(_.version).getOrElse(0L)
    expectedBase.foreach { b =>
      if (baseVersion != b) throw new CommitConflictException(
        s"$table advanced to v$baseVersion past expected base v$b")
    }
    val gen = f"g${baseVersion + 1}%08d-${java.util.UUID.randomUUID.toString.take(8)}"
    val genDir = new Path(dataDir(t), gen)
    // in-flight marker: tells a concurrent gc this generation has a LIVE
    // writer even while the data write runs arbitrarily long (the gen
    // dir's own mtime stalls at creation — task output lands under
    // _temporary, which never touches the parent dir). A daemon thread
    // re-touches the marker so its mtime tracks wall-clock; gc treats a
    // fresh marker as "never collectable" and only a STALE one (writer
    // dead past the grace window) as crash debris.
    fs.mkdirs(dataDir(t))
    val marker = inflightMarker(t, gen)
    fs.create(marker, false).close()
    val toucher = startMarkerToucher(fs, marker)
    try {
      writeAndCommitInner(spark, df, t, fs, gen, genDir, tag, expectedBase,
        maxRetries, options, baseVersion, abortIfEmpty, preCommit)
    } finally {
      toucher.interrupt()
      fs.delete(marker, false)
    }
  }

  /** Declare CHECK constraints (Delta invariants) for a table: named
    * boolean SQL expressions every committed row must satisfy (NOT NULL
    * is `col IS NOT NULL`). Persisted in a `_constraints` file beside
    * the commit log, so EVERY writer through this protocol enforces
    * them — violation counting rides the commit's own single data scan
    * (extra `observe` metrics, no second pass), and a violating
    * generation is never published: the bad rows are unreadable, the
    * orphaned dir is gc debris, and the writer gets
    * [[ConstraintViolationException]] with per-check counts.
    * Replaces any previous declaration ATOMICALLY ([[Pointers]]): a
    * concurrent writer observes the old set or the new set, never none
    * — the delete-then-rename window (in which commits slipped through
    * unchecked, and a crash dropped the constraints for good) is gone.
    */
  def setChecks(spark: SparkSession, table: String,
      checks: Seq[(String, String)]): Unit = {
    checks.foreach { case (n, s) =>
      require(n.nonEmpty && !n.contains("\t") && !n.contains("\n"),
        s"check name must be tab/newline-free: '$n'")
      require(!s.contains("\n"), s"check sql must be one line: '$s'") }
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.replace(fs, t, "_constraints",
      checks.map { case (n, s) => s"$n\t$s\n" }.mkString)
  }

  /** The table's declared CHECK constraints (empty when none). */
  def getChecks(spark: SparkSession, table: String): Seq[(String, String)] = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_constraints").toSeq
      .flatMap(_.linesIterator)
      .filter(_.contains("\t")).map { l =>
        val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
      }
  }

  /** Declare the table's DATA-SKIPPING columns: every commit through
    * this protocol then records per-file min/max/nullCount for them
    * ([[FileStats]] — parquet footers only, no second data scan) in an
    * immutable `_stats/<gen>` file published before the commit pointer,
    * and [[readPruned]] plans range scans from that metadata alone.
    * Declared once per table like [[setChecks]] (atomic replace); tables
    * that never declare pay nothing. Columns missing from a given
    * generation's schema simply record no stats there (never prune).
    */
  def setStatsCols(spark: SparkSession, table: String,
      cols: Seq[String]): Unit = {
    cols.foreach(c => require(c.nonEmpty && !c.contains("\n") &&
      !c.contains(" "), s"stats column must be space/newline-free: '$c'"))
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.replace(fs, t, "_statscols", cols.mkString("\n"))
  }

  /** The table's declared data-skipping columns (empty when none). */
  def getStatsCols(spark: SparkSession, table: String): Seq[String] = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_statscols").toSeq
      .flatMap(_.linesIterator).filter(_.nonEmpty)
  }

  /** Declare a BUCKET-CLUSTERED layout for the table (the co-located
    * join primitive, composed INTO the commit protocol): every commit
    * from here on — appends, merges, squash/compaction folds — writes
    * its generation hash-clustered by `key` into `n` bucket files
    * (Spark's `bucketBy` naming), so the layout survives the table's
    * whole mutation lifecycle, and [[Bucketed.readGenerations]] can
    * register any committed span as a catalog table whose key-equality
    * joins plan ZERO exchanges. The shuffle is paid once per commit,
    * at write time, never again at read. Declare BEFORE the first
    * commit; the bucket key is a layout CONTRACT, and this method
    * ENFORCES it: re-declaring the same layout is an idempotent no-op,
    * but declaring any layout on a table that already has commits is
    * refused — those generations were written under a different (or
    * no) clustering, and [[Bucketed.registerGenerations]] would hand
    * the planner trusted bucket ids the files don't satisfy (silently
    * dropped join matches). To adopt or change a layout on a populated
    * table, rewrite its content into a fresh table declared up front.
    */
  def setBucketing(spark: SparkSession, table: String, key: String,
      n: Int): Unit = {
    require(key.nonEmpty && !key.contains("\n") && !key.contains(" ") &&
      !key.contains("`"),
      s"bucket key must be a space/newline/backtick-free column name: '$key'")
    require(n > 0, s"bucket count must be positive: $n")
    val t = new Path(table)
    val fs = fsOf(spark, t)
    val declared = getBucketing(spark, table)
    if (declared.contains((key, n))) return // idempotent re-declare
    if (commits(spark, table).nonEmpty) {
      val was = declared.map { case (k0, n0) => s"under layout ($k0, $n0)" }
        .getOrElse("unbucketed")
      throw new IllegalStateException(
        s"$table already has commits written $was — cannot declare " +
          s"($key, $n) now; declare bucketing BEFORE the first commit, " +
          "or rewrite the content into a fresh table declared up front")
    }
    // no data written yet: changing the declaration is harmless
    Pointers.replace(fs, t, "_bucketing", s"$key $n")
  }

  /** The table's declared bucket layout, if any. A malformed pointer
    * throws (naming the file) instead of reading as "undeclared": the
    * layout is a correctness contract — degrading would make the next
    * commit silently write unbucketed under a declared clustering.
    */
  def getBucketing(spark: SparkSession, table: String): Option[(String, Int)] = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_bucketing").map { txt =>
      def bad: Nothing = throw new IllegalStateException(
        s"corrupt _bucketing pointer under $table (content: '$txt', " +
          "expected '<key> <buckets>') — restore or remove the pointer " +
          "file before committing")
      txt.trim.split(" ") match {
        case Array(k, n) =>
          try (k, n.toInt)
          catch { case _: NumberFormatException => bad }
        case _ => bad
      }
    }
  }

  /** Declare per-file BLOOM columns (the third skipping tier — see
    * [[BloomStats]]): every commit from here on scans its OWN new data
    * once to build a bloom per (file, column), and
    * [[readPrunedByKeys]] consults them between the min/max range tier
    * and keep-everything. `fpp` is per-PROBE: a file with none of the K
    * probe keys survives with 1 − (1 − fpp)^K, so size fpp against the
    * expected probe cardinality (1e-6 for ~10k-key dynamic pruning).
    */
  def setBloomCols(spark: SparkSession, table: String, cols: Seq[String],
      fpp: Double = 1e-4): Unit = {
    cols.foreach(c => require(c.nonEmpty && !c.contains("\n") &&
      !c.contains(" "), s"bloom column must be space/newline-free: '$c'"))
    require(fpp > 0 && fpp < 0.5, s"fpp out of range: $fpp")
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.replace(fs, t, "_bloomcols", (fpp.toString +: cols).mkString("\n"))
  }

  /** The fpp that holds a no-match file's probe-set survival to
    * `missRate` at K expected probe keys: survival = 1 − (1 − fpp)^K ≈
    * K·fpp for small fpp, so fpp = missRate / K — clamped to [1e-7,
    * 1e-2] (below 1e-7 the filter bytes outgrow their skip value; above
    * 1e-2 even a single-key probe barely prunes).
    */
  def fppForProbes(expectedProbes: Long, missRate: Double = 0.05): Double = {
    require(expectedProbes > 0,
      s"expected probe cardinality must be positive: $expectedProbes")
    require(missRate > 0 && missRate < 0.5,
      s"miss rate out of range: $missRate")
    math.max(1e-7, math.min(1e-2, missRate / expectedProbes))
  }

  /** [[setBloomCols]] with fpp DERIVED from the workload's expected
    * probe cardinality instead of declared per-key: the survival math
    * is per-PROBE-SET (a file with none of the K keys survives with
    * 1 − (1 − fpp)^K), so a high-cardinality dynamic-pruning workload
    * that declares a comfortable-looking per-key fpp silently degrades
    * the tier to keep-everything — at fpp 1e-2 and K = 1000, every
    * no-match file still survives with p ≈ 1. Declaring the INTENT
    * (how many keys a typical [[readPrunedByKeys]] dim side probes)
    * makes the write path size the filters so a no-match file is kept
    * with at most `missRate`. The cardinality rides the `_bloomcols`
    * pointer beside the derived fpp (old pointers parse unchanged).
    */
  def setBloomColsForProbes(spark: SparkSession, table: String,
      cols: Seq[String], expectedProbes: Long,
      missRate: Double = 0.05): Unit = {
    cols.foreach(c => require(c.nonEmpty && !c.contains("\n") &&
      !c.contains(" "), s"bloom column must be space/newline-free: '$c'"))
    val fpp = fppForProbes(expectedProbes, missRate)
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.replace(fs, t, "_bloomcols",
      (s"$fpp $expectedProbes" +: cols).mkString("\n"))
  }

  /** The declared expected probe cardinality ([[setBloomColsForProbes]]),
    * or None for per-key fpp declarations.
    */
  def getBloomProbes(spark: SparkSession, table: String): Option[Long] = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_bloomcols")
      .flatMap(_.linesIterator.filter(_.nonEmpty).toSeq.headOption)
      .map(_.trim.split(" "))
      .filter(_.length == 2)
      .flatMap(a => scala.util.Try(a(1).toLong).toOption)
  }

  /** The table's declared bloom columns and fpp (empty when none). A
    * malformed pointer reads as UNDECLARED rather than throwing from
    * inside every subsequent commit: blooms are a conservative
    * optimization (no bloom ⇒ keep the file), so degrading is safe —
    * the same posture as the stats/bloom sidecar read paths.
    */
  def getBloomCols(spark: SparkSession, table: String): (Seq[String], Double) = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_bloomcols") match {
      case None => (Nil, 0.0)
      case Some(txt) =>
        val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
        // header is "<fpp>" or "<fpp> <expectedProbes>" (the probe
        // cardinality of setBloomColsForProbes rides beside the fpp)
        lines.headOption.map(_.trim.split(" ").head)
          .flatMap(h => scala.util.Try(h.toDouble).toOption)
          .filter(f => f > 0 && f < 0.5)
          .map(f => (lines.tail, f))
          .getOrElse((Nil, 0.0))
    }
  }

  // ------------------------------------------------ metadata checkpoint
  // The Delta-checkpoint analog for PLANNING, not data: prunePlan's
  // driver loop is O(total files) — fs.listStatus per generation plus a
  // sidecar parse per plan — which is the classic metastore bottleneck
  // at the 100 TB design point (10⁵-10⁶ files). checkpointMeta folds the
  // _stats sidecars AND the file inventory of the live span into ONE
  // committed parquet table under `_meta/<id>/`, and prunePlan then
  // evaluates the skipping predicates as a DISTRIBUTED filter over it:
  // driver work becomes O(commits + KEPT files) — the kept list must
  // exist on the driver regardless, since it is the scan's file list.
  // Commits newer than the checkpoint plan through the old driver path
  // (bounded by commits-since-checkpoint); tables below the dial
  // threshold skip the Spark job entirely (small-table fast path, the
  // IvfIndex.serveTopKVec auto-dial pattern).

  private def metaDir(table: Path) = new Path(table, "_meta")

  /** `kind` sentinel of a checkpointed BLOOM row (serialized filter in
    * the binary `bloom` column, hash domain in `mn`) — the stats-side
    * planner ([[metaPrune]]) must never mistake one for a min/max entry.
    */
  private val BloomRowKind = "__bloom__"

  /** Session-conf dial: distributed meta planning engages at this many
    * checkpointed files; below it the driver path wins (no job setup).
    */
  val MetaDialMinFilesKey = "graft.meta.minFiles"
  private val MetaDialMinFilesDefault = 512L

  /** A published metadata checkpoint: parquet under `_meta/<id>/` with
    * one row per (gen, file, col) stats entry plus one `__file__`
    * inventory sentinel per data file (so a file whose schema carries
    * none of the declared stats columns is still planned — kept).
    */
  final case class MetaCheckpoint(id: String, nFiles: Long,
      gens: Set[String])

  /** The current checkpoint, or None when absent/corrupt (corrupt
    * degrades to the driver path — planning is never REQUIRED to use
    * the checkpoint, only allowed to).
    */
  def readMetaCheckpoint(spark: SparkSession,
      table: String): Option[MetaCheckpoint] = {
    val t = new Path(table)
    val fs = fsOf(spark, t)
    Pointers.read(fs, t, "_metaptr").flatMap { txt =>
      val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
      lines.headOption.map(_.split(" ")) match {
        case Some(Array(id, n)) if n.forall(_.isDigit) && id.nonEmpty =>
          Some(MetaCheckpoint(id, n.toLong, lines.tail.toSet))
        case _ => None
      }
    }
  }

  /** Fold the live span's `_stats` sidecars + file inventory into a new
    * metadata checkpoint (maintenance-time; [[maintain]] calls it when
    * stats columns are declared). The sidecar rows are parsed
    * DISTRIBUTED (spark.read.text over the sidecar files — at 10⁶
    * files that is the bulk of the bytes); the inventory sentinels come
    * from one maintenance-time listing per generation, which is the
    * amortized checkpoint cost Delta pays too. Returns None when the
    * table has no committed content.
    */
  def checkpointMeta(spark: SparkSession,
      table: String): Option[MetaCheckpoint] = {
    import spark.implicits._
    val cs = logCommits(spark, table)
    if (cs.isEmpty) return None
    val t = new Path(table)
    val fs = fsOf(spark, t)
    val id = java.util.UUID.randomUUID.toString.take(12)
    // inventory sentinels: the complete per-gen data-file listing — a
    // present sidecar may legitimately miss files (a frame lacking every
    // declared column writes no lines), so coverage comes from the
    // listing, never the sidecar
    val inv = cs.flatMap { c =>
      val gd = new Path(genPath(table, c))
      fs.listStatus(gd).filter(s => s.isFile &&
        s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
        .map(s => (c.gen, s.getPath.getName, -1L, "__file__", "file",
          -1L, "", ""))
    }
    val withStats = cs.filter(c => fs.exists(FileStats.statsPath(t, c.gen)))
    val statRows =
      if (withStats.isEmpty)
        spark.emptyDataset[(String, String, Long, String, String, Long,
          String, String)]
      else
        spark.read.textFile(withStats.map(c =>
            FileStats.statsPath(t, c.gen).toString): _*)
          .select(org.apache.spark.sql.functions.input_file_name()
            .as("src"), col("value"))
          .as[(String, String)]
          .flatMap { case (src, line) =>
            val gen = src.substring(src.lastIndexOf('/') + 1)
            FileStats.parseLine(line).map { case (f, rows, c, st) =>
              (gen, f, rows, c, st.kind, st.nullCount, st.min, st.max)
            }
          }
    // bloom sidecars fold in beside the stats rows (one BloomRowKind row
    // per (gen, file, column), domain in `mn`, serialized filter in the
    // binary `bloom` column) so [[bloomRefine]] can plan the bloom tier
    // from ONE column-pruned checkpoint scan — the sidecar bytes, like
    // the stats lines, are read and parsed DISTRIBUTED (binaryFile scan,
    // executor-side parse); at 10⁶ files they are the bulk of the
    // checkpoint's bytes and the driver never holds them. Bound: a
    // generation's WHOLE sidecar is one binaryFile row, so it must fit
    // in an executor task (commit width × bloom bytes — ~100 MB at 256
    // files × 500 KB/1e-6-fpp blooms; the MaxItems cap and per-commit
    // file counts keep it there, and compaction re-sidecars smaller).
    val withBlooms = cs.filter(c =>
      fs.exists(BloomStats.bloomPath(t, c.gen)))
    val bloomRows =
      if (withBlooms.isEmpty)
        spark.emptyDataset[(String, String, Long, String, String, Long,
          String, String, Array[Byte])]
      else
        spark.read.format("binaryFile")
          .load(withBlooms.map(c =>
            BloomStats.bloomPath(t, c.gen).toString): _*)
          .select(col("path"), col("content"))
          .as[(String, Array[Byte])]
          .flatMap { case (src, bytes) =>
            val gen = src.substring(src.lastIndexOf('/') + 1)
            BloomStats.parseBytes(bytes).iterator.flatMap(_.iterator)
              .map { case ((f, c), (d, b)) =>
                (gen, f, -1L, c, BloomRowKind, -1L, d, "", b)
              }
          }
    val dir = fs.makeQualified(new Path(metaDir(t), id))
    statRows.union(inv.toDS())
      .map { case (g, f, r, c, k, n, mn, mx) =>
        (g, f, r, c, k, n, mn, mx, null: Array[Byte]) }
      .union(bloomRows)
      .toDF("gen", "file", "rows", "col", "kind", "nulls", "mn", "mx",
        "bloom")
      .write.mode("overwrite").parquet(dir.toString)
    val ptr = (s"$id ${inv.size}" +: cs.map(_.gen)).mkString("\n")
    Pointers.replace(fs, t, "_metaptr", ptr)
    Some(MetaCheckpoint(id, inv.size.toLong, cs.map(_.gen).toSet))
  }

  /** Remove checkpoint dirs superseded by the current pointer (gc
    * hook; age-gated by the caller's grace the same way gen orphans
    * are — a concurrent planner may still be reading a just-replaced
    * checkpoint inside its plan call).
    */
  private[sinks] def metaOrphans(fs: FileSystem, table: Path): Seq[Path] = {
    val md = metaDir(table)
    if (!fs.exists(md)) return Nil
    val current = Pointers.read(fs, table, "_metaptr")
      .flatMap(_.linesIterator.toSeq.headOption.map(_.split(" ")(0)))
    fs.listStatus(md).map(_.getPath)
      .filterNot(p => current.contains(p.getName)).toSeq
  }

  /** Driver listStatus calls made by [[prunePlan]]'s per-generation
    * fallback on the CURRENT thread — instrumentation for the
    * distributed-planning contract (a fully meta-covered plan must make
    * ZERO; MetaPlanSpec asserts). Thread-local, like
    * [[FileStats.readCalls]].
    */
  val planListCalls: ThreadLocal[Long] =
    ThreadLocal.withInitial(() => 0L)

  /** Per-commit file-pruning report for `preds` over the live content
    * ([[logCommits]] span): (kept parquet paths, total files). A
    * generation without stats keeps all its files — pruning is always
    * conservative, never required. Generations covered by a metadata
    * checkpoint past the dial threshold are planned as a distributed
    * filter over the checkpoint (O(commits + kept) driver work); the
    * uncheckpointed tail and small tables use the driver loop.
    */
  def prunePlan(spark: SparkSession, table: String,
      preds: Seq[FileStats.Pred]): Option[(Seq[Path], Int)] = {
    val cs = logCommits(spark, table)
    if (cs.isEmpty) return None
    val t = new Path(table)
    val fs = fsOf(spark, t)
    val minFiles = spark.conf.getOption(MetaDialMinFilesKey)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(MetaDialMinFilesDefault)
    val meta = readMetaCheckpoint(spark, table)
      .filter(_.nFiles >= minFiles)
    val (covered, uncovered) = meta match {
      case Some(m) => cs.partition(c => m.gens.contains(c.gen))
      case None => (Seq.empty[Commit], cs)
    }
    var total = 0
    val kept = Seq.newBuilder[Path]
    def driverPlan(span: Seq[Commit]): Unit = span.foreach { c =>
      val gd = new Path(genPath(table, c))
      planListCalls.set(planListCalls.get + 1)
      val files = fs.listStatus(gd).filter(s => s.isFile &&
        s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet")).map(_.getPath)
      total += files.length
      FileStats.read(fs, t, c.gen) match {
        case None => kept ++= files
        case Some(entries) =>
          val byName = entries.map(e => e.file -> e).toMap
          files.foreach { p =>
            val keep = byName.get(p.getName)
              .forall(FileStats.mightMatchAll(_, preds))
            if (keep) kept += p
          }
      }
    }
    if (covered.nonEmpty) {
      // any checkpoint read failure degrades to the driver path — the
      // checkpoint is an optimization, never load-bearing. NonFatal
      // only (an InterruptedException/OOM must propagate, not silently
      // re-plan), and WARN with the checkpoint id: a persistently
      // corrupt checkpoint would otherwise disable distributed planning
      // on every call with no signal, masking real planner bugs.
      try {
        val (kc, tc) = metaPrune(spark, table, meta.get, covered, preds)
        kept ++= kc; total += tc
        driverPlan(uncovered)
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"metadata checkpoint ${meta.get.id} of $table failed to " +
              s"plan (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
              "degrading to the O(files) driver loop; re-run " +
              "maintain/checkpointMeta to replace the checkpoint")
          total = 0; kept.clear(); driverPlan(cs)
      }
    } else driverPlan(uncovered)
    Some((kept.result(), total))
  }

  /** How many live gens an `isin` literal list may carry before the
    * checkpoint scans switch to a pushed RANGE predicate plus a
    * broadcast semi-join: at a 100 TB table with years of small commits
    * (10⁴+ live gens) the literal list bloats analysis/codegen
    * O(commits) per plan. Gen names are `g%08d-<uuid>` — zero-padded,
    * so string order IS version order and the [min, max] range predicate
    * pushes to the parquet scan; the semi-join restores exactness (a
    * checkpointed gen INSIDE the range may have been folded/gc'd out of
    * the live span since).
    */
  private val GenIsinMax = 256

  /** Restrict checkpoint rows to the live generations — `isin` for
    * small spans, pushed range + broadcast semi-join beyond
    * [[GenIsinMax]].
    */
  private[sinks] def filterLiveGens(rows: DataFrame,
      liveGens: Seq[String]): DataFrame =
    if (liveGens.size <= GenIsinMax)
      rows.filter(col("gen").isin(liveGens: _*))
    else {
      import rows.sparkSession.implicits._
      rows.filter(col("gen") >= liveGens.min && col("gen") <= liveGens.max)
        .join(org.apache.spark.sql.functions.broadcast(
          liveGens.toDF("gen")), Seq("gen"), "left_semi")
    }

  /** The distributed half of [[prunePlan]]: evaluate `preds` over the
    * checkpointed (gen, file, col) stats rows of `covered`, returning
    * (kept paths, total files). Only the stats rows of the PREDICATE
    * columns plus the inventory sentinels are read (column-pruned,
    * predicate-pushed parquet scan); the collect is bounded by the
    * kept-file count — the scan list the driver must hold anyway.
    */
  private def metaPrune(spark: SparkSession, table: String,
      m: MetaCheckpoint, covered: Seq[Commit],
      preds: Seq[FileStats.Pred]): (Seq[Path], Int) = {
    import spark.implicits._
    val t = new Path(table)
    val fs = fsOf(spark, t)
    val dir = fs.makeQualified(new Path(metaDir(t), m.id)).toString
    val liveGens = covered.map(_.gen)
    val predCols = preds.map(_.col).distinct
    val rows = filterLiveGens(spark.read.parquet(dir)
      .filter(col("col").isin("__file__" +: predCols: _*) &&
        col("kind") =!= BloomRowKind), liveGens)
      .select(col("gen"), col("file"), col("col"), col("kind"),
        col("nulls"), col("mn"), col("mx"))
      .as[(String, String, String, String, Long, String, String)]
    val p = preds
    val verdicts = rows
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (gf: (String, String),
          it: Iterator[(String, String, String, String, Long, String,
            String)]) =>
        val colStats = it.collect {
          case (_, _, c, k, n, mn, mx) if c != "__file__" =>
            c -> FileStats.ColStats(k, n, mn, mx)
        }.toMap
        (gf._1, gf._2, FileStats.mightMatchAll(
          FileStats.FileEntry(gf._2, 0L, colStats), p))
      }
      .persist()
    try {
      val totalC = verdicts.count()
      val keptGF = verdicts.filter(_._3)
        .map { case (g, f, _) => (g, f) }.collect()
      val genDir = covered.map(c => c.gen -> genPath(table, c)).toMap
      val keptPaths = keptGF.toSeq.sortBy(identity)
        .map { case (g, f) => fs.makeQualified(new Path(genDir(g), f)) }
      (keptPaths, totalC.toInt)
    } finally verdicts.unpersist()
  }

  /** [[readLog]] restricted to the files whose committed stats admit
    * `preds` — the data-skipping scan. The CALLER still applies its real
    * filter to the result (pruning is a conservative superset); an
    * all-files-pruned plan returns an empty frame with the live schema.
    */
  def readPruned(spark: SparkSession, table: String,
      preds: Seq[FileStats.Pred]): Option[DataFrame] =
    prunePlan(spark, table, preds).map(p => readFiles(spark, table, p._1))

  /** Read an explicit kept-file list under the LIVE table schema — not
    * whatever the kept files happen to merge to: pruning must be a
    * transparent optimization, and when additive-evolution columns live
    * only in pruned-away generations a mergeSchema read would come back
    * narrower than readLog (absent columns read as null, same as the
    * full scan).
    */
  def readFiles(spark: SparkSession, table: String,
      kept: Seq[Path]): DataFrame = {
    // the merged cached span schema; a degraded merge falls back to one
    // mergeSchema inference (the pre-r20 cost, never a wrong answer)
    val schema = logSchema(spark, table)
      .getOrElse(readLog(spark, table).get.schema)
    if (kept.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(kept.map(_.toString): _*)
  }

  /** DYNAMIC file pruning (Delta's DFP analog): restrict the fact scan
    * to files whose `keyCol` stats can intersect the join keys of an
    * (already filtered) DIMENSION frame — the predicate isn't known
    * until the dim side is evaluated, so it is derived here at plan
    * time: one bounded aggregate over `dimKeys`' FIRST column collects
    * min/max plus, when the dim has at most `maxKeys` distinct keys,
    * the exact key set (tighter: a file whose [min,max] straddles a gap
    * between keys still prunes). The dim side is aggregated, never the
    * fact side; nulls never join and are dropped. The caller still
    * performs the real join on the result.
    */
  def readPrunedByKeys(spark: SparkSession, table: String, keyCol: String,
      dimKeys: DataFrame, maxKeys: Int = 1024): Option[DataFrame] =
    prunePlanByKeys(spark, table, keyCol, dimKeys, maxKeys)
      .map(p => readFiles(spark, table, p._1))

  /** The file-pruning plan of [[readPrunedByKeys]] — (kept, total) —
    * exposed so callers can assert/report the skip without re-deriving
    * it from the scanned result (a post-filter distinct-file count is
    * restricted by the filter itself and proves nothing). Tiers, most
    * selective information first, each strictly conservative:
    *  1. min/max range of the dim keys vs per-file stats;
    *  2. when the dim has ≤ `maxKeys` distinct keys (bounded driver
    *     collect): the exact key set vs per-file [min, max] — a file
    *     straddling a GAP between keys still prunes;
    *  3. per-file BLOOM membership ([[BloomStats]], when declared):
    *     driver-side probes for a collected key set, a distributed
    *     broadcast-bloom probe when the key set is too large to
    *     collect — THE tier that still prunes when a high-cardinality
    *     sparse key set straddles every file's range. The probe-side
    *     aggregate is bounded by the candidate FILE count, never the
    *     key count.
    */
  def prunePlanByKeys(spark: SparkSession, table: String, keyCol: String,
      dimKeys: DataFrame, maxKeys: Int = 1024): Option[(Seq[Path], Int)] = {
    import org.apache.spark.sql.functions.{col, countDistinct, max, min}
    val k = dimKeys.columns.head
    def lit(v: Any): Any = v match {
      case t: java.sql.Timestamp =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case x => x
    }
    val head = dimKeys.select(col(k)).na.drop()
      .agg(min(col(k)), max(col(k)), countDistinct(col(k))).head()
    if (head.isNullAt(0)) // empty dim: nothing can join
      return prunePlan(spark, table, Nil).map { case (_, total) =>
        (Seq.empty[Path], total)
      }
    val range = FileStats.Between(keyCol, lit(head.get(0)), lit(head.get(1)))
    val exact: Option[Seq[Any]] =
      if (head.getLong(2) <= maxKeys)
        Some(dimKeys.select(col(k)).na.drop()
          .distinct().collect().map(r => lit(r.get(0))).toSeq)
      else None
    val preds = Seq(range) ++ exact.map(FileStats.In(keyCol, _))
    prunePlan(spark, table, preds).map { case (kept, total) =>
      (bloomRefine(spark, table, keyCol, kept, exact, dimKeys), total)
    }
  }

  /** Bloom tier of [[prunePlanByKeys]]: drop candidate files whose
    * committed bloom contains NONE of the probe keys. Files without a
    * bloom (older generations, undeclared column, corrupt sidecar,
    * pre-bloom checkpoint) are always kept.
    *
    * Candidates covered by the current metadata checkpoint read their
    * blooms from its `__bloom__` rows — a column-pruned, kept-file-
    * bounded DISTRIBUTED scan, never a per-gen driver parse of the
    * whole `_bloom` sidecar (the O(total-files)→O(kept) metadata story,
    * same as [[metaPrune]]); with a collected key set the probe itself
    * runs inside that scan, so the driver holds only (file, verdict)
    * pairs and never a bloom's bytes. The uncheckpointed tail (commits
    * since the last maintenance) driver-parses its sidecars as before —
    * bounded by commits-since-checkpoint. With no collected key set the
    * (bounded: candidate files × bloom bytes) blooms broadcast and the
    * keys probe them distributed, aggregating only the hit FILE set.
    */
  private def bloomRefine(spark: SparkSession, table: String,
      keyCol: String, kept: Seq[Path], exact: Option[Seq[Any]],
      dimKeys: DataFrame): Seq[Path] = {
    import org.apache.spark.sql.functions.col
    if (kept.isEmpty) return kept
    val t = new Path(table)
    val fs = fsOf(spark, t)
    if (getBloomCols(spark, table)._1.isEmpty) return kept
    val byGen: Map[String, Seq[Path]] = kept.groupBy(_.getParent.getName)
    // checkpointed bloom rows for the kept candidates, as a frame
    // bounded by the kept (gen, file) keys; None when no current
    // checkpoint at the dial carries blooms (degrade = driver path,
    // the checkpoint is never load-bearing)
    val minFiles = spark.conf.getOption(MetaDialMinFilesKey)
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .getOrElse(MetaDialMinFilesDefault)
    val ckptRows: Option[(Set[String], DataFrame)] =
      readMetaCheckpoint(spark, table).filter(_.nFiles >= minFiles)
        .flatMap { m =>
          try {
            val dir = fs.makeQualified(new Path(metaDir(t), m.id)).toString
            val df = spark.read.parquet(dir)
            val gens = byGen.keys.filter(m.gens.contains).toSeq
            if (gens.isEmpty || !df.schema.fieldNames.contains("bloom"))
              None
            else {
              import spark.implicits._
              val keptKeys = gens.flatMap(g => byGen(g).map(p =>
                (g, p.getName)))
              val rows = filterLiveGens(
                df.filter(col("kind") === BloomRowKind &&
                  col("col") === keyCol), gens)
                .join(org.apache.spark.sql.functions.broadcast(
                  keptKeys.toDF("gen", "file")), Seq("gen", "file"),
                  "left_semi")
                .select(col("gen"), col("file"), col("mn"), col("bloom"))
              Some((gens.toSet, rows))
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }
    val ckptGens: Set[String] = ckptRows.map(_._1).getOrElse(Set.empty)
    val genDir: Map[String, Path] =
      byGen.map { case (g, ps) => g -> ps.head.getParent }
    // serialized (domain, bloom) for the UNCOVERED tail's candidates
    val blooms: Map[String, (String, Array[Byte])] =
      byGen.filterNot { case (g, _) => ckptGens.contains(g) }
        .flatMap { case (gen, paths) =>
          BloomStats.read(fs, t, gen) match {
            case None => Nil
            case Some(m) => paths.flatMap(p =>
              m.get((p.getName, keyCol)).map(b => p.toString -> b))
          }
        }
    if (blooms.isEmpty && ckptRows.isEmpty) return kept
    exact match {
      case Some(keys) =>
        val ckptVerdicts: Map[(String, String), Boolean] = ckptRows match {
          case None => Map.empty
          case Some((_, rows)) =>
            import spark.implicits._
            val ks = keys
            try rows.as[(String, String, String, Array[Byte])]
              .map { case (g, f, d, b) =>
                val db = BloomStats.deserialize(d, b)
                (g, f, ks.exists(BloomStats.mightContain(db, _)))
              }.collect()
              .map { case (g, f, v) => (g, f) -> v }.toMap
            catch { // corrupt checkpoint entry: keep (never load-bearing)
              case scala.util.control.NonFatal(_) =>
                Map.empty[(String, String), Boolean]
            }
        }
        kept.filter { p =>
          val g = p.getParent.getName
          if (ckptGens.contains(g))
            ckptVerdicts.getOrElse((g, p.getName), true)
          else blooms.get(p.toString) match {
            case None => true
            case Some((d, bytes)) =>
              val db = BloomStats.deserialize(d, bytes)
              keys.exists(BloomStats.mightContain(db, _))
          }
        }
      case None =>
        // the broadcast ships every candidate's bloom regardless of
        // provenance: checkpoint rows collect serialized (bounded by
        // kept files — the same bytes the broadcast must hold anyway)
        val ckptBlooms: Map[String, (String, Array[Byte])] =
          ckptRows match {
            case None => Map.empty
            case Some((_, rows)) =>
              try rows.collect().map { r =>
                new Path(genDir(r.getString(0)), r.getString(1)).toString ->
                  ((r.getString(2), r.getAs[Array[Byte]](3)))
              }.toMap
              catch {
                case scala.util.control.NonFatal(_) =>
                  Map.empty[String, (String, Array[Byte])]
              }
          }
        val allBlooms = blooms ++ ckptBlooms
        if (allBlooms.isEmpty) return kept
        probeBroadcast(spark, kept, allBlooms, dimKeys)
    }
  }

  /** The big-key-set bloom probe of [[bloomRefine]]: blooms broadcast,
    * keys probe them distributed, only the hit FILE set aggregates.
    */
  private def probeBroadcast(spark: SparkSession, kept: Seq[Path],
      blooms: Map[String, (String, Array[Byte])],
      dimKeys: DataFrame): Seq[Path] = {
    import org.apache.spark.sql.functions.col
    locally {
        val k = dimKeys.columns.head
        val bc = spark.sparkContext.broadcast(blooms.toSeq)
        val bcId = bc.id
        val hit =
          try dimKeys.select(col(k)).na.drop().distinct().rdd
            .mapPartitions { it =>
              val bfs = BloomStats.probeCache(bcId, bc.value).toSeq
              val hits = scala.collection.mutable.HashSet.empty[String]
              it.foreach { r =>
                if (hits.size < bfs.length) { // all hit: stop probing
                  val v = r.get(0)
                  bfs.foreach { case (f, bf) =>
                    if (!hits.contains(f) && BloomStats.mightContain(bf, v))
                      hits += f
                  }
                }
              }
              hits.iterator
            }.distinct().collect().toSet
          finally bc.unpersist()
        kept.filter(p => !blooms.contains(p.toString) || hit(p.toString))
    }
  }

  private def writeAndCommitInner(spark: SparkSession, df: DataFrame,
      t: Path, fs: FileSystem, gen: String, genDir: Path, tag: String,
      expectedBase: Option[Long], maxRetries: Int,
      options: Map[String, String], baseVersion: Long,
      abortIfEmpty: Boolean, preCommit: () => Unit): Option[Commit] = {
    val table = t.toString
    val obs = Observation("gen_rows_" + java.util.UUID.randomUUID.toString.take(8))
    val checks = getChecks(spark, table)
    // violation counts ride the SAME scan as the row count: a check is
    // violated when its predicate is not strictly true (null = violated,
    // the ANSI CHECK-on-write posture Delta takes for invariants)
    val checkMetrics = checks.zipWithIndex.map { case ((_, sql), i) =>
      sum(when(coalesce(expr(sql).cast("boolean"), lit(false)), 0L)
        .otherwise(1L)).as(s"viol_$i")
    }
    // data-skipping stats columns declared for this table (filtered to
    // this frame's schema — additive evolution writes what it has)
    val statsCols = getStatsCols(spark, table)
      .filter(df.schema.fieldNames.contains)
    // Spark's default parquet timestamp encoding is INT96, which the
    // parquet format records NO column statistics for — a declared
    // TIMESTAMP stats column would silently never prune. Scope the
    // micros encoding (INT64, fully stats-capable, readable by every
    // engine) to stats-bearing writes via the session conf (there is no
    // per-write option); concurrent writers momentarily observing
    // micros output is value-identical either way.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val needsMicros = statsCols.exists(c => df.schema(c).dataType ==
      org.apache.spark.sql.types.TimestampType)
    val prevTs = if (needsMicros) Some(spark.conf.get(tsKey)) else None
    if (needsMicros) spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    val observed = df.observe(obs, count(lit(1)).as("rows"), checkMetrics: _*)
    val bucketing = getBucketing(spark, table)
    bucketing.foreach { case (key, _) =>
      require(df.schema.fieldNames.contains(key),
        s"table $table is bucket-clustered by '$key' but this commit's " +
          "frame lacks the column — the layout is a contract, not a hint")
    }
    try bucketing match {
      case Some((key, n)) =>
        // bucket-clustered generation, into the STANDARD gen dir: a
        // temp external saveAsTable is the only API that writes Spark's
        // bucket-id file naming; dropping it keeps the files (external)
        // and the commit protocol proceeds unchanged. repartition(n,
        // key) aligns tasks with buckets (same murmur3 pmod), so each
        // bucket is exactly one file per commit.
        val tmp = s"graft_bktw_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        try observed
          .repartition(n, org.apache.spark.sql.functions.col(key))
          .write.options(options).format("parquet")
          // qualified URI: the catalog resolves a RELATIVE path against
          // the warehouse dir, silently writing the generation somewhere
          // else (r17 sf1 probe caught this on var/-relative tables)
          .option("path", fs.makeQualified(genDir).toString)
          .bucketBy(n, key).sortBy(key).saveAsTable(tmp)
        finally // external: metadata-only either way; files stay put
          try spark.sql(s"DROP TABLE IF EXISTS `$tmp`")
          catch { case scala.util.control.NonFatal(_) => () }
      case None =>
        observed.write.options(options).parquet(genDir.toString)
    } finally prevTs.foreach(spark.conf.set(tsKey, _))
    val rows = obs.get("rows").asInstanceOf[Long]
    val violations = checks.zipWithIndex.map { case ((name, _), i) =>
      name -> Option(obs.get(s"viol_$i")).map(_.asInstanceOf[Long])
        .getOrElse(0L)
    }.filter(_._2 > 0)
    if (violations.nonEmpty) {
      // never publish: the generation stays invisible; delete it now
      // (best-effort — a crash here just leaves ordinary gc debris)
      fs.delete(genDir, true)
      throw new ConstraintViolationException(
        s"commit to $table rejected by CHECK constraints: " +
          violations.map { case (n, c) => s"$n ($c rows)" }.mkString(", "),
        violations)
    }
    // empty-frame abort (writeAndCommitSkipEmpty): nothing was ever
    // visible — delete the unpublished generation, publish no sidecars,
    // no pointer (same never-publish posture as a CHECK violation)
    if (abortIfEmpty && rows == 0L) {
      fs.delete(genDir, true)
      return None
    }
    // crash-injection seam: the generation's data is written (still
    // invisible) and everything from here on publishes
    preCommit()
    // data-skipping stats: footer-only collection over the NEW
    // generation's files, persisted before the pointer publish so a
    // published commit always carries its stats (a crash in between
    // leaves an orphan stats file — ordinary gc debris). Declared
    // columns absent from this frame's schema record nothing. Stats are
    // an OPTIONAL optimization: a footer-read failure here must not
    // fail an otherwise-complete commit — degrade to publishing no
    // stats for this generation (readers keep everything, the same
    // posture the read path takes for absent/corrupt stats).
    if (statsCols.nonEmpty)
      try FileStats.write(fs, t, gen, FileStats.collect(
        spark.sparkContext.hadoopConfiguration, fs, genDir, statsCols))
      catch { case scala.util.control.NonFatal(_) => () }
    // per-file bloom sidecar (the third skipping tier, BloomStats):
    // one pass over THIS generation's data, sized by footer row counts;
    // optional like stats — a failure degrades to no blooms, readers
    // keep everything
    val (bloomCols, bloomFpp) = getBloomCols(spark, table)
    val bloomable = bloomCols.filter(df.schema.fieldNames.contains)
    if (bloomable.nonEmpty)
      try BloomStats.write(fs, t, gen, BloomStats.build(spark, genDir,
        bloomable, FileStats.rowCounts(
          spark.sparkContext.hadoopConfiguration, fs, genDir), bloomFpp))
      catch { case scala.util.control.NonFatal(_) => () }
    val cd = commitsDir(t)
    fs.mkdirs(cd)
    var version = baseVersion + 1
    var attempt = 0
    while (true) {
      val snapshotKind = tag == "-" || tag.startsWith("=")
      val carried =
        if (!snapshotKind) Nil
        else carryTags(
          // the head snapshot's OWN tag joins the witness when it is a
          // metadata tag (=name=value) — a later squash/compaction must
          // not drop a caller watermark like ChangeFeed's =cdcv=<v>
          prev = headSnapshot(spark, table).map(h =>
            h.carried ++ Some(h.tag).filter(isMetaTag)).getOrElse(Nil),
          live = logCommits(spark, table))
      val line = (Seq(version.toString, gen, rows.toString, tag) ++ carried)
        .mkString(" ") + "\n"
      val tmp = new Path(cd,
        s".${commitName(version)}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = fs.create(tmp, false)
      try out.write(line.getBytes("UTF-8")) finally out.close()
      val finalP = new Path(cd, commitName(version))
      if (Pointers.publishNew(fs, tmp, finalP))
        return Some(Commit(version, gen, rows, tag, carried))
      fs.delete(tmp, false)
      // collision: someone else published this version first
      attempt += 1
      expectedBase.foreach { b =>
        throw new CommitConflictException(
          s"$table v$version published by a concurrent writer; expected base v$b is stale")
      }
      if (attempt >= maxRetries) throw new IllegalStateException(
        s"gave up publishing $table after $maxRetries version collisions")
      version = latest(spark, table).map(_.version).getOrElse(version) + 1
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------------ log tables
  //
  // The same protocol also carries APPEND-ONLY (log) tables: each commit is
  // a delta whose rows add to the table, and a snapshot-kind commit
  // (SquashTag or "-") folds all history into one generation (the
  // Delta-checkpoint analog). This is the exactly-once answer for
  // Structured Streaming's foreachBatch on object stores: Spark
  // re-delivers a micro-batch after a crash with the SAME batchId, so
  // committing each batch under tag `batch=<id>` makes the replay a
  // visible no-op — no duplicated rows, no torn files.

  /** The newest snapshot-kind commit (what the live log span starts at),
    * or None if the table has only ever appended.
    */
  private def headSnapshot(spark: SparkSession, table: String): Option[Commit] =
    logCommits(spark, table).headOption.filter(isSnapshotCommit)

  /** A SPLICE snapshot (r19): a snapshot-kind commit whose tag ends in
    * the reserved `~keep=<v>` suffix. Unlike a full snapshot — which
    * supersedes EVERYTHING before it — a splice supersedes only commits
    * with version < v: commits in [v, spliceVersion) REMAIN PART OF THE
    * LIVE SPAN beneath it, untouched. This is what makes a stream-log
    * fold O(dropped), not O(retained): the fold commit materializes only
    * its merged summary rows and drops whole dead commits BY REFERENCE,
    * instead of rewriting every kept row into a new generation (the
    * Delta remove-action analog, at commit granularity). Invariants the
    * WRITER must hold (the fold does, by construction): `v` is a version
    * inside the current live span, and the content of every superseded
    * commit (< v) is fully represented in the splice's own rows — so
    * span content stays union-exact. Nested splices compose: a later
    * splice's keep-from is always ≥ any deeper one's (it can only name
    * versions still in ITS span), so one floor — the newest splice's —
    * governs the walk.
    */
  def spliceKeepFrom(c: Commit): Option[Long] =
    if (!isSnapshotCommit(c)) None
    else c.tag.lastIndexOf("~keep=") match {
      case -1 => None
      case i => scala.util.Try(c.tag.substring(i + 6).toLong).toOption
    }

  /** Commits a [[readLog]] union spans: everything from the newest
    * snapshot-kind commit (inclusive) onward — parsed by walking the
    * commit listing BACKWARD from the newest name, so the cost is
    * O(live span), not O(history). A SPLICE snapshot
    * ([[spliceKeepFrom]]) does not stop the walk: the commits it keeps
    * (version ≥ its keep-from) are collected beneath it, and the walk
    * ends below the newest splice's floor or at a full snapshot,
    * whichever comes first.
    */
  def logCommits(spark: SparkSession, table: String): Seq[Commit] = {
    val cd = commitsDir(new Path(table))
    val fs = fsOf(spark, cd)
    val names = commitNames(fs, cd)
    val span = scala.collection.mutable.ListBuffer.empty[Commit]
    var i = names.length - 1
    var floor = Long.MinValue
    while (i >= 0) {
      val c = parseCommit(fs, cd, names(i))
      if (floor != Long.MinValue && c.version < floor) i = -1
      else {
        c +=: span
        spliceKeepFrom(c) match {
          case Some(k) => floor = math.max(floor, k); i -= 1
          case None => if (isSnapshotCommit(c)) i = -1 else i -= 1
        }
      }
    }
    span.toList
  }

  /** Idempotent log append: if `tag` was already committed — visible
    * either as a live commit or through the carried witness of the head
    * snapshot — this is a no-op returning None (the re-delivered batch
    * was already durable); otherwise append `df` as a new delta commit.
    * The foreachBatch body is one line:
    * `appendCommitted(spark, batchDf, table, s"batch=$id")`.
    *
    * Cost of the duplicate check: the backward walk stops at the FIRST
    * match or the head snapshot, so a replay of the newest batch parses
    * ONE commit file, and any replayable batch (streaming can only
    * re-deliver the latest per writer) is decided within the live span +
    * the snapshot's carried tags — never the full history the pre-r11
    * all-commits scan paid.
    *
    * Idempotence scope: PER WRITER. Each writer (each streaming query's
    * foreachBatch) is serial, so its own replays always see their prior
    * commit. Two DIFFERENT writers racing the SAME tag are not fenced —
    * use distinct tag prefixes per writer (the carried witness is keyed
    * that way too). The `prefix=value` form is REQUIRED: the carried
    * witness keys on the prefix, so a bare tag would pin itself in every
    * later snapshot forever.
    *
    * Ordering hardening for numeric ids (`batch=<n>`): a replay of an
    * OLDER batch — a checkpoint rolled back or rebuilt, so Spark
    * re-delivers ids the table already absorbed — is also a no-op: any
    * same-prefix commit or carried witness with id >= the offered id
    * proves the offered batch (from a serial, ascending-id writer) was
    * already committed, even though squash+gc kept only the newest tag.
    */
  def appendCommitted(spark: SparkSession, df: DataFrame, table: String,
      tag: String): Option[Commit] = {
    if (appendWitnessed(spark, table, tag)) None
    else Some(writeAndCommit(spark, df, table, tag))
  }

  /** True when an [[appendCommitted]]-style tag is already proven
    * durable by the live span or the head snapshot's carried witness —
    * the idempotence verdict, exposed so fused append paths
    * (StreamingIvm's witnessed tick) can take it without committing.
    */
  def appendWitnessed(spark: SparkSession, table: String,
      tag: String): Boolean = {
    require(tag != "-" && !tag.startsWith("="),
      s"reserved (snapshot-kind) tag: '$tag'")
    require(!tag.contains(" ") && tag.nonEmpty, s"tag must be space-free: '$tag'")
    val (myKey, myId) = tagKeyId(tag)
    require(tag.lastIndexOf('=') > 0,
      s"append tags must be prefix=value form (witness is prefix-keyed): '$tag'")
    // true when `other` (a live tag or carried witness) proves `tag` is
    // already durable: exact match, or same writer prefix with a numeric
    // id at least as new (serial writers commit ascending ids).
    def supersedes(other: String): Boolean =
      other == tag || {
        val (k, id) = tagKeyId(other)
        k == myKey && (for (a <- id; b <- myId) yield a >= b).getOrElse(false)
      }
    val cd = commitsDir(new Path(table))
    val fs = fsOf(spark, cd)
    val names = commitNames(fs, cd)
    var i = names.length - 1
    var seen = false
    var done = false
    while (i >= 0 && !done) {
      val c = parseCommit(fs, cd, names(i))
      if (isSnapshotCommit(c)) { seen = c.carried.exists(supersedes); done = true }
      else if (supersedes(c.tag)) { seen = true; done = true }
      else i -= 1
    }
    seen
  }

  /** The newest committed numeric id for a writer prefix: the max
    * `prefix=<id>` over the live log span's tags plus the head
    * snapshot's carried witness — i.e. "how far has this serial writer
    * gotten", surviving squash and GC exactly like append idempotence
    * does. None if the writer never committed. Cost: the live span's
    * commit files (the same walk [[logCommits]] pays), never full
    * history. This is the offset-read half of the
    * store-offsets-with-the-data pattern: a consumer that appends under
    * `prefix=<sourceVersion>` tags re-derives its cursor from the sink
    * itself, so state and offset can never disagree.
    */
  def lastAppendId(spark: SparkSession, table: String,
      prefix: String): Option[Long] = {
    val ids = logCommits(spark, table).flatMap { c =>
      (c.tag +: c.carried).flatMap { t =>
        val (k, id) = tagKeyId(t)
        if (k == prefix) id else None
      }
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The log table's content: union of every commit since the last
    * snapshot-kind commit. None = never committed. Read with
    * `mergeSchema`, so ADDITIVE schema evolution works the lakehouse
    * way: a commit may add columns, older generations surface them as
    * null, and the next [[squash]] bakes the widened schema into one
    * generation. (Renames/type changes are rewrites, not evolution —
    * same rule as Delta.)
    */
  def readLog(spark: SparkSession, table: String): Option[DataFrame] = {
    val cs = logCommits(spark, table)
    if (cs.isEmpty) None
    else Some(readSpan(spark, table, cs))
  }

  /** MERGE INTO: apply a whole-row upsert/delete changeset
    * ([[graft.operators.Merge.mergeApply]]) to the current table content
    * — [[readLog]], which equals the live generation for a snapshot
    * table and the folded union for a log table — and commit the result
    * as the next snapshot. On a never-committed table the changeset's
    * non-deleted rows ARE the first snapshot. Readers are
    * snapshot-isolated throughout (they hold the previous pointer until
    * the new one lands). Concurrency: optimistic — the commit carries
    * the version the merge READ; if another writer landed meanwhile the
    * whole merge re-reads and re-applies (bounded retries), so no
    * concurrent commit is silently overwritten by a stale basis.
    */
  def mergeAndCommit(spark: SparkSession, table: String, changes: DataFrame,
      keys: Seq[String], deleteCol: String = "_deleted",
      tag: String = "-", maxRetries: Int = 5): Commit = {
    var attempt = 0
    while (true) {
      val base = latest(spark, table).map(_.version).getOrElse(0L)
      val next = readLog(spark, table) match {
        case Some(cur) =>
          graft.operators.Merge.mergeApply(cur, changes, keys, deleteCol)
        case None => changes.filter(!org.apache.spark.sql.functions
          .col(deleteCol)).drop(deleteCol)
      }
      try return writeAndCommit(spark, next, table, tag,
        expectedBase = Some(base))
      catch {
        case _: CommitConflictException if attempt < maxRetries - 1 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The SANCTIONED live-column type change: the append-path schema gate
    * rejects a delta that retypes a column (readers' mergeSchema union
    * would break), and the documented escape hatch is a full snapshot
    * rewrite — this is that hatch as an API. Reads the current content
    * ([[readLog]] — the folded union for a log table), casts `colName`
    * to `castTo`, and commits the result as the next snapshot under the
    * same optimistic expectedBase loop as [[mergeAndCommit]], so a
    * concurrent append (possibly still in the OLD type) is never folded
    * away half-cast — the rewrite redoes itself on the new head.
    * Readers are snapshot-isolated throughout; replay witnesses carry
    * (snapshot commits always do); subsequent appends must use the new
    * type, which the gate now enforces in the other direction.
    *
    * Cost: one full rewrite of the live content — the honest price of a
    * type change on an immutable-file table (Delta's `overwriteSchema`;
    * at 100 TB you schedule it like a compaction, not an append).
    * Throws if the cast is not possible for the column's current type
    * (Spark's cast resolution), or the column doesn't exist.
    */
  def rewriteColumn(spark: SparkSession, table: String, colName: String,
      castTo: String, maxRetries: Int = 5): Commit = {
    var attempt = 0
    while (true) {
      val base = latest(spark, table).map(_.version).getOrElse(
        throw new IllegalArgumentException(s"$table: never committed"))
      val cur = readLog(spark, table).get
      require(cur.columns.contains(colName),
        s"$table has no column '$colName' (has: ${cur.columns.mkString(", ")})")
      val next = cur.withColumn(colName,
        org.apache.spark.sql.functions.col(colName).cast(castTo))
      try return writeAndCommit(spark, next, table, expectedBase = Some(base))
      catch {
        case _: CommitConflictException if attempt < maxRetries - 1 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fold the log's live commits into ONE generation committed under
    * [[SquashTag]], then GC superseded history. Bounds both the commit
    * listing and the per-read file count — run it like any table
    * maintenance job. Readers are never disturbed: until the squash
    * pointer lands they union the old commits; after, they start at it.
    * Optimistic like [[mergeAndCommit]]: a concurrent append between
    * the fold's read and its publish aborts-and-redoes the fold, so an
    * in-flight batch is never silently folded away or double-counted.
    *
    * Replay idempotence across the squash is carried IN the squash
    * commit (newest superseded tag per writer — see [[Commit]]), so GC
    * may prune every pre-squash commit file without opening the
    * data-commit / checkpoint-commit crash window.
    */
  def squash(spark: SparkSession, table: String,
      maxRetries: Int = 5): Option[Commit] = {
    var attempt = 0
    while (true) {
      val base = latest(spark, table).map(_.version).getOrElse(return None)
      val cur = readLog(spark, table).getOrElse(return None)
      try {
        val c = writeAndCommit(spark, cur, table, SquashTag,
          expectedBase = Some(base))
        gc(spark, table, keep = 2)
        return Some(c)
      } catch {
        case _: CommitConflictException if attempt < maxRetries - 1 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Knobs for [[maintain]] — one value a scheduler configures per
    * table. `squashAfterCommits`: fold the live log span once it is
    * longer than this many commits. `targetBytes`: file width for
    * compaction/optimize rewrites. `clusterBy` non-empty: folds are
    * Z-clustered on these columns ([[Layout.optimizeZOrder]] — inputs
    * must satisfy its `bitsPerCol` scaling contract) so file-level
    * min/max pruning is restored by the same rewrite that bounds the
    * log. `keep`/`orphanGraceMs`: [[gc]] retention.
    */
  final case class MaintenancePolicy(
      squashAfterCommits: Int = 8,
      targetBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil,
      bitsPerCol: Int = 16,
      keep: Int = 2,
      orphanGraceMs: Long = OrphanGraceMs,
      fragmentationRatio: Double = 2.0)

  final case class MaintenanceReport(folded: Boolean, compacted: Boolean,
      commitsBefore: Int, commitsAfter: Int,
      gcCommitFiles: Int, gcGenDirs: Int,
      produced: Seq[Long] = Nil)

  /** The single scheduled maintenance entry per table. [[squash]],
    * [[graft.sinks.Compact.compactGenerations]],
    * [[graft.sinks.Layout.optimizeZOrder]] and [[gc]] exist as separate
    * knobs; `maintain` is the policy-driven composition operations
    * actually runs — one call per table per schedule tick:
    *
    *  - live log span longer than `policy.squashAfterCommits` → fold
    *    it: Z-clustered at target width when `clusterBy` is configured
    *    (the OPTIMIZE ZORDER form), otherwise squash-at-width via
    *    compaction — and when compaction declines because files are
    *    already at width, an explicit [[squash]] still bounds the
    *    commit listing (wide files do not excuse unbounded metadata);
    *  - span within bounds → width-compact only if the live content
    *    has fragmented past `targetBytes` granularity;
    *  - always finish with [[gc]] under the policy's retention.
    *
    * Safe beside live writers: every constituent op is an optimistic
    * expectedBase commit, so a concurrent append aborts-and-redoes the
    * fold instead of being folded away, and replay idempotence is
    * carried through every fold (snapshot commits carry the witness).
    * MaintenanceSpec drives a mixed append/merge workload to a bounded
    * commit count via `maintain` alone.
    */
  def maintain(spark: SparkSession, table: String,
      policy: MaintenancePolicy = MaintenancePolicy(),
      protect: Set[Long] = Set.empty): MaintenanceReport = {
    val before = commits(spark, table).size
    val span = logCommits(spark, table).size
    var folded = false
    var compacted = false
    // versions THIS run committed — [[Catalog.maintain]] re-points a
    // catalog root only across a chain it can prove maintenance-produced
    // (content-preserving); a head sample alone is a TOCTOU against
    // concurrent transactions (r13 ADVICE)
    val made = Seq.newBuilder[Long]
    if (span > policy.squashAfterCommits) {
      if (policy.clusterBy.nonEmpty) {
        // a bucket-clustered table's write path hash-repartitions every
        // generation, which would silently override the z-order fold's
        // range clustering — the two layouts are exclusive by design
        require(getBucketing(spark, table).isEmpty,
          s"$table declares bucketing; a clusterBy maintenance policy " +
            "would be silently overridden by the bucketed write — " +
            "declare ONE layout (bucketing for join co-location, " +
            "z-order for multi-column range skipping)")
        val z = Layout.optimizeZOrder(spark, table, policy.clusterBy,
          policy.targetBytes, policy.bitsPerCol)
        z.foreach(c => made += c.version)
        folded = z.isDefined
      } else {
        val (b, a, cc) = Compact.compactGenerationsDetailed(spark, table,
          policy.targetBytes)
        cc.foreach(c => made += c.version)
        compacted = a < b
        folded = compacted || {
          val sq = squash(spark, table)
          sq.foreach(c => made += c.version)
          sq.isDefined
        }
      }
    } else {
      // span within bounds: width-compact ONLY on real fragmentation
      // (file count > fragmentationRatio × target width) — a wide
      // snapshot plus one small delta must not trigger a full rewrite
      // every schedule tick
      val (b, a, cc) = Compact.compactGenerationsDetailed(spark, table,
        policy.targetBytes, minRatio = policy.fragmentationRatio)
      cc.foreach(c => made += c.version)
      compacted = a < b
    }
    val (cf, gd) = gc(spark, table, keep = policy.keep,
      orphanGraceMs = policy.orphanGraceMs, protect = protect)
    // refresh the metadata checkpoint over the post-fold span so the
    // next prunePlan plans distributed from day one (stats- or bloom-
    // declaring tables only — others have nothing to checkpoint).
    // Non-fatal like every stats-side path: a failed refresh (e.g. a
    // sidecar swept by a concurrent gc mid-read) leaves the old
    // checkpoint or none, and planning degrades to the driver loop
    // either way.
    if (getStatsCols(spark, table).nonEmpty ||
        getBloomCols(spark, table)._1.nonEmpty)
      try checkpointMeta(spark, table)
      catch { case scala.util.control.NonFatal(_) => () }
    MaintenanceReport(folded, compacted, before,
      commits(spark, table).size, cf, gd, made.result())
  }

  /** Default [[gc]] orphan grace: an UNREFERENCED generation dir whose
    * in-flight marker (or, lacking one, whose own mtime) is younger
    * than this is left alone — it may be a live concurrent writer's
    * data whose pointer publish hasn't happened yet, and deleting it
    * would let that writer commit a pointer to nothing. Crash debris
    * older than the grace is collected as before. VACUUM-style long by
    * default (Delta's retention default is DAYS, and a large snapshot
    * write can legitimately run for hours): the marker's toucher thread
    * keeps a LIVE writer fresh at any grace, so the dial only bounds
    * how long genuinely dead debris lingers.
    */
  val OrphanGraceMs: Long = 24L * 60 * 60 * 1000

  /** How often a live writer re-touches its in-flight marker. */
  private val MarkerTouchMs: Long = 30L * 1000

  private def inflightMarker(table: Path, gen: String): Path =
    new Path(dataDir(table), s".inflight-$gen")

  private def startMarkerToucher(fs: FileSystem, marker: Path): Thread = {
    val th = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(MarkerTouchMs)
          fs.setTimes(marker, System.currentTimeMillis(), -1)
        }
      } catch {
        case _: InterruptedException => () // commit finished — normal exit
        case _: java.io.IOException => () // marker gone / fs issue: stop
      }
    }, s"graft-inflight-${marker.getName}")
    th.setDaemon(true)
    th.start()
    th
  }

  /** Prune history: keep the newest `keep` commits (and their gen dirs)
    * — plus, always, every LIVE log commit (at/after the last
    * snapshot-kind commit; for a snapshot table, whose newest commit
    * supersedes all others, that adds nothing beyond the newest) —
    * delete everything older plus stale commit temp files and
    * unreferenced gen dirs past `orphanGraceMs` (see [[OrphanGraceMs]]:
    * a gen whose in-flight marker is fresh — or, pre-marker, whose own
    * mtime is young — may be a concurrent writer mid-commit, never
    * collectable; and immediately before deleting any true orphan the
    * commit listing is re-checked so a pointer published AFTER this
    * gc's snapshot is honored, closing the check→delete race). Deletes
    * only — idempotent and crash-safe.
    * Because snapshot commits carry their replay witness, pruning
    * pre-snapshot commits never breaks [[appendCommitted]]'s
    * idempotence; `keep >= 2` is a time-travel nicety, not a
    * correctness requirement. Generations superseded by the commit
    * pruning itself are referenced (by the dropped pointers), not
    * orphans — they delete regardless of age, which is safe: no writer
    * is mid-commit on an already-published generation.
    *
    * `protect`: versions that must survive regardless of `keep` —
    * everything from the OLDEST protected version onward is kept. This
    * is how a catalog ([[Catalog.gc]]) keeps root-referenced table
    * versions readable while per-table history prunes: the Iceberg
    * "snapshots the catalog references survive VACUUM" rule.
    * @return (commit files deleted, gen dirs deleted)
    */
  def gc(spark: SparkSession, table: String, keep: Int = 2,
      orphanGraceMs: Long = OrphanGraceMs,
      protect: Set[Long] = Set.empty): (Int, Int) = {
    require(keep >= 1, "must keep at least the live generation")
    val t = new Path(table)
    val fs = fsOf(spark, t)
    val cd = commitsDir(t)
    if (!fs.exists(cd)) return (0, 0)
    val all = fs.listStatus(cd).map(_.getPath.getName)
    val names = all.filter(_.matches("v\\d{16}")).sortBy(_.drop(1).toLong)
    val stale = all.filter(n => n.startsWith(".") && n.endsWith(".tmp"))
    val parsed = names.map(parseCommit(fs, cd, _))
    // a log table's live span must survive any `keep`: a snapshot-kind
    // commit supersedes what precedes it, nothing supersedes what
    // follows it — EXCEPT a splice snapshot ([[spliceKeepFrom]]), which
    // keeps the commits at/above its keep-from version live beneath it.
    // Same backward walk as [[logCommits]]. An unsquashed log (no
    // snapshot commit at all) is entirely live.
    val liveFrom = {
      var from = 0
      var j = parsed.length - 1
      var floor = Long.MinValue
      var walking = true
      while (j >= 0 && walking) {
        val c = parsed(j)
        if (floor != Long.MinValue && c.version < floor) walking = false
        else {
          from = j
          spliceKeepFrom(c) match {
            case Some(k) => floor = math.max(floor, k)
            case None => if (isSnapshotCommit(c)) walking = false
          }
          j -= 1
        }
      }
      from
    }
    val protFrom = parsed.indexWhere(c => protect.contains(c.version))
    val cut0 = math.min(math.max(0, names.length - keep), liveFrom)
    val cut = if (protFrom >= 0) math.min(cut0, protFrom) else cut0
    val drop = names.take(cut)
    val dropped = parsed.take(cut).map(_.gen).toSet
    val keptGens = parsed.drop(cut).map(_.gen).toSet
    (drop ++ stale).foreach(n => fs.delete(new Path(cd, n), false))
    val dd = dataDir(t)
    val ageCut = System.currentTimeMillis() - orphanGraceMs
    if (!fs.exists(dd)) return (drop.length + stale.length, 0)
    val entries = fs.listStatus(dd)
    val markers = entries.filter(_.getPath.getName.startsWith(".inflight-"))
      .map(s => s.getPath.getName.stripPrefix(".inflight-") -> s).toMap
    val genStats = entries.filter(s =>
      s.isDirectory && !s.getPath.getName.startsWith("."))
    // Known-at-listing commit names: anything that appears in _commits
    // AFTER this snapshot was taken is a racing writer's fresh publish —
    // re-checked per orphan below before any delete.
    val listedNames = names.toSet
    def publishedSinceListing(genName: String): Boolean =
      commitNames(fs, cd).exists(n =>
        !listedNames.contains(n) && parseCommit(fs, cd, n).gen == genName)
    var genDeletes = 0
    genStats.foreach { s =>
      val name = s.getPath.getName
      if (!keptGens.contains(name)) {
        val markerFresh =
          markers.get(name).exists(_.getModificationTime >= ageCut)
        val collectable =
          if (dropped.contains(name)) true // superseded by this gc's pruning
          else if (markerFresh) false // live writer mid-commit: never
          else markers.contains(name) || s.getModificationTime < ageCut
        // Final guard against the check→delete race: a writer may have
        // published its pointer between our commit listing and now.
        // Re-list _commits and parse only names NEW since the snapshot;
        // if one references this gen, it is committed — skip it.
        if (collectable &&
            (dropped.contains(name) || !publishedSinceListing(name))) {
          markers.get(name).foreach(m => fs.delete(m.getPath, false))
          fs.delete(s.getPath, true)
          FileStats.delete(fs, t, name)
          BloomStats.delete(fs, t, name)
          genDeletes += 1
        }
      }
    }
    // stale markers whose gen is kept (writer crashed between the
    // pointer publish and the marker delete) or already gone: junk
    markers.foreach { case (genName, m) =>
      val genExists = genStats.exists(_.getPath.getName == genName)
      val kept = keptGens.contains(genName)
      if (m.getModificationTime < ageCut && (kept || !genExists) &&
          fs.exists(m.getPath))
        fs.delete(m.getPath, false)
    }
    // stats files whose generation dir no longer exists (a crash between
    // stats publish and pointer publish, or debris of a pre-hook delete):
    // same age gate as orphan gen dirs — a LIVE writer's just-published
    // stats must survive until its pointer lands
    val liveGenNames = fs.listStatus(dd).filter(s =>
      s.isDirectory && !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
    FileStats.orphans(fs, t, liveGenNames).foreach { p =>
      if (fs.getFileStatus(p).getModificationTime < ageCut)
        fs.delete(p, false)
    }
    // stale in-flight stats temp files (crash between tmp create and
    // publish): dot-prefixed, so invisible to orphans(); same age gate
    FileStats.tmpDebris(fs, t).foreach { p =>
      if (fs.getFileStatus(p).getModificationTime < ageCut)
        fs.delete(p, false)
    }
    // bloom sidecars follow the exact same lifecycle as stats files
    (BloomStats.orphans(fs, t, liveGenNames) ++ BloomStats.tmpDebris(fs, t))
      .foreach { p =>
        if (fs.getFileStatus(p).getModificationTime < ageCut)
          fs.delete(p, false)
      }
    // superseded metadata checkpoints: same age gate — a planner that
    // read the pointer just before a refresh may still be scanning the
    // old checkpoint inside its plan call
    metaOrphans(fs, t).foreach { p =>
      if (fs.getFileStatus(p).getModificationTime < ageCut)
        fs.delete(p, true)
    }
    (drop.length + stale.length, genDeletes)
  }
}
