package graft.sinks

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

/** File-level column statistics for [[Generations]] tables — the
  * Delta/Iceberg data-skipping layer.
  *
  * Parquet already gives ROW-GROUP min/max pruning, but a reader must
  * OPEN every file's footer to use it — at 100 TB that is millions of
  * object-store GETs before the first data byte. The lakehouse answer is
  * to lift per-FILE min/max/nullCount into commit metadata written once
  * at commit time, so a range scan plans its file list from one tiny
  * metadata read and never touches the files the predicate excludes.
  * Combined with a clustered layout ([[Layout.zOrdered]] /
  * `repartitionByRange`+sort) the excluded fraction is most of the
  * table.
  *
  * Mechanics:
  *  - COLLECT ([[collect]]): read only the parquet FOOTERS of a freshly
  *    written generation (metadata-only — no data pages; cost is
  *    O(files in this commit), proportional to the write itself, the
  *    same posture as Delta's commit-time stats) and fold row-group
  *    stats to file level. Footers are fetched on a bounded thread pool
  *    — at cluster scale the per-commit file count is bounded by the
  *    write's own task count, so this never becomes a table-sized walk.
  *  - STORE ([[write]]): one immutable `_stats/<gen>` file per
  *    generation, published atomically (temp + create-only) BEFORE the
  *    commit pointer, so a published commit either has complete stats or
  *    none ([[read]] treats absence/corruption as "no stats").
  *  - PRUNE ([[mightMatch]]): conservative interval tests for
  *    null-rejecting range/equality predicates. Unknown stats, unknown
  *    kinds, or type-mismatched literals always KEEP the file, so
  *    pruning can only ever be a performance win, never a correctness
  *    risk — the caller still applies the real filter to the kept rows.
  *
  * Supported stat kinds: signed integers (INT32/INT64 → long; DATE →
  * epoch-day long; TIMESTAMP → micros long regardless of the file's
  * physical unit), FLOAT/DOUBLE → double (NaN bounds degrade to
  * unknown), UTF-8 strings (compared in parquet's own unsigned-byte
  * order — truncated binary bounds stay valid bounds, parquet's
  * truncator widens them). Everything else (decimal, unsigned ints,
  * nested, INT96) records as unknown and never prunes.
  */
object FileStats {

  /** Per-file stats of one column. `kind`: "long" | "double" | "string"
    * (min/max set) | "none" (every value null — prunable by any
    * null-rejecting predicate) | "unk" (no usable stats — never prune).
    * `nullCount` is -1 when the footer didn't record it.
    */
  final case class ColStats(kind: String, nullCount: Long,
      min: String, max: String)

  /** Stats of one parquet data file (name relative to its gen dir). */
  final case class FileEntry(file: String, rows: Long,
      cols: Map[String, ColStats])

  // ------------------------------------------------------------- predicates

  /** Null-rejecting pruning predicates (conjunction semantics in
    * [[mightMatchAll]]). Literal domains: Long/Int for "long" columns
    * (dates as epoch-day, timestamps as micros), Double/Float/Long/Int
    * for "double", String for "string"; anything else keeps the file.
    */
  sealed trait Pred { def col: String }
  final case class Ge(col: String, v: Any) extends Pred
  final case class Le(col: String, v: Any) extends Pred
  final case class Eq(col: String, v: Any) extends Pred
  final case class Between(col: String, lo: Any, hi: Any) extends Pred
  /** Membership in a small literal set (dynamic file pruning: the set is
    * a filtered dimension's join keys). A file is kept when ANY value
    * falls inside its [min, max] — still conservative, never exact.
    */
  final case class In(col: String, vs: Seq[Any]) extends Pred

  /** Epoch micros of a session-TZ(UTC) wall-clock literal — the "long"
    * domain literal for TIMESTAMP columns.
    */
  def tsMicros(isoDateTime: String): Long = {
    val ldt = java.time.LocalDateTime.parse(isoDateTime)
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
      ldt.getNano / 1000L
  }

  // ------------------------------------------------------------- collection

  private def footerKind(pt: PrimitiveType): String = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 => ann match {
        case null => "long"
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "long"
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => "long"
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          if (i.isSigned) "long" else "unk"
        case _ => "unk" // decimal etc.
      }
      case FLOAT | DOUBLE => "double"
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
        case _ => "unk"
      }
      case _ => "unk"
    }
  }

  /** Micros multiplier for INT64 timestamps (physical unit varies). */
  private def tsScaleToMicros(pt: PrimitiveType): Option[Long => Long] =
    pt.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        import LogicalTypeAnnotation.TimeUnit._
        t.getUnit match {
          case MILLIS => Some(v => v * 1000L)
          case MICROS => Some(v => v)
          case NANOS => Some(v => Math.floorDiv(v, 1000L))
        }
      case _ => None
    }

  private def utf8Cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Fold one file's row-group stats for `cols` to file level. Any group
    * whose stats are unusable for a column degrades that column to
    * "unk"; a column provably all-null in every group is "none".
    */
  private def statFile(conf: Configuration, p: Path,
      cols: Set[String]): FileEntry = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // per col: (kind, usable, sawValues, nullCount, min, max) folded
      var acc = Map.empty[String, (String, Boolean, Boolean, Long, Any, Any)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (cols.contains(name)) {
          val kind = footerKind(c.getPrimitiveType)
          val st = c.getStatistics
          val prev = acc.getOrElse(name,
            (kind, true, false, 0L, null, null))
          val next =
            if (kind == "unk" || st == null || !prev._2) (kind, false, prev._3, -1L, null, null)
            else {
              val nulls =
                if (st.isNumNullsSet && prev._4 >= 0) prev._4 + st.getNumNulls
                else -1L
              if (!st.hasNonNullValue) {
                // usable only if provably all-null in this group
                val allNull = st.isNumNullsSet &&
                  st.getNumNulls == c.getValueCount
                if (allNull) (kind, true, prev._3, nulls, prev._5, prev._6)
                else (kind, false, prev._3, -1L, null, null)
              } else {
                val (mn, mx): (Any, Any) = kind match {
                  case "long" =>
                    val scale = tsScaleToMicros(c.getPrimitiveType)
                      .getOrElse((v: Long) => v)
                    (scale(st.genericGetMin.asInstanceOf[Number].longValue),
                      scale(st.genericGetMax.asInstanceOf[Number].longValue))
                  case "double" =>
                    (st.genericGetMin.asInstanceOf[Number].doubleValue,
                      st.genericGetMax.asInstanceOf[Number].doubleValue)
                  case "string" =>
                    (st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                      st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
                }
                val bad = kind == "double" &&
                  (mn.asInstanceOf[Double].isNaN || mx.asInstanceOf[Double].isNaN)
                if (bad) (kind, false, prev._3, -1L, null, null)
                else if (!prev._3) (kind, true, true, nulls, mn, mx)
                else {
                  val lo = kind match {
                    case "long" => if (mn.asInstanceOf[Long] < prev._5.asInstanceOf[Long]) mn else prev._5
                    case "double" => if (mn.asInstanceOf[Double] < prev._5.asInstanceOf[Double]) mn else prev._5
                    case "string" => if (utf8Cmp(mn.asInstanceOf[Array[Byte]], prev._5.asInstanceOf[Array[Byte]]) < 0) mn else prev._5
                  }
                  val hi = kind match {
                    case "long" => if (mx.asInstanceOf[Long] > prev._6.asInstanceOf[Long]) mx else prev._6
                    case "double" => if (mx.asInstanceOf[Double] > prev._6.asInstanceOf[Double]) mx else prev._6
                    case "string" => if (utf8Cmp(mx.asInstanceOf[Array[Byte]], prev._6.asInstanceOf[Array[Byte]]) > 0) mx else prev._6
                  }
                  (kind, true, true, nulls, lo, hi)
                }
              }
            }
          acc = acc.updated(name, next)
        }
      }
      val colStats = acc.map { case (name, (kind, usable, sawValues, nulls, mn, mx)) =>
        name -> {
          if (!usable) ColStats("unk", -1L, "", "")
          else if (!sawValues) ColStats("none", nulls, "", "")
          else kind match {
            case "string" => ColStats(kind, nulls,
              enc(new String(mn.asInstanceOf[Array[Byte]], "UTF-8")),
              enc(new String(mx.asInstanceOf[Array[Byte]], "UTF-8")))
            case _ => ColStats(kind, nulls, mn.toString, mx.toString)
          }
        }
      }
      FileEntry(p.getName, rows, colStats)
    } finally r.close()
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Fault-injection seam (FileStatsSpec): called once per footer read
    * so a spec can make collection fail and prove the COMMIT survives —
    * stats are optional, a footer failure degrades to no stats file.
    */
  @volatile private[sinks] var collectFailpoint: Path => Unit = _ => ()

  /** Footer-only stats of every parquet data file under `genDir`. */
  def collect(conf: Configuration, fs: FileSystem, genDir: Path,
      cols: Seq[String]): Seq[FileEntry] = {
    val files = fs.listStatus(genDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    if (files.isEmpty) return Nil
    val colSet = cols.toSet
    val pool = Executors.newFixedThreadPool(math.min(8, files.length))
    try {
      val futs = files.map(p => pool.submit(new Callable[FileEntry] {
        def call(): FileEntry = { collectFailpoint(p); statFile(conf, p, colSet) }
      }))
      futs.map(_.get(600, TimeUnit.SECONDS)).toSeq
    } finally pool.shutdownNow() // interrupt stragglers on failure; no-op on success
  }

  /** Per-file footer row counts under `genDir` (metadata-only; bloom
    * sizing uses a file's row count as the NDV upper bound).
    */
  def rowCounts(conf: Configuration, fs: FileSystem,
      genDir: Path): Map[String, Long] = {
    val files = fs.listStatus(genDir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    files.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try p.getName -> r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.toMap
  }

  // ------------------------------------------------------------ persistence

  private def statsDir(table: Path) = new Path(table, "_stats")
  def statsPath(table: Path, gen: String): Path =
    new Path(statsDir(table), gen)

  /** Persist one generation's stats atomically (temp + create-only):
    * readers observe the complete file or none. One line per (file,
    * column): `file rows col kind nullCount min max`, URL-escaped.
    */
  def write(fs: FileSystem, table: Path, gen: String,
      entries: Seq[FileEntry]): Unit = {
    val sd = statsDir(table)
    fs.mkdirs(sd)
    val lines = for {
      e <- entries
      (c, st) <- e.cols.toSeq.sortBy(_._1)
    } yield Seq(enc(e.file), e.rows.toString, enc(c), st.kind,
      st.nullCount.toString, st.min, st.max).mkString(" ")
    val tmp = new Path(sd, s".$gen.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if (!Pointers.publishNew(fs, tmp, statsPath(table, gen)))
      fs.delete(tmp, false) // someone already published identical stats
  }

  // Parsed stats sidecars (see [[MetaCache.sidecar]]); a serving
  // pattern replans the same pruning repeatedly.
  private val readCache = new MetaCache[String, Seq[FileEntry]](16)

  /** One sidecar line → (file, rows, col, stats), or None when
    * malformed (skipped, like the inline parser always did). Exposed so
    * [[Generations.checkpointMeta]] can parse sidecars DISTRIBUTED —
    * the driver-side [[read]] path and the meta checkpoint must agree
    * on the format by construction.
    */
  def parseLine(l: String): Option[(String, Long, String, ColStats)] = {
    val p7 = l.split(" ", 7)
    if (p7.length != 7) None
    else scala.util.Try((dec(p7(0)), p7(1).toLong, dec(p7(2)),
      ColStats(p7(3), p7(4).toLong, p7(5), p7(6)))).toOption
  }

  /** Driver-side [[read]] invocations on the CURRENT thread —
    * instrumentation for the distributed-metadata-planning contract (a
    * meta-planned prune must parse ZERO sidecars on the driver;
    * MetaPlanSpec asserts it). Thread-local so concurrent suites
    * sharing the JVM can't perturb each other's delta.
    */
  val readCalls: ThreadLocal[Long] =
    ThreadLocal.withInitial(() => 0L)

  /** The generation's stats, or None when absent/unreadable — callers
    * must treat None (and any file not listed) as "keep everything".
    */
  def read(fs: FileSystem, table: Path, gen: String): Option[Seq[FileEntry]] = {
    readCalls.set(readCalls.get + 1)
    MetaCache.sidecar(readCache, fs, statsPath(table, gen)) { bytes =>
      val byFile = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, scala.collection.mutable.Map[String, ColStats])]
      new String(bytes, "UTF-8").linesIterator.filter(_.nonEmpty).foreach { l =>
        parseLine(l).foreach { case (f, rows, c, st) =>
          val e = byFile.getOrElseUpdate(f,
            (rows, scala.collection.mutable.Map.empty))
          e._2(c) = st
        }
      }
      Some(byFile.toSeq.map { case (f, (rows, cols)) =>
        FileEntry(f, rows, cols.toMap) })
    }
  }

  /** Delete the stats file of a generation (gc hook). */
  def delete(fs: FileSystem, table: Path, gen: String): Unit = {
    val p = statsPath(table, gen)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Stats files with no surviving generation directory (gc debris). */
  def orphans(fs: FileSystem, table: Path, liveGens: Set[String]): Seq[Path] = {
    val sd = statsDir(table)
    if (!fs.exists(sd)) Nil
    else fs.listStatus(sd).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !liveGens.contains(p.getName))
      .toSeq
  }

  /** In-flight stats temp files (`.<gen>.<uuid>.tmp`) — a crash between
    * tmp create and publish leaks one forever otherwise ([[orphans]]
    * skips dot-prefixed names by design). gc sweeps these under the
    * same age gate as orphan stats files.
    */
  def tmpDebris(fs: FileSystem, table: Path): Seq[Path] = {
    val sd = statsDir(table)
    if (!fs.exists(sd)) Nil
    else fs.listStatus(sd).map(_.getPath)
      .filter(p => p.getName.startsWith(".") && p.getName.endsWith(".tmp"))
      .toSeq
  }

  // --------------------------------------------------------------- pruning

  private def cmpTo(kind: String, stored: String, v: Any): Option[Int] =
    kind match {
      case "long" => v match {
        case l: Long => Some(java.lang.Long.compare(stored.toLong, l))
        case i: Int => Some(java.lang.Long.compare(stored.toLong, i.toLong))
        case _ => None
      }
      case "double" =>
        val d = v match {
          case x: Double => Some(x)
          case x: Float => Some(x.toDouble)
          case x: Long => Some(x.toDouble)
          case x: Int => Some(x.toDouble)
          case _ => None
        }
        d.filterNot(_.isNaN)
          .map(x => java.lang.Double.compare(stored.toDouble, x))
      case "string" => v match {
        case s: String =>
          Some(utf8Cmp(dec(stored).getBytes("UTF-8"), s.getBytes("UTF-8")))
        case _ => None
      }
      case _ => None
    }

  /** Conservative test: can any row of `entry`'s file satisfy `p`? All
    * predicates are null-rejecting, so an all-null column ("none")
    * excludes the file; anything unknown keeps it.
    */
  def mightMatch(entry: FileEntry, p: Pred): Boolean =
    entry.cols.get(p.col) match {
      case None => true
      case Some(st) => st.kind match {
        case "unk" => true
        case "none" => false
        case _ => p match {
          case Ge(_, v) => cmpTo(st.kind, st.max, v).forall(_ >= 0)
          case Le(_, v) => cmpTo(st.kind, st.min, v).forall(_ <= 0)
          case Eq(_, v) => cmpTo(st.kind, st.max, v).forall(_ >= 0) &&
            cmpTo(st.kind, st.min, v).forall(_ <= 0)
          case Between(_, lo, hi) =>
            cmpTo(st.kind, st.max, lo).forall(_ >= 0) &&
              cmpTo(st.kind, st.min, hi).forall(_ <= 0)
          case In(_, vs) => vs.isEmpty || vs.exists(v =>
            cmpTo(st.kind, st.max, v).forall(_ >= 0) &&
              cmpTo(st.kind, st.min, v).forall(_ <= 0))
        }
      }
    }

  /** Conjunction over `preds` (empty = keep). */
  def mightMatchAll(entry: FileEntry, preds: Seq[Pred]): Boolean =
    preds.forall(mightMatch(entry, _))
}
