package graft.sinks

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{approx_count_distinct, col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-FILE Bloom filters for [[Generations]] tables — the third
  * data-skipping tier, between the min/max range tier ([[FileStats]])
  * and keep-everything.
  *
  * Why it exists: [[Generations.readPrunedByKeys]] (dynamic file
  * pruning) degrades to a bare min/max range once the dimension's key
  * set exceeds `maxKeys` — useless when a high-cardinality sparse key
  * set straddles the fact's clustered range (every file's [min, max]
  * intersects SOME key even though almost none actually matches). A
  * commit-time Bloom filter per (file, column) answers "could this
  * file contain ANY of the probe keys" with no false negatives, so a
  * bloom miss PRUNES the file and a hit (true or false-positive) keeps
  * it — conservative by construction, like every tier here. This is
  * the Delta Lake bloom-index posture at high join-key cardinality.
  *
  * Mechanics:
  *  - BUILD ([[build]]): one distributed pass over the freshly written
  *    generation's DATA (stats come free from footers, blooms cannot —
  *    the cost is O(new data), proportional to the write itself, the
  *    same posture as Delta's bloom index). Each (file, column) gets
  *    one [[BloomFilter]] sized by the file's footer row count (an
  *    upper bound of its NDV) at the table's declared `fpp`, capped at
  *    [[MaxItems]] — an over-full bloom only raises its false-positive
  *    rate, never produces a false negative, so saturation degrades to
  *    keep-more, not wrong results.
  *  - STORE ([[write]]): one immutable binary sidecar `_bloom/<gen>`
  *    per generation, published atomically (temp + create-only) like
  *    `_stats/<gen>`; [[read]] treats absence/corruption as "no
  *    blooms" (keep everything).
  *  - PROBE ([[mightContain]]): the probe value is normalized EXACTLY
  *    like [[build]]'s put — integers widen to long, DATE → epoch-day,
  *    TIMESTAMP → micros, strings hash as UTF-8 — so membership is
  *    well-defined across the write/read boundary. Unsupported literal
  *    domains answer true (keep).
  *
  * Only [[supportedType]] columns carry blooms: a column type whose
  * values we cannot normalize must not get a filter at all (a bloom
  * missing some of a file's values would produce FALSE NEGATIVES — the
  * one unforgivable failure for a pruning structure). Doubles are
  * deliberately unsupported: equality probes on floats are not a real
  * workload and NaN/-0.0 normalization is a trap.
  *
  * Probe-side survival math (the knob the caller owns): a file with
  * none of the K probe keys survives with p = 1 − (1 − fpp)^K, so fpp
  * must be chosen against the EXPECTED PROBE CARDINALITY, not per-key
  * comfort — fpp 0.01 keeps ~everything at K = 1000 probes. The
  * default 1e-4 (~19 bits/value) holds to K ≈ 100; declare 1e-6
  * (~29 bits) for K ≈ 10k-scale dynamic pruning — or declare the
  * cardinality itself ([[Generations.setBloomColsForProbes]]) and let
  * the dial derive fpp. [[build]] additionally enforces a minimum bit
  * count so Spark's double-hashing false-positive FLOOR (≈ 2/numBits,
  * independent of nominal fpp — see the sizing comment) never silently
  * voids the declared rate on small files.
  */
object BloomStats {

  private val Magic = 0x47424c32 // "GBL2" (v2: per-entry domain tag)

  /** Hard cap on a single bloom's sizing input: beyond this the filter
    * saturates toward keep (never wrong), and the sidecar stays
    * bounded (~34 MB at 1e-6 before the cap).
    */
  val MaxItems: Long = 8L * 1000 * 1000

  def bloomDir(table: Path): Path = new Path(table, "_bloom")
  def bloomPath(table: Path, gen: String): Path =
    new Path(bloomDir(table), gen)

  /** Column types whose values normalize losslessly into the bloom
    * domain. Anything else records NO bloom (never a partial one).
    */
  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         DateType | TimestampType => true
    case _ => false
  }

  private def putValue(bf: BloomFilter, v: Any): Unit = v match {
    case l: java.lang.Long => bf.putLong(l)
    case i: java.lang.Integer => bf.putLong(i.toLong)
    case s: java.lang.Short => bf.putLong(s.toLong)
    case b: java.lang.Byte => bf.putLong(b.toLong)
    case s: String => bf.putString(s)
    case d: java.sql.Date => bf.putLong(d.toLocalDate.toEpochDay)
    case t: java.sql.Timestamp =>
      bf.putLong(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case _ => throw new IllegalArgumentException(
      s"unbloomable value class ${v.getClass} — supportedType must gate this")
  }

  /** The hash domain of a probe value: "L" (everything long-normalized)
    * or "S" (strings); null for unprobeable values.
    */
  private def domainOf(v: Any): String = v match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte | _: java.sql.Date | _: java.sql.Timestamp => "L"
    case _: String => "S"
    case _ => null
  }

  /** A probe entry: the filter plus the domain its values were hashed
    * in. A probe value from the OTHER domain must KEEP the file —
    * `putString("42")` and `mightContainLong(42)` hash differently, so
    * a cross-domain probe (a sloppily typed join key) would otherwise
    * manufacture a FALSE NEGATIVE, the one failure a pruning structure
    * must never have.
    */
  final case class DomainBloom(domain: String, bf: BloomFilter)

  /** Membership probe under the same normalization as the build side.
    * Unknown literal domains and cross-domain probes keep the file.
    */
  def mightContain(db: DomainBloom, v: Any): Boolean = {
    val d = domainOf(v)
    if (d == null || d != db.domain) return true
    v match {
      case l: java.lang.Long => db.bf.mightContainLong(l)
      case i: java.lang.Integer => db.bf.mightContainLong(i.toLong)
      case s: java.lang.Short => db.bf.mightContainLong(s.toLong)
      case b: java.lang.Byte => db.bf.mightContainLong(b.toLong)
      case s: String => db.bf.mightContainString(s)
      case dt: java.sql.Date => db.bf.mightContainLong(dt.toLocalDate.toEpochDay)
      case t: java.sql.Timestamp =>
        db.bf.mightContainLong(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
      case _ => true
    }
  }

  def deserialize(domain: String, bytes: Array[Byte]): DomainBloom =
    DomainBloom(domain, BloomFilter.readFrom(new ByteArrayInputStream(bytes)))

  /** One-slot per-JVM cache of a probe's deserialized blooms, keyed by
    * broadcast id: without it every PARTITION of the probe job pays the
    * full (files × MB) deserialization (measured rep-dominant at the
    * sf1 probe — GBs of re-parsing for a job whose hashing is
    * milliseconds). One slot bounds the memory to a single probe's
    * filters per executor; a racing replace just re-deserializes.
    */
  @volatile private var probeSlot: (Long, Map[String, DomainBloom]) =
    (-1L, Map.empty)
  private val probeLock = new Object
  private[sinks] def probeCache(id: Long,
      bytes: Seq[(String, (String, Array[Byte]))]): Map[String, DomainBloom] = {
    val s = probeSlot
    if (s._1 == id) s._2
    else probeLock.synchronized { // double-checked: one task pays per id
      val s2 = probeSlot
      if (s2._1 == id) s2._2
      else {
        val m = bytes.map { case (f, (d, b)) => f -> deserialize(d, b) }.toMap
        probeSlot = (id, m)
        m
      }
    }
  }

  /** One distributed pass over the generation's data: a bloom per
    * (file, supported declared column), partial blooms merged by key
    * (same sizing per file ⇒ mergeable). The driver collect is bounded
    * by THIS COMMIT's file count × column count — the same bound as
    * footer stats, never a table-wide walk.
    */
  /** Fault-injection seam (BloomStatsSpec): blooms are optional — a
    * build failure must degrade the commit to "no sidecar", not abort.
    */
  @volatile private[sinks] var buildFailpoint: () => Unit = () => ()

  def build(spark: SparkSession, genDir: Path, cols: Seq[String],
      rowsPerFile: Map[String, Long], fpp: Double)
      : Seq[(String, String, DomainBloom)] = {
    buildFailpoint()
    val df = spark.read.parquet(genDir.toString)
    val present = cols.filter(c => df.schema.fieldNames.contains(c) &&
      supportedType(df.schema(c).dataType))
    if (present.isEmpty) return Nil
    // collision-proof name for the synthetic file column (a data column
    // named "_f" would make the groupBy ambiguous)
    val fc = "_graft_bloom_file"
    val sel = df.select(input_file_name().as(fc) +: present.map(col): _*)
    // size by measured per-file NDV, not row count: a 4-rows-per-key
    // fact sized by rows carries 4× the bits for the same fpp (the r17
    // sf10 probe's 6.8 MB/file). approx_count_distinct under-estimating
    // only over-fills the filter — higher effective fpp, never a false
    // negative — so 1.3× headroom is enough; row count stays the cap.
    val ndv: Map[(String, String), Long] = {
      val aggs = present.map(c => approx_count_distinct(col(c)).as(c))
      sel.groupBy(col(fc)).agg(aggs.head, aggs.tail: _*).collect()
        .flatMap { r =>
          val f = fileNameOf(r.getString(0))
          present.zipWithIndex.map { case (c, i) =>
            (f, c) -> (if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1))
          }
        }.toMap
    }
    // IMPLEMENTATION FLOOR (measured, r19): Spark's BloomFilterImpl
    // combines positions as h1 + i·h2 mod numBits, and the degenerate
    // h2 strata (h2 ≡ 0 mod m, small gcd(h2, m)) give every filter an
    // effective false-positive floor ≈ c/numBits with c ≈ 2 REGARDLESS
    // of the nominal fpp — a 156-item filter at nominal 2.5e-5 measured
    // 5.2e-4 (21×) on random keys. Small files would silently void any
    // dialed fpp ([[Generations.fppForProbes]]), so sizing enforces a
    // minimum BIT count numBits ≥ FloorC/fpp (floor ≤ fpp/2 at c ≤ 2),
    // expressed through the items parameter (items = bits·ln²2/−ln fpp).
    // Large files size past the floor naturally — at the 100 TB design
    // point (10⁵+ NDV/file) this costs nothing; for small files it is
    // the honest price of the declared fpp (20 KB/file at 2.5e-5).
    val FloorC = 4.0
    val floorItems = math.ceil(
      (FloorC / fpp) * 0.4804530139182014 / -math.log(fpp)).toLong
    val sizing: Map[(String, String), Long] = ndv.map { case (k, d) =>
      val rows = math.max(rowsPerFile.getOrElse(k._1, 1L), 1L)
      k -> math.min(
        math.max(math.min(math.max(d * 13L / 10L, 64L), rows), floorItems),
        MaxItems)
    }
    val bcSize = spark.sparkContext.broadcast(sizing)
    val nCols = present.length
    val colNames = present.toArray
    val theFpp = fpp
    val partial = sel.rdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, String), BloomFilter]
      it.foreach { r =>
        val f = fileNameOf(r.getString(0))
        var i = 1
        while (i <= nCols) {
          if (!r.isNullAt(i)) {
            val key = (f, colNames(i - 1))
            val bf = acc.getOrElseUpdate(key,
              BloomFilter.create(bcSize.value.getOrElse(key, 64L), theFpp))
            putValue(bf, r.get(i))
          }
          i += 1
        }
      }
      acc.iterator
    }
    val merged = partial.reduceByKey(_ mergeInPlace _).collect()
    bcSize.unpersist()
    val domains = present.map(c => c -> (df.schema(c).dataType match {
      case StringType => "S"
      case _ => "L"
    })).toMap
    merged.map { case ((f, c), bf) =>
      (f, c, DomainBloom(domains(c), bf)) }.toSeq
  }

  private def fileNameOf(uri: String): String = {
    val i = uri.lastIndexOf('/')
    if (i < 0) uri else uri.substring(i + 1)
  }

  /** Persist one generation's blooms atomically (temp + create-only),
    * mirroring `_stats`: readers observe the complete sidecar or none.
    */
  def write(fs: FileSystem, table: Path, gen: String,
      entries: Seq[(String, String, DomainBloom)]): Unit = {
    if (entries.isEmpty) return
    val bd = bloomDir(table)
    fs.mkdirs(bd)
    val tmp = new Path(bd,
      s".$gen.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, false)))
    try {
      out.writeInt(Magic)
      out.writeInt(entries.length)
      entries.foreach { case (f, c, db) =>
        out.writeUTF(f)
        out.writeUTF(c)
        out.writeUTF(db.domain)
        val bos = new ByteArrayOutputStream()
        db.bf.writeTo(bos)
        val b = bos.toByteArray
        out.writeInt(b.length)
        out.write(b)
      }
    } finally out.close()
    if (!Pointers.publishNew(fs, tmp, bloomPath(table, gen)))
      fs.delete(tmp, false) // someone already published identical blooms
  }

  // Parsed sidecars (see [[MetaCache.sidecar]]): replanning the same
  // probe, the serving pattern, must not re-read megabytes of sidecar
  // per plan (the r17 sf10 probe measured the re-read as the dominant
  // per-plan cost). Its `misses` count the driver-side sidecar parses.
  private[graft] val readCache =
    new MetaCache[String, Map[(String, String), (String, Array[Byte])]](8)

  /** Parse one serialized sidecar's bytes (the stream format [[write]]
    * produces) into (domain, serialized bloom) by (file, column); None
    * on any corruption. Shared by the driver path ([[read]]) and the
    * DISTRIBUTED checkpoint fold ([[Generations.checkpointMeta]] reads
    * sidecars as binaryFile rows and parses them executor-side).
    */
  def parseBytes(bytes: Array[Byte])
      : Option[Map[(String, String), (String, Array[Byte])]] =
    try {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      if (in.readInt() != Magic) return None
      val n = in.readInt()
      if (n < 0 || n > 1000000) return None
      val m = Map.newBuilder[(String, String), (String, Array[Byte])]
      var i = 0
      while (i < n) {
        val f = in.readUTF()
        val c = in.readUTF()
        val d = in.readUTF()
        val len = in.readInt()
        if (len < 0) return None
        val b = new Array[Byte](len)
        in.readFully(b)
        m += ((f, c) -> ((d, b)))
        i += 1
      }
      Some(m.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The generation's (domain, serialized bloom) by (file, column), or
    * None when absent/corrupt — callers treat None (and any missing
    * entry) as "keep everything". Bytes stay serialized so the caller
    * can ship them in a broadcast and deserialize executor-side.
    */
  def read(fs: FileSystem, table: Path,
      gen: String): Option[Map[(String, String), (String, Array[Byte])]] =
    MetaCache.sidecar(readCache, fs, bloomPath(table, gen))(parseBytes)

  /** Delete the bloom sidecar of a generation (gc hook). */
  def delete(fs: FileSystem, table: Path, gen: String): Unit = {
    val p = bloomPath(table, gen)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Bloom sidecars with no surviving generation directory (gc debris),
    * plus stale in-flight `.tmp` files — same sweep contract as
    * [[FileStats.orphans]]/[[FileStats.tmpDebris]].
    */
  def orphans(fs: FileSystem, table: Path, liveGens: Set[String]): Seq[Path] = {
    val bd = bloomDir(table)
    if (!fs.exists(bd)) Nil
    else fs.listStatus(bd).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !liveGens.contains(p.getName))
      .toSeq
  }

  def tmpDebris(fs: FileSystem, table: Path): Seq[Path] = {
    val bd = bloomDir(table)
    if (!fs.exists(bd)) Nil
    else fs.listStatus(bd).map(_.getPath)
      .filter(p => p.getName.startsWith(".") && p.getName.endsWith(".tmp"))
      .toSeq
  }
}
