package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.sinks.MetaCache

/** Driver-table loaders. The `events.ts` column has drifted across writer
  * versions — TIMESTAMP(NANOS) (read as LongType under
  * `spark.sql.legacy.parquet.nanosAsLong`, set in Verify/Bench/test
  * sessions), TIMESTAMP_MICROS(isAdjustedToUTC=false) (read as
  * TIMESTAMP_NTZ by Spark 4), and plain TIMESTAMP — so the loader
  * normalizes all three to session-TZ TIMESTAMP here, in one place. The
  * nanos long is truncated to micros with integral `div` (a double
  * division would lose precision on ns epochs ~1.7e18); the NTZ cast is
  * an identity wall-clock reinterpretation under the UTC session TZ.
  * Oracles mirror this with `CAST(ts AS TIMESTAMP)`.
  */
object Tables {

  val nanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  // Schemas and row counts of the STATIC driver tables, the metastore
  // role a catalog table would play: plain `spark.read.parquet`
  // re-infers the schema from file footers on every call (~60-70 ms
  // here), and a bench sweep issues thousands of such reads. Keyed by
  // (path, leaf-file fingerprint), so a driver-refresh rewrite (the
  // documented events.ts encoding drift) re-infers.
  private val schemaCache =
    new MetaCache[(String, String), StructType](MetaCache.SmallEntries)
  private val countCache =
    new MetaCache[(String, String), Long](MetaCache.SmallEntries)

  /** Recursive leaf data files of a parquet path via the path's own
    * Hadoop FileSystem — works for directories, nested (partitioned)
    * layouts, single files, and non-local URIs alike. Empty when the
    * path does not exist.
    */
  private def leafParquetFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    val out = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(p, /* recursive = */ true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_"))
        out += st
    }
    out.result()
  }

  /** Content fingerprint of a parquet path's leaf files: every file's
    * (name, length, mtime) folded into one string. Resolved through the
    * Hadoop FileSystem (r19 ADVICE: java.io.File reports mtime=0/len=0
    * for non-local URIs, and a directory's own mtime does not change
    * when an existing part file is rewritten in place — per-leaf stats
    * catch both), so an in-place same-length rewrite within one mtime
    * tick is the only residual blind spot, vs whole classes before.
    */
  private def fingerprint(files: Seq[FileStatus]): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
    files.sortBy(_.getPath.toString).foreach { st =>
      h.update(s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime};"
        .getBytes("UTF-8"))
    }
    s"n=${files.size};" + java.util.Base64.getEncoder.encodeToString(h.digest())
  }

  /** `spark.read.parquet(path)` with the inferred schema memoized per
    * (path, leaf-file fingerprint). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = leafParquetFiles(spark, path)
    if (files.isEmpty) spark.read.parquet(path) // absent/empty: no cache
    else {
      val sch = schemaCache((path, fingerprint(files)))(
        spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }
  }

  /** Exact row count of a parquet table from file FOOTERS — driver-side
    * metadata only, no Spark job (the same read `FileStats` does for
    * data-skipping stats). Memoized under the same key as [[read]]'s
    * schema; recurses into partitioned/nested layouts and THROWS when
    * no data file exists (r19 ADVICE: a silent 0 would size operators
    * to one cell with no diagnostic).
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val files = leafParquetFiles(spark, path)
    if (files.isEmpty) throw new IllegalArgumentException(
      s"parquetRowCount($path): no parquet data files found")
    countCache((path, fingerprint(files))) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Normalize a `ts` column of any of the three observed encodings to
    * session-TZ TIMESTAMP. Safe to call on already-normalized frames.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName,
          expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
}
