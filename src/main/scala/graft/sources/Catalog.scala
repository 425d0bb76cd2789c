package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_csv}

import graft.model.Schemas
import graft.sinks.ObjectSink

/** Source-catalog reader/writer (reference S1-S3 + E1, SURVEY.md §2.1).
  *
  * One quote-aware CSV parser with a declared schema replaces the
  * reference's two inconsistent parsers (naive `split(',')` at
  * `data_harvester.py:28` vs. the `csv` module at `data_downloader.py:42`)
  * — decision recorded in SURVEY.md §1.3. Rows are `\r\n`-separated
  * (`data_harvester.py:27`); the header row is consumed by the parser
  * instead of leaking through the Active filter.
  */
object Catalog {

  /** The default fixture shipped with the repo (FIXTURES.md §1). */
  val fixturePath = "/root/repo/fixtures/sources.csv"

  def read(spark: SparkSession, path: String = fixturePath): DataFrame =
    spark.read
      .option("header", "true")
      .option("lineSep", "\r\n")
      .option("quote", "\"")
      .schema(Schemas.catalog)
      .csv(path)

  /** [[read]] with corrupt-row capture: rows the quote-aware parser can't
    * bind to the declared schema surface in `_corrupt_record` (raw line)
    * instead of silently becoming all-null rows — at 100 TB ingest the
    * malformed minority must be routable to the alert path (E2), never
    * silently dropped. Callers split on `_corrupt_record IS NULL`.
    */
  def readAudited(spark: SparkSession, path: String = fixturePath): DataFrame =
    spark.read
      .option("header", "true")
      .option("lineSep", "\r\n")
      .option("quote", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(Schemas.catalog.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .csv(path)

  /** E1 applied to the LIVE catalog file: collect the updated catalog as
    * CSV lines (`to_csv` with the reader's `\r\n` line separator, so the
    * bytes are those of Spark's CSV writer with a header), then PUT them
    * over `path` in ONE atomic replace ([[ObjectSink.put]]):
    * a complete catalog is on disk at every instant, and the update plan,
    * which lazily reads `path`, has finished reading before the replace.
    * Single-writer by contract (SURVEY.md §7.3), the same lost-update
    * exposure as the reference; later batches re-read the replaced file,
    * so flags from earlier batches accumulate instead of being recomputed
    * from the original catalog. On an S3-class store the same replace is
    * one overwrite `put_object`, exactly what the reference's own S3 path
    * does (`data_downloader.py:169`). The catalog is broadcast-sized by
    * design (thousands of rows), never a distributed dataset.
    */
  def replaceInPlace(df: DataFrame, path: String): Unit = {
    import df.sparkSession.implicits._
    val lineSep = "\r\n"
    val rows = df.select(to_csv(struct(df.columns.toSeq.map(col): _*),
      java.util.Map.of("lineSep", lineSep))).as[String].collect()
    val target = Paths.get(path).toAbsolutePath
    ObjectSink.put(target.getParent.toString, target.getFileName.toString,
      (df.columns.mkString(",") +: rows).map(_ + lineSep).mkString.getBytes(UTF_8),
      overwrite = true)
  }
}
