package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (SURVEY.md §5.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` on a fresh `graft-<name>` temp dir, deleted with
    * everything under it when `body` ends, passed or failed. */
  def withTempDir[T](name: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(s"graft-$name")
    try body(dir)
    finally {
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
