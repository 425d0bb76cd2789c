package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (SURVEY.md §5.2). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private var suiteRoot: Option[Path] = None

  /** A fresh `<name>…` dir under this suite's own `graft-suite…` root,
    * which is deleted with everything under it after the suite. */
  def suiteDir(name: String): Path = synchronized {
    val root = suiteRoot.getOrElse {
      val r = Files.createTempDirectory("graft-suite")
      suiteRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, name)
  }

  override protected def afterAll(): Unit =
    try synchronized(suiteRoot.foreach(SparkSpec.deleteTree))
    finally super.afterAll()

  /** Runs `body` on a fresh `graft-<name>` temp dir, deleted with
    * everything under it when `body` ends, passed or failed. */
  def withTempDir[T](name: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(s"graft-$name")
    try body(dir)
    finally SparkSpec.deleteTree(dir)
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

  private def deleteTree(dir: Path): Unit = {
    val s = Files.walk(dir)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
    finally s.close()
  }
}
