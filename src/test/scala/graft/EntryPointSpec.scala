package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ratchet on the program's entry points: `src/main` has four mains
  * (Bench, Verify, ScaleData, ShuffleBudget) and builds a SparkSession
  * only in them. A one-off diagnostic main belongs in a spec (its law
  * then runs on every `sbt test`) or in `etlbench --trace 1` (per-layer
  * timing), not back in `src/main`.
  */
class EntryPointSpec extends AnyFunSuite {

  test("def main and SparkSession.builder appear only in the four entry points") {
    import scala.jdk.CollectionConverters._
    val entryPoints = Set("Bench.scala", "Verify.scala", "ScaleData.scala",
      "ShuffleBudget.scala")
    val forms = Seq("def main(", "SparkSession.builder")
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => entryPoints.contains(p.getFileName.toString))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if !Seq("*", "//", "/*").exists(l.trim.startsWith) &&
              forms.exists(l.contains) => s"$p:${i + 1}: ${l.trim}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      "entry point outside Bench/Verify/ScaleData/ShuffleBudget:\n" +
        offenders.mkString("\n"))
  }
}
