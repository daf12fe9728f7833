package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** e2ebench's traced `corpus` pass splits the verb's jobs into stages
  * by source lines of `Main.scala` (`CorpusStages.boundaries` in
  * `e2ebench/src/graftbench/Corpus.scala`) and throws when a marker is
  * missing. This pins the same markers, in the same order, inside the
  * verb, so a refactor of the verb fails here rather than in a
  * benchmark run. */
class CorpusStageMarkersSpec extends AnyFunSuite {

  test("the corpus verb keeps the benchmark's stage markers, in order") {
    val lines = Files.readAllLines(
      Paths.get("src/main/scala/graft/Main.scala")).asScala.toVector
    val verb = lines.indexWhere(_.contains("case \"corpus\" ::"))
    assert(verb >= 0, "no `case \"corpus\" ::` in Main.scala")
    // the verb ends where the next verb's case begins
    val end = lines.indexWhere(_.trim.matches("case \"\\w+\" ::.*"), verb + 1)
    assert(end > verb, "no verb after the corpus verb")
    val markers = Seq(
      "rest.contains(\"-exactsubstr\")",
      "rest.contains(\"-temperature\")",
      "var corpus = kept",
      ".parquet(s\"$outDir/corpus\")")
    val at = markers.map(m => m -> lines.indexWhere(_.contains(m), verb))
    at.foreach { case (m, i) =>
      assert(i > verb && i < end, s"stage marker `$m` not inside the corpus verb")
    }
    assert(at.map(_._2) == at.map(_._2).sorted.distinct,
      s"stage markers out of order: $at")
  }
}
