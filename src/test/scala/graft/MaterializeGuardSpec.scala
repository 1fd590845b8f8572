package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard (the EntrySpec style) for the materialization seam:
  * every eager checkpoint and every observed metric in `src/main` goes
  * through [[Materialize]], so its policy and its observation naming
  * each exist once. */
class MaterializeGuardSpec extends AnyFunSuite {
  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"source root not found from ${
      Paths.get(".").toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  private def hits(needle: String, files: Seq[Path]): Seq[String] = for {
    p <- files
    (line, i) <- Files.readString(p).linesIterator.zipWithIndex.toSeq
    if line.contains(needle)
  } yield s"$p:${i + 1}"

  test("localCheckpoint and Observation appear in src/main only in Materialize.scala") {
    val (seam, rest) =
      sources.partition(_.getFileName.toString == "Materialize.scala")
    // the scan must see the seam itself, or it passes vacuously
    assert(hits("localCheckpoint(", seam).nonEmpty,
      "Materialize.scala not found under src/main/scala")
    for (needle <- Seq("localCheckpoint(", "Observation(")) {
      val found = hits(needle, rest)
      assert(found.isEmpty, s"$needle outside Materialize: $found")
    }
  }

  test("the retired stderr trace knob is read nowhere in src/main") {
    val found = hits("spark.graft.bench.trace", sources)
    assert(found.isEmpty, s"spark.graft.bench.trace in: $found")
  }
}
