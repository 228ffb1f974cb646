package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Knob budget: every query has one plan, so the `graft.*` system
  * properties main code reads are only the ones a deployment sets or a
  * spec uses to force a measured tier — never a switch that keeps a
  * superseded plan reachable for an A/B. A new property has to be added
  * to this list on purpose. */
class KnobBudgetSpec extends AnyFunSuite {

  private val Survivors = Set(
    "graft.replay.partitions", // stateful shuffle width (deployment)
    "graft.lsh.prefilter.minreps", // LSH probe verify gate (spec-only)
    "graft.phash64.uf.cap", // pHash union-find tier gate (spec-only)
    "graft.dict.minfactor") // distinct-text dictionary tier gate (spec-only)

  private val PropRead =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"(graft\.[^"]+)"""".r

  test("src/main reads exactly the surviving graft.* system properties") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "source tree not found from the test working directory")
    val reads: Map[String, Seq[Path]] = files
      .flatMap(f => PropRead.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f))
      .groupMap(_._1)(_._2)
    assert(reads.keySet == Survivors,
      s"unexpected: ${(reads.keySet -- Survivors).map(k => k -> reads(k).distinct)}, " +
        s"missing: ${Survivors -- reads.keySet}")
  }
}
