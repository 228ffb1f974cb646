package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Knob budget: every query has one plan, so the `graft.*` system
  * properties main code reads are only the ones a deployment sets or a
  * spec uses to force a measured tier — never a switch that keeps a
  * superseded plan reachable for an A/B. A new property has to be added
  * to this list on purpose; so does a new `SPARK_GRAFT_*` environment
  * variable. */
class KnobBudgetSpec extends AnyFunSuite {

  private val Survivors = Set(
    "graft.replay.partitions", // stateful shuffle width (deployment)
    "graft.lsh.prefilter.minreps", // LSH probe verify gate (spec-only)
    "graft.phash64.uf.cap", // pHash union-find tier gate (spec-only)
    "graft.dict.minfactor") // distinct-text dictionary tier gate (spec-only)

  private val PropRead =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"(graft\.[^"]+)"""".r

  /** The `SPARK_GRAFT_*` environment variables main code names; the
    * `SPARK_GRAFT_CONF_` prefix (any Spark conf) counts as one. */
  private val EnvSurvivors = Set(
    "SPARK_GRAFT_AB_OUT", "SPARK_GRAFT_BNLJ_CAP", "SPARK_GRAFT_CONF_",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_EXPLAIN_EXEC", "SPARK_GRAFT_JARS",
    "SPARK_GRAFT_MASTER", "SPARK_GRAFT_MODELSTORE", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_PERQUERY_OUT", "SPARK_GRAFT_QUERY_TIMEOUT",
    "SPARK_GRAFT_RECEIPT_ACCEPT", "SPARK_GRAFT_SCALE_FULL",
    "SPARK_GRAFT_SCALE_MULT", "SPARK_GRAFT_SCALE_OUT",
    "SPARK_GRAFT_SCALE_QUERIES", "SPARK_GRAFT_SCALE_REPS",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_WARMUP", "SPARK_GRAFT_WARMUP_BUDGET")

  private def mainSources: Seq[Path] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "source tree not found from the test working directory")
    files
  }

  test("src/main names exactly the surviving SPARK_GRAFT_* environment variables") {
    val EnvName = "\"(SPARK_GRAFT_[A-Z0-9_]*)\"".r
    val names = mainSources
      .flatMap(f => EnvName.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
    assert(names == EnvSurvivors,
      s"unexpected: ${names -- EnvSurvivors}, missing: ${EnvSurvivors -- names}")
  }

  test("src/main reads exactly the surviving graft.* system properties") {
    val reads: Map[String, Seq[Path]] = mainSources
      .flatMap(f => PropRead.findAllMatchIn(Files.readString(f)).map(m => m.group(1) -> f))
      .groupMap(_._1)(_._2)
    assert(reads.keySet == Survivors,
      s"unexpected: ${(reads.keySet -- Survivors).map(k => k -> reads(k).distinct)}, " +
        s"missing: ${Survivors -- reads.keySet}")
  }
}
