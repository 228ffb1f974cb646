package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Knob budget: every query has one plan, and a query's settings belong
  * to its session, never to the process. `src/main` reads no `graft.*`
  * system property and writes no system property at all; the query
  * packages read no environment variable and no system property but the
  * JVM's temp dir; a spec forces a tier by calling it with the tier as an
  * argument. The harness mains name exactly the `SPARK_GRAFT_*`
  * environment variables listed here: a new one has to be added to this
  * list on purpose. */
class KnobBudgetSpec extends AnyFunSuite {

  /** The packages a query's plan is built in. */
  private val QueryDirs = Seq("ops", "functions", "streaming", "multimodal", "sources", "plans")

  private val PropRead =
    """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"([^"]+)"""".r
  private val AnyPropUse = """sys\.props|System\.getProperty""".r
  private val EnvRead = """sys\.env|System\.getenv""".r
  private val PropWrite =
    ("""sys\.props\s*(?:\([^)]*\)\s*=(?!=)|[+-]=|\.(?:put|update|remove|clear|addOne|subtractOne)\b)""" +
      """|System\.(?:setProperty|clearProperty|setProperties)""").r

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

  private def sources(root: String): Seq[(Path, String)] = {
    val files = Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"$root not found from the test working directory")
    files.map(f => f -> Files.readString(f))
  }
  private def mainSources = sources("src/main/scala")

  test("the scanners see each pinned read and write form") {
    assert(PropRead.findFirstMatchIn("""sys.props.get("graft.x")""").map(_.group(1)).contains("graft.x"))
    assert(PropRead.findFirstMatchIn("""System.getProperty( "graft.y")""").nonEmpty)
    assert(EnvRead.findFirstIn("""sys.env.contains("X")""").nonEmpty)
    Seq("""sys.props(k) = v""", """sys.props("a") = "b"""", """sys.props.remove(k)""",
      """sys.props += k -> v""", """System.setProperty(k, v)""").foreach(w =>
      assert(PropWrite.findFirstIn(w).nonEmpty, w))
    Seq("""sys.props.get(k) == v""", """sys.props("a") == "b"""").foreach(r =>
      assert(PropWrite.findFirstIn(r).isEmpty, r))
  }

  test("src/main names exactly the surviving SPARK_GRAFT_* environment variables") {
    val EnvName = "\"(SPARK_GRAFT_[A-Z0-9_]*)\"".r
    val names = mainSources.flatMap { case (_, src) => EnvName.findAllMatchIn(src).map(_.group(1)) }.toSet
    assert(names == EnvSurvivors,
      s"unexpected: ${names -- EnvSurvivors}, missing: ${EnvSurvivors -- names}")
  }

  test("src/main reads no graft.* system property") {
    val reads = mainSources.flatMap { case (f, src) =>
      PropRead.findAllMatchIn(src).map(_.group(1)).filter(_.startsWith("graft.")).map(_ -> f)
    }
    assert(reads.isEmpty, s"graft.* system property reads: $reads")
  }

  test("src/main writes no system property") {
    val writes = mainSources.flatMap { case (f, src) => PropWrite.findAllIn(src).map(f -> _) }
    assert(writes.isEmpty, s"system property writes: $writes")
  }

  test("query code reads no environment variable and no system property but java.io.tmpdir") {
    val hits = QueryDirs.flatMap(d => sources(s"src/main/scala/graft/$d")).flatMap { case (f, src) =>
      val tmpdirReads = PropRead.findAllMatchIn(src).count(_.group(1) == "java.io.tmpdir")
      val props = AnyPropUse.findAllIn(src).size - tmpdirReads
      val envs = EnvRead.findAllIn(src).size
      if (props + envs > 0) Some(s"$f: $props system property, $envs env reads") else None
    }
    assert(hits.isEmpty, hits.mkString("; "))
  }
}
