package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the query loop (r9 verdict #3): it
    // used to be written last, so one hung query + a driver kill voided
    // every already-dumped result — the DuckDB compare had no SQL to run.
    // Now a killed run still yields a parseable partial correctness round.
    // Only the selected queries' oracles: a SPARK_GRAFT_ONLY run is gated
    // on what it dumps, and a selected query that fails to dump still FAILs.
    val selected = HarnessGuard.selectedQueries
    val json = SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query wall-clock bound (default 120 s — the slowest sf0.01 query
    // is <10 s warmed): a pathological query records its own error line
    // instead of wedging the dump loop until the driver's kill.
    val timeoutSec = HarnessGuard.timeoutSec(sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT"), 120, v =>
      System.err.println(s"[verify] bad SPARK_GRAFT_QUERY_TIMEOUT '$v', using 120"))
    selected.foreach { case (name, fn) =>
      HarnessGuard.timed(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        // progress marker per completed dump: a killed run shows exactly
        // how far it got and which query it died in
        case (dt, Right(_)) => System.err.println(f"[verify] $name ok ($dt%.1fs)")
        case (_, Left(err)) => System.err.println(s"[verify] $name failed: $err")
      }
    }
    spark.stop()
  }
}
