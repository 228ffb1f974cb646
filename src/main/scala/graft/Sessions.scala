package graft

import org.apache.spark.sql.SparkSession

/** Session construction shared by the runnable mains, plus the one
  * scoped-conf helper query code uses (r13 verdict #1: prove the engine
  * beyond single-JVM `local[N]`).
  *
  * `SPARK_GRAFT_MASTER` replaces the default `local[cpus]` master —
  * the multi-JVM gate runs the full registry under
  * `local-cluster[2,16,4096]` (real driver/executor separation, real
  * closure serialization, real shuffle transport), which single-JVM
  * local mode cannot exercise: a task closure that accidentally
  * captures driver state, or a query that depends on a driver-JVM
  * TrieMap cache being visible to "executors", only fails here.
  *
  * `SPARK_GRAFT_JARS` ships the packaged application jar to the
  * executor JVMs (`spark.jars`) — local-cluster executors get Spark's
  * own classpath from SPARK_HOME but NOT the application classes sbt
  * runs against.
  */
object Sessions {

  def master(cpus: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** The mains' session builder: env-driven execution overrides, one
    * shuffle partition per core, no UI, the graft native expressions.
    * Beyond master/jars, a `SPARK_GRAFT_CONF_key=value` env var becomes
    * Spark conf `key` (dots are not valid in env names, so underscores
    * after the prefix map to dots) — the spill gate uses this to squeeze
    * `spark.memory.fraction` / executor memory without a code path per
    * knob. Callers add their own extras and set their own log level. */
  def builder(cpus: String): SparkSession.Builder = {
    val b = SparkSession.builder().master(master(cpus))
    sys.env.get("SPARK_GRAFT_JARS").foreach(j => b.config("spark.jars", j))
    sys.env.foreach { case (k, v) =>
      if (k.startsWith("SPARK_GRAFT_CONF_"))
        b.config(k.stripPrefix("SPARK_GRAFT_CONF_").replace('_', '.'), v)
    }
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
  }

  /** Run `body` with each session conf `kv` set, then restore every key
    * to its previous value — or unset it when it had none, so a scoped
    * setting (e.g. the RocksDB state-store provider) never leaks into
    * later queries of a shared session. Restores on a throwing body too. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
