package graft

/** [[Sessions.withConf]] is the one scoped-conf pattern: query code that
  * retunes the shared session (replay state store, AQE skew tuning, the
  * BPE loop's partition count) must leave every key as it found it. */
class SessionsSpec extends SparkSpec {

  test("withConf restores a set key, unsets an unset key, also when the body throws") {
    val setKey = "spark.sql.shuffle.partitions"
    val unsetKey = "spark.graft.test.withconf"
    val before = spark.conf.get(setKey)
    assert(spark.conf.getOption(unsetKey).isEmpty)
    def unchanged(): Unit = {
      assert(spark.conf.get(setKey) == before)
      // the RocksDB-provider leak: a key the session had not set must be
      // unset again, not left at the scoped value
      assert(spark.conf.getOption(unsetKey).isEmpty)
    }
    val inside = Sessions.withConf(spark, setKey -> "13", unsetKey -> "x") {
      (spark.conf.get(setKey), spark.conf.get(unsetKey))
    }
    assert(inside == ("13", "x"))
    unchanged()
    intercept[IllegalStateException] {
      Sessions.withConf(spark, setKey -> "13", unsetKey -> "x") {
        throw new IllegalStateException("body failed")
      }
    }
    unchanged()
  }

  test("a stateful replay leaves the session's state-store confs as it found them") {
    val keys = Seq("spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      "spark.sql.shuffle.partitions")
    def confs() = keys.map(k => k -> spark.conf.getOption(k))
    val before = confs()
    assert(SparkEntry.queries("stream_session_window")(spark, sf001).count() > 0)
    assert(confs() == before)
  }
}
