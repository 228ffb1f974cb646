package graft

/** Same-session interleaved A/B runner (guide §1): times one registered
  * query under N sys-prop configurations in ONE JVM, alternating configs
  * each rep so box drift hits all arms equally — the only comparison
  * discipline that survived r20's bursty-I/O box. Row counts are asserted
  * equal across arms (full result equality is pinned in the specs).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.AbRunner <query> <reps> <label>[:k=v[;k=v...]] ..."
  *
  * e.g. runMain graft.AbRunner dedup_ngram_jaccard 5 \
  *        direct:graft.dict.minfactor=1e9 dict:graft.dict.minfactor=1
  *
  * Optional artifact: SPARK_GRAFT_AB_OUT=<path.json>.
  */
object AbRunner {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = args(1).toInt
    val configs: Seq[(String, Map[String, String])] = args.drop(2).toSeq.map { spec =>
      spec.split(":", 2) match {
        case Array(label) => (label, Map.empty[String, String])
        case Array(label, props) =>
          (label, props.split(";").filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2): @unchecked
            k -> v
          }.toMap)
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(f"[ab] cpu_canary ${Canary.single()}%.3f s, " +
      f"parallel_canary($cpus) ${Canary.parallelStable(cpus.toInt)}%.3f s")
    if (sys.env.get("SPARK_GRAFT_WARMUP").contains("1"))
      graft.Warmup.run(spark, sfDir)
    val fn = SparkEntry.queries(name)
    val walls = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val rows = scala.collection.mutable.Map.empty[String, Long]
    (1 to reps).foreach { i =>
      configs.foreach { case (label, props) =>
        props.foreach { case (k, v) => sys.props(k) = v }
        try {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          println(f"[ab] $name $label rep $i: $dt%.3f s ($n rows)")
          walls(label) = walls(label) :+ dt
          rows.get(label) match {
            case Some(prev) => require(prev == n, s"$label rows drifted: $prev -> $n")
            case None =>
              rows.put(label, n)
              rows.values.toSet.toList match {
                case all if all.size > 1 =>
                  sys.error(s"ROW MISMATCH across configs: $rows")
                case _ =>
              }
          }
        } finally props.keys.foreach(sys.props.remove(_))
      }
    }
    def stats(l: List[Double]): (Double, Double) = {
      val s = l.sorted
      (s.head, s(s.size / 2))
    }
    val summary = configs.map { case (label, _) =>
      val (mn, md) = stats(walls(label))
      println(f"[ab] SUMMARY $name $label: min $mn%.3f s, median $md%.3f s, rows ${rows(label)}")
      s"""{"config":"$label","min":$mn,"median":$md,"rows":${rows(label)},"walls":[${walls(label).map(w => f"$w%.3f").mkString(",")}]}"""
    }
    sys.env.get("SPARK_GRAFT_AB_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        s"""{"query":"$name","sf":"$sfDir","cpus":"$cpus","reps":$reps,"configs":[${summary.mkString(",")}]}\n""")
      println(s"[ab] artifact written to $p")
    }
    spark.stop()
  }
}
