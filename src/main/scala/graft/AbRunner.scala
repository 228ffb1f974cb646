package graft

/** Same-session interleaved A/B runner and steady-state profiler (guide
  * §1): times registered queries under N session-conf arms in ONE
  * JVM, alternating configs each rep so box drift hits all arms equally —
  * the only comparison discipline that survived r20's bursty-I/O box.
  * Each rep runs the listed queries in the given order under each arm
  * (an ordering probe: which query absorbs a shared first-use cost).
  * With no arms it runs one `baseline` arm: steady-state reps in a warm
  * session, which separate per-query cost from the ~5 s first-job
  * session warmup that lands on whatever Bench runs first. Row counts are
  * asserted equal across arms per query (full result equality is pinned
  * in the specs); a failed or timed-out query aborts the run with its
  * message.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.AbRunner <q1>[,<q2>...] <reps> [<label>[:k=v[;k=v...]] ...]"
  *
  * An arm's `k=v` pairs are Spark confs of the running session, set
  * through [[Sessions.withConf]] for that arm's runs only, e.g.
  *   runMain graft.AbRunner dedup_ngram_jaccard 5 \
  *     base p4:spark.sql.shuffle.partitions=4
  *
  * SPARK_GRAFT_WARMUP=1 runs the shared untimed [[Warmup]] first.
  * Optional artifact: SPARK_GRAFT_AB_OUT=<path.json>.
  */
object AbRunner {
  /** Per-run watchdog bound: A/Bs run at scale, so it is generous; a
    * wedged query still ends the run instead of hanging it. */
  private val TimeoutSec = 3600

  /** The median wall: the mean of the two middle walls for an even count
    * (at 2 reps the upper middle would be the slower, usually cold, rep). */
  private[graft] def median(walls: Seq[Double]): Double = {
    val s = walls.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val fns = names.map(SparkEntry.queries) // an unknown name fails before any run
    val reps = args(1).toInt
    val arms: Seq[(String, Map[String, String])] = args.drop(2).toSeq.map { spec =>
      spec.split(":", 2) match {
        case Array(label) => (label, Map.empty[String, String])
        case Array(label, confs) =>
          (label, confs.split(";").filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2): @unchecked
            k -> v
          }.toMap)
      }
    }
    val configs = if (arms.isEmpty) Seq("baseline" -> Map.empty[String, String]) else arms
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // both canaries, so a receipt captured from this run records the
    // machine state it was measured at (__parallel_canary in
    // perf_receipts.tsv; Bench scales its suspect threshold by the ratio)
    println(f"[ab] cpu_canary ${Canary.single()}%.3f s, " +
      f"parallel_canary($cpus) ${Canary.parallelStable(cpus.toInt)}%.3f s")
    if (sys.env.get("SPARK_GRAFT_WARMUP").contains("1"))
      graft.Warmup.run(spark, sfDir)
    val walls = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    val rows = scala.collection.mutable.Map.empty[(String, String), Long]
    (1 to reps).foreach { i =>
      configs.foreach { case (label, confs) =>
        Sessions.withConf(spark, confs.toSeq: _*) { names.zip(fns).foreach { case (name, fn) =>
          val (dt, r) = HarnessGuard.timed(spark, name, TimeoutSec) { fn(spark, sfDir).count() }
          val n = r.fold(err => sys.error(s"$name $label rep $i failed: $err"), identity)
          println(f"[ab] $name $label rep $i: $dt%.3f s ($n rows)")
          walls((name, label)) = walls((name, label)) :+ dt
          rows.get((name, label)) match {
            case Some(prev) => require(prev == n, s"$name $label rows drifted: $prev -> $n")
            case None =>
              rows.put((name, label), n)
              val perArm = rows.filter(_._1._1 == name)
              if (perArm.values.toSet.size > 1)
                sys.error(s"ROW MISMATCH across configs for $name: $perArm")
          }
        } }
      }
    }
    val summary = for (name <- names; (label, _) <- configs) yield {
      val k = (name, label)
      val (mn, md) = (walls(k).min, median(walls(k)))
      println(f"[ab] SUMMARY $name $label: min $mn%.3f s, median $md%.3f s, rows ${rows(k)}")
      s"""{"query":"$name","config":"$label","min":$mn,"median":$md,"rows":${rows(k)},"walls":[${walls(k).map(w => f"$w%.3f").mkString(",")}]}"""
    }
    sys.env.get("SPARK_GRAFT_AB_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        s"""{"query":"${names.mkString(",")}","sf":"$sfDir","cpus":"$cpus","reps":$reps,"configs":[${summary.mkString(",")}]}\n""")
      println(s"[ab] artifact written to $p")
    }
    spark.stop()
  }
}
