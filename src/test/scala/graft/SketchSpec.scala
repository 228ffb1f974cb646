package graft

/** Property-style tests for the sketch layer (SURVEY.md §5.2): bounds, not
  * hash values — CMS never underestimates and overestimates ≤ ε·N w.h.p.
  * (count_min_sketch.py:11-13's contract); Bloom has no false negatives
  * (bloom_filter.py:10-15's contract). Seeded generators, 10 trials each. */
class SketchSpec extends SparkSpec {

  private val vocab = Vector("spark", "data", "query", "scan", "merge", "join",
    "sort", "agg", "row", "col", "key", "val")

  private def randomWords(seed: Int, n: Int = 300): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
  }

  test("CMS: estimate >= true count and <= true + eps*N (reference dims 544x7)") {
    (1 to 10).foreach { seed =>
      val words = randomWords(seed)
      val cms = org.apache.spark.util.sketch.CountMinSketch.create(7, 544, 42)
      words.foreach(cms.add)
      words.groupBy(identity).view.mapValues(_.size.toLong).foreach { case (w, n) =>
        val est = cms.estimateCount(w)
        assert(est >= n, s"CMS underestimated $w (seed $seed)")
        assert(est <= n + math.ceil(0.005 * words.size).toLong + 1,
          s"CMS overestimate out of bound for $w: est=$est true=$n (seed $seed)")
      }
    }
  }

  test("CMS: merge of partials equals single-pass sketch (partial+final agg contract)") {
    val a = org.apache.spark.util.sketch.CountMinSketch.create(7, 544, 42)
    val b = org.apache.spark.util.sketch.CountMinSketch.create(7, 544, 42)
    val whole = org.apache.spark.util.sketch.CountMinSketch.create(7, 544, 42)
    val w1 = Seq("x", "y", "x"); val w2 = Seq("y", "z")
    w1.foreach(a.add); w2.foreach(b.add); (w1 ++ w2).foreach(whole.add)
    a.mergeInPlace(b)
    Seq("x", "y", "z", "missing").foreach { w =>
      assert(a.estimateCount(w) == whole.estimateCount(w))
    }
  }

  test("Bloom: no false negatives at reference dims (100k capacity, 1% fpp)") {
    (1 to 10).foreach { seed =>
      val words = randomWords(seed).map(w => s"${w}_$seed")
      val bloom = org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.01)
      words.foreach(bloom.put)
      words.foreach(w => assert(bloom.mightContain(w), s"Bloom false negative: $w"))
    }
  }

  test("BloomStatsAgg: fill ratio consistent with direct filter construction") {
    import spark.implicits._
    val words = randomWords(7, 2000).zipWithIndex.map { case (w, i) => s"${w}_$i" }
    val stats0 = words.toDS()
      .select(graft.functions.BloomStatsAgg.agg.toColumn).collect()(0)
    val direct = org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.01)
    words.foreach(direct.put)
    val bos = new java.io.ByteArrayOutputStream(); direct.writeTo(bos)
    val directBits = bos.toByteArray.drop(12)
      .map(x => java.lang.Integer.bitCount(x & 0xff)).sum.toLong
    assert(stats0.inserted == words.length)
    assert(stats0.set_bits == directBits,
      "distributed partial+final build must OR to the same bit pattern")
    assert(stats0.fill_ratio > 0.0 && stats0.fill_ratio < 0.2,
      s"2k inserts into ~1M bits: fill=${stats0.fill_ratio}")
  }

  test("Bloom: observed fpp near configured bound") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(10000L, 0.01)
    (0 until 10000).foreach(i => bloom.put(s"in_$i"))
    val fp = (0 until 10000).count(i => bloom.mightContain(s"out_$i"))
    assert(fp < 300, s"fpp way above configured 1%: $fp/10000")
  }

  test("approx_percentile honors its accuracy contract vs exact percentile") {
    val rows = SparkEntry.queries("sketch_approx_quantiles")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // accuracy 10000 => rank error <= n/10000; the query realizes the
      // rank interval of each estimate and pins the intersection check
      assert(r.getAs[Boolean]("median_rank_ok"), r.toString)
      assert(r.getAs[Boolean]("p99_rank_ok"), r.toString)
    }
  }

  // ---------------------------------------------------- hash-faithful twins
  //
  // Unlike everything above (bounds, not hash values), these tests pin HASH
  // VALUES: graft.functions.Blake2b/RefSketches must reproduce the
  // reference's Python hashlib calls byte-for-byte. Goldens in
  // src/test/resources/blake2b_goldens.tsv are CAPTURED hashlib output
  // (scripts/gen_blake2b_goldens.py), not a hand reconstruction.

  private def goldens(section: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream("/blake2b_goldens.tsv")
    assert(in != null, "missing blake2b_goldens.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t", -1)).filter(_.head == section).toVector
    finally src.close()
  }

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("Blake2b matches captured hashlib.blake2b output (keyed, sizes, block boundaries)") {
    val rows = goldens("blake2b")
    assert(rows.size >= 10, "blake2b golden section unexpectedly small")
    rows.foreach { case Array(_, dataHex, keyHex, n, expect) =>
      val got = graft.functions.Blake2b
        .hash(unhex(dataHex), n.toInt, unhex(keyHex))
        .map("%02x".format(_)).mkString
      assert(got == expect,
        s"blake2b(data=$dataHex key=$keyHex n=$n): $got != $expect")
    }
  }

  test("hashKeyed (cached post-key state) is bit-identical to hash for non-empty data") {
    // the hot-loop form the sketch aggregators use: one compression per
    // item via a precomputed key-block state. Must equal the two-compression
    // reference form for every (key, data, digestSize), across block
    // boundaries.
    import graft.functions.Blake2b
    val rnd = new scala.util.Random(4242)
    val sizes = Seq(1, 2, 7, 63, 64, 65, 127, 128, 129, 200, 255, 256, 257, 300)
    for (dataLen <- sizes; _ <- 1 to 20) {
      val data = Array.fill(dataLen)(rnd.nextInt(256).toByte)
      val key = Array.fill(1 + rnd.nextInt(64))(rnd.nextInt(256).toByte)
      val n = 1 + rnd.nextInt(64)
      val viaState = Blake2b.hashKeyed(Blake2b.keyedState(key, n), data, n)
      val direct = Blake2b.hash(data, n, key)
      assert(java.util.Arrays.equals(viaState, direct),
        s"hashKeyed diverged at dataLen=$dataLen keyLen=${key.length} n=$n")
    }
    // empty data is rejected (the key block itself would need the final flag)
    intercept[IllegalArgumentException] {
      Blake2b.hashKeyed(Blake2b.keyedState(Array[Byte](1), 16), Array.emptyByteArray, 16)
    }
  }

  test("faithful CMS columns match the reference's blake2b+sha256 hashing") {
    import graft.functions.RefSketches
    goldens("cms_cols").foreach {
      case Array(_, item, seed, width, depth, colsCsv) =>
        val salts = RefSketches.cmsSalts(seed.toInt, depth.toInt)
        val got = (0 until depth.toInt)
          .map(r => RefSketches.cmsCol(item.getBytes("UTF-8"), salts(r), width.toInt))
        assert(got == colsCsv.split(",").map(_.toInt).toSeq,
          s"cms columns for '$item' diverge from hashlib capture")
    }
  }

  test("faithful Bloom sizing and indices match the reference's formulas and hashing") {
    import graft.functions.RefSketches
    goldens("bloom_mk").foreach { case Array(_, cap, err, m, k) =>
      assert(RefSketches.bloomDims(cap.toLong, err.toDouble) == (m.toInt, k.toInt),
        s"bloom dims for cap=$cap err=$err diverge")
    }
    goldens("bloom_idx").foreach { case Array(_, item, m, k, idxCsv) =>
      val got = RefSketches.bloomIndices(item.getBytes("UTF-8"), m.toInt, k.toInt)
      assert(got.toSeq == idxCsv.split(",").map(_.toInt).toSeq,
        s"bloom indices for '$item' diverge from hashlib capture")
    }
  }

  test("faithful aggregators reproduce the reference's full serialized state") {
    // Strongest form of the hash-faithfulness claim: not just per-item
    // hashing, but the FULL Bloom bytearray / CMS table after a fixed item
    // stream, captured from a Python replay of the reference's code paths
    // (gen_blake2b_goldens.py). Runs through the Spark aggregators, so the
    // partial+final merge path is covered too.
    import spark.implicits._
    import graft.functions.RefSketches
    goldens("bloom_state").foreach { case Array(_, cap, err, items, hexBits) =>
      val bloom = items.split(" ").toSeq.toDS()
        .repartition(4) // force a multi-partition partial+final merge
        .select(RefSketches.bloomAgg(cap.toLong, err.toDouble).toColumn).head()
      assert(bloom.bits.map("%02x".format(_)).mkString == hexBits,
        "faithful Bloom bytearray diverged from the Python-replay capture")
    }
    goldens("cms_state").foreach { case Array(_, seed, width, depth, items, flat) =>
      val cms = items.split(" ").toSeq.toDS()
        .repartition(4)
        .select(RefSketches.cmsAgg(seed.toInt, width.toInt, depth.toInt).toColumn).head()
      assert(cms.table.toSeq == flat.split(",").map(_.toLong).toSeq,
        "faithful CMS table diverged from the Python-replay capture")
    }
  }

  test("faithful CMS/Bloom aggregators honor the sketch contracts end to end") {
    import spark.implicits._
    import graft.functions.RefSketches
    // CMS: never undercounts, bound at the REFERENCE's ε=e/width; the
    // distributed partial+final build must equal a sequential build
    (1 to 5).foreach { seed =>
      val words = randomWords(seed)
      val cms = words.toDF("w").as[String]
        .select(RefSketches.cmsAgg(0, 544, 7).toColumn).head()
      assert(cms.total == words.size)
      words.groupBy(identity).view.mapValues(_.size.toLong).foreach { case (w, n) =>
        val est = cms.estimate(w)
        assert(est >= n, s"faithful CMS underestimated $w (seed $seed)")
        assert(est <= n + math.ceil(math.E * words.size / 544).toLong,
          s"faithful CMS overestimated $w beyond eps*N (seed $seed)")
      }
    }
    // Bloom: zero false negatives; unseen keys mostly absent
    val words = randomWords(1).distinct
    val bloom = words.toDF("w").as[String]
      .select(RefSketches.bloomAgg(100000L, 0.01).toColumn).head()
    assert(bloom.m == 958506 && bloom.k == 7) // reference dims at (100k, 1%)
    words.foreach(w => assert(bloom.mightContain(w), s"false negative: $w"))
    val unseen = (1 to 1000).map(i => s"never-inserted-$i")
    val fp = unseen.count(bloom.mightContain)
    assert(fp <= 50, s"$fp/1000 false positives at 1% design fpp")
  }
}
