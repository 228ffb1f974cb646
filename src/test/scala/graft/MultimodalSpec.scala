package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaMeta, MediaRecord}

/** Multimodal plumbing: binary schema, real PGM decode, partition-wise
  * batching — these tests pin the parts that survive a heavier-codec swap
  * (a JNI JPEG/FLAC decoder implements the same Codec trait and rides the
  * same batched loop). */
class MultimodalSpec extends SparkSpec {

  test("decode is deterministic and batch-shape-independent") {
    val rec = MediaRecord(7L, "hello multimodal world".getBytes("UTF-8"),
      MediaMeta("synthetic://x/7", "en", 22))
    assert(Multimodal.decodeRecord(rec) == Multimodal.decodeRecord(rec))
    val ds = Multimodal.mediaRecords(spark, sf001)
    val f1 = Multimodal.extractFeatures(ds, batchSize = 1).collect().sortBy(_.id)
    val f64 = Multimodal.extractFeatures(ds, batchSize = 64).collect().sortBy(_.id)
    assert(f1.sameElements(f64), "batch size must not change features")
  }

  test("decoded features are structurally consistent with the payload") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaRecords(spark, sf001))
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.n_frames == (f.n_bytes + 255) / 256)
      assert(f.width == 16, "synthetic camera writes fixed-width rasters")
      assert(f.height == (f.n_bytes + 15) / 16)
      assert(f.n_pixels == f.width.toLong * f.height)
      // raster = payload + zero padding: sum bounded by bytes, padding < 1 row
      assert(f.n_pixels - f.n_bytes >= 0 && f.n_pixels - f.n_bytes < 16)
      assert(f.pixel_sum >= 0 && f.pixel_sum <= 255L * f.n_bytes)
      assert(f.max_pixel >= 0 && f.max_pixel <= 255)
      assert(f.first_frame_crc >= 0 && f.first_frame_crc < 1000000007L)
    }
  }

  test("pgm codec: encode/decode round-trips payload bytes through a real P5 image") {
    import graft.multimodal.PgmCodec
    val payload = "the quick brown fox jumps over the lazy dog".getBytes("US-ASCII")
    val img = PgmCodec.decode(PgmCodec.encode(payload))
    assert(img.width == 16 && img.maxVal == 255)
    assert(img.height == (payload.length + 15) / 16)
    assert(img.pixels.length == 16 * img.height)
    // raster = payload then zero padding, byte-for-byte
    assert(img.pixels.take(payload.length).toSeq == payload.map(_ & 0xff).toSeq)
    assert(img.pixels.drop(payload.length).forall(_ == 0))
    // empty payload → 16x0 image, zero pixels
    val empty = PgmCodec.decode(PgmCodec.encode(Array.emptyByteArray))
    assert(empty.height == 0 && empty.pixels.isEmpty)
  }

  test("pgm codec: parses headers with comments; rejects bad magic and truncated raster") {
    import graft.multimodal.PgmCodec
    // hand-built P5 with a comment line: 2x2 raster [1,2,3,4]
    val withComment = "P5\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](1, 2, 3, 4)
    val img = PgmCodec.decode(withComment)
    assert(img.width == 2 && img.height == 2 && img.pixels.toSeq == Seq(1, 2, 3, 4))
    // P2 (ASCII PGM) magic must be rejected, not misparsed
    intercept[IllegalArgumentException] {
      PgmCodec.decode("P2\n2 2\n255\n1 2 3 4".getBytes("US-ASCII"))
    }
    // declared 2x2 but only 3 raster bytes → truncated
    intercept[IllegalArgumentException] {
      PgmCodec.decode("P5\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    }
  }

  test("pgm codec: round-trip holds for random binary payloads (raster bytes that mimic header syntax)") {
    import graft.multimodal.PgmCodec
    val rnd = new scala.util.Random(7) // seeded — deterministic
    (0 until 200).foreach { i =>
      val n = rnd.nextInt(600)
      val payload = new Array[Byte](n)
      rnd.nextBytes(payload) // includes 0x00, '\n', '#', 0xFF — raster is
      // offset-addressed after the header, so none of these may confuse
      // the parser into treating raster bytes as header syntax
      val img = PgmCodec.decode(PgmCodec.encode(payload))
      assert(img.width == 16 && img.height == (n + 15) / 16,
        s"case $i: wrong dims ${img.width}x${img.height} for n=$n")
      assert(img.pixels.take(n).toSeq == payload.map(_ & 0xff).toSeq,
        s"case $i: raster diverged from payload (n=$n)")
      assert(img.pixels.drop(n).forall(_ == 0), s"case $i: padding not zero")
    }
  }

  test("pgm codec: hostile headers always throw, never return garbage (property)") {
    import graft.multimodal.PgmCodec
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def run(name: String, prop: Prop): Unit = {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
      assert(res.passed, s"$name: ${res.status}")
    }
    val throwsIae = (b: Array[Byte]) =>
      Prop(scala.util.Try(PgmCodec.decode(b)) match {
        // NumberFormatException ⊂ IllegalArgumentException: a strict
        // header parse failure, same contract
        case scala.util.Failure(_: IllegalArgumentException) => true
        case _ => false
      })
    // out-of-range maxval (0, negative, > 255): netpbm P5 with 1-byte
    // samples only supports 1..255; the header must be rejected before
    // any raster byte is interpreted
    run("maxval", Prop.forAll(
      Gen.oneOf(Gen.const(0), Gen.const(-7), Gen.choose(256, 1000000))) { mv =>
      throwsIae(ascii(s"P5\n2 2\n$mv\n") ++ Array[Byte](1, 2, 3, 4))
    })
    // truncated raster: any shortfall from the declared w*h must throw —
    // silently returning a short raster would corrupt every downstream
    // feature
    run("truncated", Prop.forAll(
      Gen.choose(1, 20), Gen.choose(1, 20), Gen.choose(0.0, 1.0)) { (w, h, frac) =>
      val n = w * h
      val short = math.min(n - 1, (n * frac).toInt)
      throwsIae(ascii(s"P5\n$w $h\n255\n") ++ Array.fill(short)(1.toByte))
    })
    // comment mid-token: netpbm's own reader would splice the token
    // around the comment ("2#x\n4" -> 24); the strict parser refuses the
    // spliced form rather than guessing — pinned as a throw
    run("comment-mid-token", Prop.forAll(
      Gen.choose(1, 99), Gen.alphaNumStr.map(_.take(8))) { (wHead, cmt) =>
      throwsIae(ascii(s"P5\n$wHead#$cmt\n4 2\n255\n") ++ Array.fill(99 * 4 * 2)(1.toByte))
    })
    // dimension overflow: w*h past Int.MaxValue must throw (the Long-arith
    // guard), not wrap negative and slip past the truncation check
    // 65536*65536 is already past Int.MaxValue, so every drawn pair
    // overflows by construction
    run("overflow", Prop.forAll(
      Gen.choose(65536, 1000000), Gen.choose(65536, 1000000)) { (w, h) =>
      throwsIae(ascii(s"P5\n$w $h\n255\n") ++ Array.fill(64)(1.toByte))
    })
    // negative/zero width and negative height must throw. Height 0 is the
    // ONE deliberate deviation: encode(empty payload) produces a legal
    // 16x0 image, so 0-height decodes to an empty raster (a well-defined
    // value, not garbage) — pinned by the round-trip test above.
    run("bad-dims", Prop.forAll(
      Gen.oneOf(Gen.choose(-20, 0).map(w => (w, 2)),
        Gen.choose(-20, -1).map(h => (2, h)))) { case (w, h) =>
      throwsIae(ascii(s"P5\n$w $h\n255\n") ++ Array.fill(16)(1.toByte))
    })
    // safety net over ARBITRARY byte arrays: decode either throws the
    // contract exception or returns a structurally consistent image
    // (dims match raster length, samples within maxval bounds) — there is
    // no third outcome
    run("arbitrary-bytes", Prop.forAll(
      Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { b =>
      scala.util.Try(PgmCodec.decode(b)) match {
        case scala.util.Success(img) =>
          img.width > 0 && img.height >= 0 &&
            img.pixels.length == img.width * img.height &&
            img.maxVal >= 1 && img.maxVal <= 255 &&
            img.pixels.forall(p => p >= 0 && p <= 255)
        case scala.util.Failure(_: IllegalArgumentException) => true
        case scala.util.Failure(_) => false
      }
    })
  }

  test("graft_avg_hash ≡ the declarative codepoints/slice/vsum chain (bit-exact, r16)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{VectorExprs => V}
    val rnd = new scala.util.Random(11)
    // ASCII, unicode (incl. supplementary plane), boundary lengths around
    // multiples of 16, and the shortest admissible strings
    val strs = (1 to 300).map { i =>
      val n = 16 + rnd.nextInt(80) + (if (i % 7 == 0) (i % 16) else 0)
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        sb.append(rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => (' ' + rnd.nextInt(94)).toChar.toString
          case 2 => "é"
          case _ => new String(Character.toChars(0x10400 + rnd.nextInt(16)))
        })
      }
      sb.toString
    } :+ "a" * 16 :+ "z" * 31 :+ ("é" * 16)
    val df = strs.toDF("text").filter(length(col("text")) >= 16)
      .withColumn("codes", V.graft_codepoints(col("text")).cast("array<bigint>"))
      .withColumn("blk", (length(col("text")) / 16).cast("int"))
    val withSums = (0 until 16).foldLeft(df) { (d, i) =>
      d.withColumn(s"b$i", V.graft_vsum(
        slice(col("codes"), col("blk") * i + 1, col("blk"))))
    }
    val total = (0 until 16).map(i => col(s"b$i")).reduce(_ + _)
    val decl = (0 until 16).map(i =>
      when(col(s"b$i") * 16 > col("total"), lit(1L << i)).otherwise(0L)).reduce(_ + _)
    val rows = withSums.withColumn("total", total)
      .select(V.graft_avg_hash(col("text")).as("native"), decl.as("decl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"avg_hash diverges: native ${r.getLong(0)} vs declarative ${r.getLong(1)}"))
  }

  test("graft_cp_stats / graft_distinct_cp_count ≡ declarative chains (bit-exact, r16)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{VectorExprs => V}
    val rnd = new scala.util.Random(13)
    val strs = (1 to 300).map { i =>
      val n = rnd.nextInt(60)
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        sb.append(rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => (' ' + rnd.nextInt(94)).toChar.toString
          case 2 => "é"
          case _ => new String(Character.toChars(0x10400 + rnd.nextInt(16)))
        })
      }
      sb.toString
    } :+ "" :+ "a" :+ "aaa" // empty-string split('','')=[""] pin included
    val cp = V.graft_codepoints(col("text"))
    val rows = strs.toDF("text")
      .withColumn("cp", cp)
      .select(
        V.graft_cp_stats(col("text")).as("st"),
        size(col("cp")).cast("long").as("dn"),
        coalesce(V.graft_vsum(col("cp").cast("array<double>")), lit(0.0)).as("dsum"),
        coalesce(V.graft_dot(col("cp").cast("array<double>"),
          col("cp").cast("array<double>")), lit(0.0)).as("dsumsq"),
        coalesce(array_max(col("cp")).cast("long"), lit(0L)).as("dmax"),
        V.graft_distinct_cp_count(col("text")).as("nd"),
        size(array_distinct(split(col("text"), ""))).as("dd"))
      .collect()
    rows.foreach { r =>
      val st = r.getSeq[Long](0)
      assert(st(0) == r.getLong(1), "n diverges")
      assert(st(1).toDouble == r.getDouble(2), "sum diverges")
      assert(st(2).toDouble == r.getDouble(3), "sumsq diverges")
      assert(st(3) == r.getLong(4), "max diverges")
      assert(r.getInt(5) == r.getInt(6), s"distinct count diverges: ${r.getInt(5)} vs ${r.getInt(6)}")
    }
  }

  test("banded hamming pairs equal the brute-force pair set") {
    import org.apache.spark.sql.functions._
    val banded = SparkEntry.queries("mm_hash_hamming")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same hashes
    val hashed = SparkEntry.queries("mm_avg_hash")(spark, sf001)
      .select(col("doc_id"), col("avg_hash"))
    val brute = hashed.as("a").join(hashed.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.avg_hash").bitwiseXOR(col("b.avg_hash"))).cast("int").as("h"))
      .filter(col("h").between(1, 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute, "LSH banding must find exactly the brute-force pairs")
    assert(banded.nonEmpty)
  }

  test("mm_dedup_cluster: pairs co-clustered, min-id labels, consistent sizes") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("mm_dedup_cluster")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    val label = rows.map(t => t._1 -> t._2).toMap
    // every hamming-1..3 pair is co-clustered
    SparkEntry.queries("mm_hash_hamming")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .foreach { case (a, b) =>
        assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
      }
    // distance-0 (equal-hash) members are in too: any avg_hash bucket of
    // size > 1 must map into one cluster
    SparkEntry.queries("mm_avg_hash")(spark, sf001)
      .filter(col("bucket_size") > 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.foreach { members =>
        assert(members.map(m => label(m._1)).distinct.size == 1,
          "equal-hash bucket split across clusters")
      }
    // label is the min member id; cluster_size counts members; survivor flag
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid label not min id")
      members.foreach(m => assert(m._3 == members.length, s"size of $cid"))
    }
    rows.foreach(t => assert(t._4 == (t._1 == t._2)))
  }

  test("mm_dedup_cluster equals driver-side connected components exactly") {
    // The cluster partition must BE the transitive closure of the
    // hamming<=3 graph — no under-merge (pinned above via pairs) and no
    // OVER-merge: an independent BFS over the edge set (hamming-1..3
    // pairs plus equal-hash cliques) must produce the identical
    // partition. Guards the driver-side union-find + 696-mask neighbor
    // enumeration against both missed masks and spurious unions.
    import org.apache.spark.sql.functions._
    val label = SparkEntry.queries("mm_dedup_cluster")(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hashes = SparkEntry.queries("mm_avg_hash")(spark, sf001)
      .select(col("doc_id"), col("avg_hash")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nearPairs = SparkEntry.queries("mm_hash_hamming")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val equalPairs = hashes.groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sliding(2).map(p => (p(0), p(1)))).toSeq
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    (nearPairs ++ equalPairs).foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val seen = scala.collection.mutable.Set.empty[Long]
    val refLabel = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!seen(start)) {
        var frontier = List(start); var comp = List.empty[Long]
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(n =>
            if (seen(n)) Nil else { seen += n; comp ::= n; adj(n) })
          frontier = next
        }
        val lbl = comp.min
        comp.foreach(n => refLabel(n) = lbl)
      }
    }
    assert(label == refLabel.toMap,
      "cluster assignment diverges from reference connected components")
  }

  test("graft_avg_hash64 ≡ the declarative 64-block chain (bit-exact, sign bit included)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{VectorExprs => V}
    val rnd = new scala.util.Random(17)
    // ASCII, unicode (incl. supplementary plane), boundary lengths around
    // multiples of 64, and the shortest admissible strings; the long 'z'
    // runs push individual block sums above the mean so high bits —
    // including bit 63, the sign bit — actually get exercised
    val strs = (1 to 200).map { i =>
      val n = 64 + rnd.nextInt(200) + (if (i % 7 == 0) (i % 64) else 0)
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        sb.append(rnd.nextInt(4) match {
          case 0 => ('a' + rnd.nextInt(26)).toChar.toString
          case 1 => (' ' + rnd.nextInt(94)).toChar.toString
          case 2 => "é"
          case _ => new String(Character.toChars(0x10400 + rnd.nextInt(16)))
        })
      }
      sb.toString
    } :+ "a" * 64 :+ ("a" * 64 + "z" * 64) :+ ("é" * 64) :+ (" " * 126 + "zz")
    val df = strs.toDF("text").filter(length(col("text")) >= 64)
      .withColumn("codes", V.graft_codepoints(col("text")).cast("array<bigint>"))
      .withColumn("blk", (length(col("text")) / 64).cast("int"))
    val withSums = (0 until 64).foldLeft(df) { (d, i) =>
      d.withColumn(s"b$i", V.graft_vsum(
        slice(col("codes"), col("blk") * i + 1, col("blk"))))
    }
    val total = (0 until 64).map(i => col(s"b$i")).reduce(_ + _)
    val decl = (0 until 64).map(i =>
      when(col(s"b$i") * 64 > col("total"), lit(1L << i)).otherwise(0L)).reduce(_ + _)
    val rows = withSums.withColumn("total", total)
      .select(V.graft_avg_hash64(col("text")).as("native"), decl.as("decl"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"avg_hash64 diverges: native ${r.getLong(0)} vs declarative ${r.getLong(1)}"))
    // the sign bit must be reachable: at least one fixture hash negative
    assert(rows.exists(_.getLong(0) < 0L),
      "no fixture exercised bit 63 — the sign-bit encoding is untested")
  }

  test("phash64 clusters: empty / driver-UF / fixpoint tiers agree") {
    // r17 verdict #5: label assignment is tiered on the MEASURED edge
    // count — 0 edges collapse to per-hash clusters, <= 2^16 edges label
    // via a driver min-root union-find, past the cap the distributed
    // fixpoint runs. Pin all three on synthetic corpora where the
    // edge-table state is known by construction:
    //  - same-hash corpus (exact dup text): 0 edges; the duplicate pair
    //    must still cluster via cnt >= 2;
    //  - near-hash corpus (one char nudged: Hamming(hash) == 1): one
    //    edge -> driver union-find tier by default, and the forced
    //    fixpoint tier (edge cap 0) must agree exactly.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = ("a" * 32) + ("b" * 32)        // 64 chars: bit i = char i > mean
    val near = ("a" * 31) + "b" + ("b" * 32)  // one a->b flip: Hamming 1
    val far = "q" * 96                        // uniform: hash 0, distance >> 3
    def stage(tag: String, docs: Seq[(Long, String)]): String = {
      val dir = TmpDirs.create(s"graft_phash64_$tag")
      docs.toDF("doc_id", "text").write.mode("overwrite")
        .parquet(dir.resolve("documents.parquet").toString)
      dir.toString
    }
    def hashOf(t: String): Long =
      Seq(t).toDF("text")
        .select(graft.functions.VectorExprs.graft_avg_hash64(col("text")))
        .head.getLong(0)
    assert(java.lang.Long.bitCount(hashOf(base) ^ hashOf(near)) == 1,
      "fixture must place the near pair at Hamming distance 1")
    assert(java.lang.Long.bitCount(hashOf(base) ^ hashOf(far)) > 3)
    import graft.multimodal.Multimodal.{DriverEdgeCap, phash64Cluster}
    def run(dir: String, edgeCap: Long = DriverEdgeCap) = phash64Cluster(spark, dir, edgeCap)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_survivor"))).toSet
    val expect = Set((1L, 1L, 2L, true), (2L, 1L, 2L, false))
    // tier 1 — zero edges: identical hashes cluster via cnt >= 2 alone
    val fastDir = stage("fast", Seq((1L, base), (2L, base), (9L, far)))
    assert(run(fastDir) == expect, "empty-edge tier")
    // tier 2 — one edge, default cap: driver union-find
    val fixDir = stage("fix", Seq((1L, base), (2L, near), (9L, far)))
    assert(run(fixDir) == expect, "driver union-find tier")
    // tier 3 — same corpus, cap forced to 0: distributed fixpoint
    assert(run(fixDir, edgeCap = 0L) == expect, "distributed fixpoint tier")
  }

  test("unionFindLabels: min-root labels across chained merges") {
    // chain 5-4, 4-3, plus disjoint 10-20 and a self-contained 7-7
    val labels = graft.multimodal.Multimodal.unionFindLabels(
      Array((5L, 4L), (4L, 3L), (10L, 20L), (7L, 7L)))
    assert(labels(5L) == 3L && labels(4L) == 3L && labels(3L) == 3L)
    assert(labels(10L) == 10L && labels(20L) == 10L)
    assert(labels(7L) == 7L)
  }

  test("phash64 clusters: min-id survivor, consistent sizes, fixpoint labels") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("mm_phash64_cluster")(spark, sf001).collect()
    assert(out.nonEmpty, "fixture corpus must contain 64-bit pHash clusters")
    val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("cluster_size")).distinct.length == 1)
      assert(members.head.getAs[Long]("cluster_size") == members.length,
        s"cluster $cid size ${members.head.getAs[Long]("cluster_size")} != ${members.length} members")
      assert(members.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster_id must be the min member doc_id")
      assert(members.count(_.getAs[Boolean]("is_survivor")) == 1)
      assert(members.find(_.getAs[Boolean]("is_survivor")).get.getAs[Long]("doc_id") == cid)
      assert(members.length >= 2, "singleton docs must drop out")
    }
  }
}
