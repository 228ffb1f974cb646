package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Completion/recovery semantics of the cross-JVM fit-once store (r13):
  * the properties a torn or concurrent build must satisfy, pinned without
  * Spark (the store is plain files + locks). */
class ModelStoreSpec extends AnyFunSuite {

  private def freshKey(): String =
    s"modelstore-spec|${System.nanoTime()}|${ProcessHandle.current().pid()}"

  test("fit runs once; later calls (same or new 'JVM' path) load the artifact") {
    val key = freshKey()
    var fits = 0
    def get(): String = ModelStore.getOrFitSer(key, "t1") { fits += 1; s"value-$fits" }
    assert(get() == "value-1")
    assert(get() == "value-1") // served from disk, not refit
    assert(fits == 1)
    val dir = ModelStore.artifactDir(key, "t1")
    assert(Files.exists(dir.resolve("_GRAFT_OK")) &&
      Files.exists(dir.resolve("value.bin")))
  }

  test("a torn artifact (no _GRAFT_OK) is refit and replaced, not served") {
    val key = freshKey()
    val dir = ModelStore.artifactDir(key, "t2")
    // simulate a crashed build: files present, completion marker absent
    Files.createDirectories(dir)
    Files.write(dir.resolve("value.bin"), Array[Byte](1, 2, 3))
    val got = ModelStore.getOrFitSer(key, "t2")("fresh")
    assert(got == "fresh")
    assert(Files.exists(dir.resolve("_GRAFT_OK")))
  }

  test("an unreadable artifact falls back to refit instead of failing") {
    val key = freshKey()
    val dir = ModelStore.artifactDir(key, "t3")
    Files.createDirectories(dir)
    Files.write(dir.resolve("value.bin"), Array[Byte](0, 0, 0)) // not a java stream
    Files.write(dir.resolve("_GRAFT_OK"), Array.emptyByteArray)
    val got = ModelStore.getOrFitSer(key, "t3")("recovered")
    assert(got == "recovered")
    // and the replacement is durable for the next caller
    assert(ModelStore.getOrFitSer(key, "t3")("WRONG — must load") == "recovered")
  }

  test("ensureTree publishes the written file tree atomically under the tag dir") {
    val key = freshKey()
    var writes = 0
    def ensure(): String = ModelStore.ensureTree(key, "tree") { build =>
      writes += 1
      Files.createDirectories(build.resolve("sub"))
      Files.write(build.resolve("sub/part0"), "data".getBytes)
    }
    val p1 = ensure()
    val p2 = ensure()
    assert(p1 == p2 && writes == 1)
    assert(new String(Files.readAllBytes(Paths.get(p1, "sub", "part0"))) == "data")
  }

  test("store root is configurable (shared storage in multi-driver deployments)") {
    // r13 verdict #5: each node's /tmp is node-local, so fit-once
    // artifacts must be pointable at shared storage. The sysprop is the
    // in-JVM stand-in for the SPARK_GRAFT_MODELSTORE env var.
    val root = Files.createTempDirectory("graft-modelstore-root").toString
    System.setProperty("spark.graft.modelstore", root)
    try {
      val key = freshKey()
      assert(ModelStore.artifactDir(key, "t6").toString.startsWith(root))
      assert(ModelStore.getOrFitSer(key, "t6")("on-shared-root") == "on-shared-root")
      assert(Files.exists(ModelStore.artifactDir(key, "t6").resolve("_GRAFT_OK")))
    } finally System.clearProperty("spark.graft.modelstore")
  }

  test("artifact path carries a real build fingerprint (logic-version key component)") {
    // ADVICE r13 #1: a recompile must produce a NEW key so semantically
    // stale artifacts from a pre-change build can never be served. The
    // fingerprint derives from the compiled .class tree, so in any real
    // build it is a 12-hex digest, never the unreadable-source fallback.
    val fp = ModelStore.buildFingerprint
    assert(fp.matches("[0-9a-f]{12}"), s"fingerprint '$fp' — code source unreadable?")
    // the fingerprint is FOLDED into the digest (path stays v1-length so
    // plan-dump Location truncation can't hide the tag segment): the dir
    // must be exactly md5(fp|key), i.e. different code → different dir
    val key = freshKey()
    val dir = ModelStore.artifactDir(key, "t7").toString
    assert(dir.contains(s"graft_models_v2_${TmpDirs.md5Hex(s"$fp|$key")}"))
  }

  test("fingerprint excludes exactly the harness mains, never query-path classes") {
    // harness classes carry no fit logic, so a harness-only rebuild keeps
    // the store warm; a class a query calls (Sessions.withConf runs the
    // BPE training loop) must stay in the digest
    def excluded(n: String) =
      Seq(s"graft/$n.class", s"graft/$n$$.class", s"graft/$n$$anon$$1.class", s"graft/$n.tasty")
        .map(_.matches(ModelStore.HarnessClasses)).distinct
    Seq("AbRunner", "Bench", "Canary", "Explain", "HarnessGuard", "PlanAudit",
      "ReceiptRefresh", "ScaleGate", "Verify", "Warmup")
      .foreach(n => assert(excluded(n) == Seq(true), n))
    Seq("Sessions", "ModelStore", "RunDetectors", "SparkEntry", "Tables", "TmpDirs", "BenchX")
      .foreach(n => assert(excluded(n) == Seq(false), n))
    assert(!"graft/ops/Bench.class".matches(ModelStore.HarnessClasses))
  }

  test("concurrent same-key callers fit exactly once and never throw") {
    val key = freshKey()
    val fits = new java.util.concurrent.atomic.AtomicInteger(0)
    // FileChannel.lock throws OverlappingFileLockException when a second
    // THREAD of the same JVM locks the same file — and same-JVM races are
    // real (warmIndex's concurrent fits share the ivf_coarse tag through
    // a non-mutually-excluding TrieMap.getOrElseUpdate). The per-(key,tag)
    // in-JVM monitor must serialize them: one fit, three loads, no throw.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = ModelStore.getOrFitSer(key, "t5") {
            Thread.sleep(50); s"v${fits.incrementAndGet()}"
          }
        }))
      val got = results.map(_.get()).toSet
      assert(got == Set("v1"), s"racers saw $got")
      assert(fits.get() == 1, s"fit ran ${fits.get()} times")
    } finally pool.shutdown()
  }
}
