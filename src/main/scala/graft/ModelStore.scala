package graft

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.util.control.NonFatal

/** Cross-JVM fit-once artifact store (r12 verdict #1): the ANN/PCA/topic
  * model fits, the exact-kNN ground-truth table, the LSH pair/label/index
  * tables, and the faithful-sketch builds are all fit-once PER DATASET —
  * but the caches were per-JVM TrieMaps, so a bench whose warmup budget
  * tripped under box load refit every artifact inside whichever timed
  * query ran first (the r12 official artifact's 1.5× inflation). This
  * store persists each artifact under a directory keyed by the dataset's
  * content key (path + mtime + size, the `Tables.datasetKey` convention —
  * a regenerated dataset can never serve a stale artifact), so a cold JVM
  * pays a disk read, not a KMeans/PCA refit.
  *
  * Completion and concurrency discipline = the SccLoaderGate fixture's:
  * write into a pid-suffixed build dir, mark `_GRAFT_OK`, atomic-move into
  * place, all under a cross-process `FileChannel` lock with the
  * completion marker re-checked inside the lock — concurrent JVMs fit
  * once, not once per racer, and a crashed build is never mistaken for a
  * complete artifact. Load failures (torn files, serialVersion drift
  * after a recompile) fall back to refit-and-replace, never to a query
  * failure.
  */
object ModelStore {

  /** Store root: `SPARK_GRAFT_MODELSTORE` (env, or the
    * `spark.graft.modelstore` system property for in-JVM tests) points the
    * store at shared storage in a multi-driver deployment — each node's
    * /tmp is node-local, so the tmpdir default would refit once per
    * driver host. Concurrency holds on any root where
    * `FileChannel.lock` is a real advisory lock (local disk, NFSv4);
    * on object stores without POSIX lock semantics the discipline
    * degrades to last-publisher-wins of IDENTICAL artifacts (fits are
    * deterministic per key), never to a torn read — `_GRAFT_OK` + the
    * atomic move still gate visibility. */
  private def baseDir: String =
    sys.props.get("spark.graft.modelstore")
      .orElse(sys.env.get("SPARK_GRAFT_MODELSTORE"))
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      .stripSuffix("/")

  /** Fingerprint of the compiled graft code (ADVICE r13 #1): artifacts are
    * functions of (dataset bytes, FIT LOGIC), but the key carried only the
    * dataset content — a store populated by a pre-change build was
    * silently served to changed code (the r13 clitic change altered every
    * token-derived artifact; Java-deserialization fallback catches
    * serialVersion drift but not semantically stale trees that load
    * fine). Hashing every fit-relevant .class file under this class's
    * code source makes any logic recompile a new key — over-invalidation
    * is safe where under-invalidation is the bug.
    *
    * r15 (r14 ADVICE #5 + verdict #2): the digest covers class CONTENT
    * bytes, not (size, mtime) — mtimes differ across hosts that compiled
    * or copied byte-identical builds independently, so in the shared-store
    * deployment each driver host derived its own key and silently refit
    * into a private prefix, defeating the fit-once sharing. And the
    * MEASUREMENT-HARNESS classes (Bench/AbRunner/Warmup/… below) are
    * excluded: they contain no fit logic, so a harness-only rebuild — the
    * most common kind during perf work, and the one that produced the
    * r14 cold-store bench outlier — keeps the store warm. Only mains that
    * no query path calls belong there: `Sessions` is not one (query code,
    * the BPE training loop included, runs under `Sessions.withConf`), and
    * under-invalidation is the bug this key exists to stop. Falls back to a
    * constant when the code source is unreadable (never in this harness;
    * the behavior is then exactly pre-r14). */
  private[graft] val HarnessClasses =
    "graft/(AbRunner|Bench|Canary|Explain|HarnessGuard|PlanAudit|ReceiptRefresh|ScaleGate|Verify|Warmup)(\\$.*)?\\.(class|tasty)"
  private[graft] lazy val buildFingerprint: String = {
    try {
      val src = getClass.getProtectionDomain.getCodeSource
      if (src == null) "nofp"
      else {
        val loc = Paths.get(src.getLocation.toURI)
        val md = java.security.MessageDigest.getInstance("MD5")
        if (Files.isDirectory(loc)) {
          val stream = Files.walk(loc)
          try {
            val paths = new java.util.ArrayList[Path]()
            stream.filter { p =>
              p.toString.endsWith(".class") &&
                !loc.relativize(p).toString.matches(HarnessClasses)
            }.forEach(p => paths.add(p))
            paths.sort(java.util.Comparator.comparing[Path, String](
              ((p: Path) => loc.relativize(p).toString): java.util.function.Function[Path, String]))
            paths.forEach { p =>
              md.update(loc.relativize(p).toString.getBytes("UTF-8"))
              md.update(Files.readAllBytes(p))
            }
          } finally stream.close()
        } else {
          // jar launch (SPARK_GRAFT_JARS / spark-submit): digest the
          // .class ENTRIES (name + content, sorted, harness excluded) —
          // NOT the raw jar bytes, whose manifest/entry timestamps change
          // on every `sbt package` — so a dir-launched driver and a
          // jar-launched driver of the SAME build derive the SAME key
          // (the r15 local-cluster bench went needlessly cold on exactly
          // this: identical classes, two fingerprints)
          val zf = new java.util.zip.ZipFile(loc.toFile)
          try {
            val names = new java.util.ArrayList[String]()
            val en = zf.entries()
            while (en.hasMoreElements) {
              val e = en.nextElement()
              if (e.getName.endsWith(".class") && !e.getName.matches(HarnessClasses))
                names.add(e.getName): Unit
            }
            java.util.Collections.sort(names)
            names.forEach { n =>
              md.update(n.getBytes("UTF-8"))
              val in = zf.getInputStream(zf.getEntry(n))
              try md.update(in.readAllBytes()) finally in.close()
            }
          } finally zf.close()
        }
        md.digest().map("%02x".format(_)).mkString.take(12)
      }
    } catch { case NonFatal(_) => "nofp" }
  }

  /** Final on-disk location for (content key, tag). Versioned prefix
    * (layout changes) + build fingerprint folded INTO the digest (logic
    * changes): neither a stale FORMAT nor stale SEMANTICS can be served
    * across recompiles. Folded rather than a separate path segment so
    * the path stays v1-length — plan dumps truncate scan locations at
    * `spark.sql.maxMetadataStringLength` (100), and a longer store path
    * pushed ".../lsh_index" out of the dumped Location string, breaking
    * the PlanShapeSpec index-scan pin. */
  def artifactDir(key: String, tag: String): Path =
    Paths.get(s"$baseDir/graft_models_v2_${TmpDirs.md5Hex(s"$buildFingerprint|$key")}/$tag")

  /** Whether (key, tag) is already published for the CURRENT build
    * fingerprint — Bench's cold-store probe (r14 verdict #2): a cold
    * store means the warmup's fit phases do real KMeans/PCA work instead
    * of parquet reads, so the wall budget must scale accordingly or the
    * fits land inside the timed queries (the r14 official artifact's
    * 18.5 s `sim_ivfpq_contract` outlier). */
  def isWarm(key: String, tag: String): Boolean =
    Files.exists(artifactDir(key, tag).resolve("_GRAFT_OK"))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }

  /** Per-(key,tag) in-JVM monitor: `FileChannel.lock` guards across
    * PROCESSES but throws OverlappingFileLockException when a second
    * THREAD of the same JVM locks the same file — and same-JVM races are
    * real here (warmIndex's concurrent fits both reach the shared
    * ivf_coarse tag through TrieMap.getOrElseUpdate, whose `op` is not
    * mutually excluded). Same-JVM callers serialize on this monitor
    * first, so exactly one of them holds the file lock. */
  private val jvmLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Load the completed artifact if present, else compute with `fit`,
    * persist with `save` (handed the build dir), and atomically publish.
    * Returns the loaded or freshly-fitted value. */
  def getOrFit[T](key: String, tag: String)(fit: => T)(
      save: (T, Path) => Unit, load: Path => T): T =
    jvmLocks.getOrElseUpdate(s"$key|$tag", new Object).synchronized {
      getOrFitLocked(key, tag)(fit)(save, load)
    }

  private def getOrFitLocked[T](key: String, tag: String)(fit: => T)(
      save: (T, Path) => Unit, load: Path => T): T = {
    val dir = artifactDir(key, tag)
    def tryLoad(): Option[T] =
      if (Files.exists(dir.resolve("_GRAFT_OK")))
        try Some(load(dir))
        catch {
          case NonFatal(e) =>
            System.err.println(s"[modelstore] reload of $tag failed " +
              s"(${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}) - refitting")
            None
        }
      else None
    tryLoad().getOrElse {
      Files.createDirectories(dir.getParent)
      val ch = FileChannel.open(
        dir.getParent.resolve(s"$tag.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until a concurrent fitter finishes
        try {
          // re-check under the lock: a concurrent JVM may have published
          // while we waited for it
          tryLoad().getOrElse {
            val value = fit
            deleteRecursively(dir) // torn artifact from a crashed build
            val build = Paths.get(dir.toString + ".build-" +
              ProcessHandle.current().pid())
            deleteRecursively(build)
            Files.createDirectories(build)
            save(value, build)
            Files.write(build.resolve("_GRAFT_OK"), Array.emptyByteArray)
            try Files.move(build, dir, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileAlreadyExistsException |
                  _: java.nio.file.DirectoryNotEmptyException =>
                deleteRecursively(build) // raced an external publisher
            }
            value
          }
        } finally lock.release()
      } finally ch.close()
    }
  }

  /** [[getOrFit]] for Java-serializable values (RefCms sketches, collected
    * Row arrays): one `value.bin` file in the artifact dir.
    *
    * Deserialization allowlist (r16, r15 ADVICE #4): the store defaults to
    * a world-readable tmpdir, so `value.bin` sits at a predictable path —
    * an ObjectInputFilter pins the object graph to the packages these
    * artifacts actually contain, turning a planted gadget payload into an
    * InvalidClassException. A rejected load falls back to refit-and-replace
    * (the existing torn-file path), never to a query failure. */
  private val serFilter = java.io.ObjectInputFilter.Config.createFilter(
    "graft.**;scala.**;java.lang.**;java.util.**;java.math.**;" +
      "org.apache.spark.**;!*")

  def getOrFitSer[T <: AnyRef](key: String, tag: String)(fit: => T): T =
    getOrFit[T](key, tag)(fit)(
      (v, dir) => {
        val oos = new java.io.ObjectOutputStream(
          Files.newOutputStream(dir.resolve("value.bin")))
        try oos.writeObject(v) finally oos.close()
      },
      dir => {
        val ois = new java.io.ObjectInputStream(
          Files.newInputStream(dir.resolve("value.bin")))
        ois.setObjectInputFilter(serFilter)
        try ois.readObject().asInstanceOf[T] finally ois.close()
      })

  /** Ensure a parquet (or any file-tree) artifact exists under the store:
    * `write` is handed the BUILD dir and lays out whatever file tree it
    * wants; the completed tree is published atomically. Returns the final
    * artifact dir path (the same file names `write` created, under it). */
  def ensureTree(key: String, tag: String)(write: Path => Unit): String = {
    getOrFit[Unit](key, tag)(())((_, build) => write(build), _ => ())
    artifactDir(key, tag).toString
  }
}
