package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one span, filled by the listeners below. */
final class Counters {
  var jobs, stages, tasks, actions, failedTasks = 0L
  var planningMs, taskRunMs, schedDelayMs, gcMs, cpuNs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  var opRows, resultRows = 0L
  var batches, inputRows, rowsUpdated, commitMs, stateMemPeak = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  def jobStarted(id: Int, t: Long): Unit = { jobs += 1; jobStart(id) = t }
  def jobEnded(id: Int, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobIntervals += ((s, t)))

  /** Add `o` into this (a parent takes its children's counts). */
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; actions += o.actions
    failedTasks += o.failedTasks; planningMs += o.planningMs
    taskRunMs += o.taskRunMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    cpuNs += o.cpuNs; inputBytes += o.inputBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    opRows += o.opRows; resultRows += o.resultRows
    batches += o.batches; inputRows += o.inputRows
    rowsUpdated += o.rowsUpdated; commitMs += o.commitMs
    stateMemPeak = math.max(stateMemPeak, o.stateMemPeak)
    jobIntervals ++= o.jobIntervals
  }

  /** Wall covered by at least one job, in ms. */
  def jobUnionMs: Long = {
    var covered = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** A timed region around one benchmark-to-layer call. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long, counters: Counters)

/** The benchmark's measurement of one session: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, plus spans.
  *
  * Spark jobs reach a span through the job group set around the call
  * (`spark.jobGroup.id` = the span id). Query-execution and streaming
  * events carry no job group, so they go to the span that is open while
  * the listener bus delivers them; every span drains the bus when it
  * opens and closes, so no event crosses into another span.
  *
  * With `trace` off only task CPU time and streaming state metrics are
  * kept (the correctness gate needs the latter); no job groups are set.
  */
final class Probe(spark: SparkSession, trace: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Counters]
  private val jobOwner = new java.util.concurrent.ConcurrentHashMap[Int, Counters]
  @volatile private var current: Counters = new Counters
  private val untracked = new Counters
  val cpuNs = new AtomicLong

  /** The span a job belongs to: by our job group, or — for jobs that
    * carry a group of their own, like streaming micro-batches, which
    * run under their query's run id — the span open at the time. */
  private def owner(props: java.util.Properties): Counters = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("perfbench-"))
      .flatMap(id => id.stripPrefix("perfbench-").toIntOption)
      .flatMap(i => byId.synchronized(byId.get(i))).map(_.counters)
      .getOrElse(current)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (trace) {
      val c = owner(e.properties)
      c.synchronized(c.jobStarted(e.jobId, e.time))
      jobOwner.put(e.jobId, c)
      e.stageIds.foreach(s => stageOwner.put(s, c))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (trace) {
      val c = jobOwner.getOrDefault(e.jobId, untracked)
      c.synchronized(c.jobEnded(e.jobId, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (trace) {
      val c = stageOwner.getOrDefault(e.stageInfo.stageId, untracked)
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      if (trace) {
        val c = stageOwner.getOrDefault(e.stageId, untracked)
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.failedTasks += 1
          if (m != null) {
            c.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
            c.taskRunMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.inputBytes += m.inputMetrics.bytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
            // the scheduler delay as Spark's UI derives it
            c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              e.taskInfo.gettingResultTime)
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val c = current
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      val (ops, root) = Probe.outputRows(qe.executedPlan)
      c.synchronized {
        c.actions += 1; c.planningMs += phases; c.opRows += ops; c.resultRows += root
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum
      val c = current
      c.synchronized {
        c.batches += 1
        c.inputRows += p.numInputRows
        c.rowsUpdated += p.stateOperators.map(_.numRowsUpdated).sum
        c.commitMs += p.stateOperators.map(_.commitTimeMs).sum
        c.stateMemPeak = math.max(c.stateMemPeak, mem)
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  if (trace) spark.listenerManager.register(queryListener)

  def drain(): Unit = org.apache.spark.graft.GraftCoreShim.drainListenerBus(sc)

  /** Run `body` inside a span named `name`. Without tracing no job group
    * is set, but streaming progress still reaches the span (the state
    * memory gate reads it). */
  def span[T](name: String)(body: => T): (T, Span) = {
    drain()
    val parent = open.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
      System.nanoTime(), 0L, new Counters)
    spans += s
    byId.synchronized(byId(s.id) = s)
    open.push(s)
    current = s.counters
    if (trace) sc.setJobGroup(s"perfbench-${s.id}", name, interruptOnCancel = false)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      drain()
      open.pop()
      parent match {
        case Some(p) =>
          current = p.counters
          if (trace) sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
        case None =>
          current = untracked
          if (trace) sc.clearJobGroup()
      }
    }
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Counters of `s` and every span under it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    def go(x: Span): Unit = {
      c.add(x.counters)
      spans.filter(_.parent == x.id).foreach(go)
    }
    go(s)
    c
  }

  /** Wall of `s` minus the part its direct children cover (they never
    * overlap: calls are sequential). */
  def selfSeconds(s: Span): Double =
    seconds(s) - spans.filter(_.parent == s.id).map(seconds).sum

  def close(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    if (trace) spark.listenerManager.unregister(queryListener)
  }

  def spansJson(origin: Long): List[Map[String, Any]] = spans.toList.map { s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
      "self_s" -> selfSeconds(s))
  }
}

object Probe {
  /** (Σ operator numOutputRows, rows out of the plan's root operator),
    * walking through adaptive wrappers and query stages; reused
    * exchanges are skipped so shared work counts once. */
  def outputRows(plan: SparkPlan): (Long, Long) = {
    var total = 0L
    var root = -1L
    def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        rows(other).foreach { n =>
          total += n
          if (root < 0) root = n
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (total, math.max(root, 0L))
  }
}

/** Largest driver heap still in use after a collection: every old or
  * full collection reported while armed, plus one forced collection when
  * the reading is taken. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak live heap in MB since the last reset. */
  def peakMb(): Double = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val bytes: Long = synchronized(math.max(peak, now))
    bytes / 1048576.0
  }
}
