package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one op, split by the phase that submitted the
  * job: "construct" (eager work inside the public call, before it
  * returns) or "action" (the timed checksum).
  */
final class SparkCounts {
  var jobs = 0L
  var jobMs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var taskFailures = 0L

  def +=(o: SparkCounts): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; tasks += o.tasks; cpuNs += o.cpuNs
    schedDelayMs += o.schedDelayMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    taskFailures += o.taskFailures
  }
}

/** Records jobs, tasks, executor CPU, scheduler delay, shuffle, spill
  * and task failures per submitting phase. Events are drained with
  * [[ListenerBridge.waitUntilEmpty]] between ops, so everything
  * recorded since the last [[take]] belongs to the op just run.
  */
final class JobListener extends SparkListener {
  private val byPhase = mutable.HashMap.empty[String, SparkCounts]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]

  private def counts(phase: String) = byPhase.getOrElseUpdate(phase, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.PhaseKey)))
      .getOrElse("other")
    e.stageIds.foreach(stagePhase(_) = phase)
    jobStart(e.jobId) = (e.time, phase)
    counts(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, phase) =>
      counts(phase).jobMs += e.time - t0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stagePhase.getOrElse(e.stageId, "other"))
    c.tasks += 1
    val info = e.taskInfo
    if (info != null && info.failed) c.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      if (info != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        c.schedDelayMs += math.max(0L, info.duration - busy)
      }
    }
  }

  /** Counters since the previous call, by phase. */
  def take(): Map[String, SparkCounts] = synchronized {
    val r = byPhase.toMap
    byPhase.clear()
    stagePhase.clear()
    r
  }
}

/** Catalyst phase times (`QueryExecution.tracker`) of every query that
  * finished since the previous [[take]].
  */
final class PhaseListener extends QueryExecutionListener {
  private val phases = mutable.HashMap.empty[String, Long]

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases(name) = phases.getOrElse(name, 0L) + p.durationMs
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def take(): Map[String, Long] = synchronized {
    val r = phases.toMap
    phases.clear()
    r
  }
}

/** One traced interval: name, start/end (ns, monotonic), parent span
  * id (-1 for a root) and the op it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

/** What one traced op recorded. */
final case class OpTrace(op: Int, spans: Seq[Span], spark: Map[String, SparkCounts],
                         catalystMs: Map[String, Long], gcMs: Long,
                         pinnedRdds: Int, pinnedMb: Double)

/** Tracing for the traced half of a run: spans around each public call
  * kept in memory (written out at exit), Spark listeners drained between
  * ops, and storage/JVM state sampled after each op. Nothing here frees,
  * unpersists or collects garbage: pins and GC are the users' cost and
  * are recorded, not hidden.
  */
final class Trace(spark: SparkSession) {
  private val jobs = new JobListener
  private val phases = new PhaseListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = -1
  private var opSpans = mutable.ArrayBuffer.empty[Span]
  private var gcAtStart = 0L
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    heapPools.foreach(_.resetPeakUsage())
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
    attached = false
  }

  def isOn: Boolean = attached

  private def drain(): Unit =
    if (!ListenerBridge.waitUntilEmpty(spark, 60000L))
      throw new IllegalStateException("listener bus did not drain within 60 s")

  /** Start an op: drain earlier events so the counters start clean. */
  def beginOp(id: Int): Unit = if (attached) {
    drain()
    jobs.take(); phases.take()
    opId = id
    opSpans = mutable.ArrayBuffer.empty[Span]
    gcAtStart = Trace.gcMs()
  }

  /** End an op: drain and attribute every event since [[beginOp]]. */
  def endOp(): Option[OpTrace] = if (!attached) None else {
    drain()
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.size
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    Some(OpTrace(opId, opSpans.toSeq, jobs.take(), phases.take(),
      Trace.gcMs() - gcAtStart, pinned, mb))
  }

  /** Time `body` as span `name`; jobs it submits are tagged `phase`. */
  def span[T](name: String, phase: String = "construct")(body: => T): T =
    if (!attached) body
    else {
      val sc = spark.sparkContext
      val prevPhase = sc.getLocalProperty(Trace.PhaseKey)
      sc.setLocalProperty(Trace.PhaseKey, phase)
      val parent = stack.headOption.getOrElse(-1)
      val sid = Trace.nextId()
      stack.push(sid)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Trace.PhaseKey, prevPhase)
        val s = Span(sid, name, t0, t1, parent, opId)
        opSpans += s
        spans += s
      }
    }

  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** All spans as JSON lines (name, start/end ns, parent, op). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val PhaseKey = "graftbench.phase"

  /** A trace that is never attached: spans just run their body. */
  val off: Trace = new Trace(null)
  private var ids = 0
  private def nextId(): Int = { ids += 1; ids }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}
