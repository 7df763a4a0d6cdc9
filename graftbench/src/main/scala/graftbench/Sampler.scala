package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Samples one thread's stack at a fixed period and names the layer it
  * is in at each sample, so time and jobs inside one opaque public call
  * (a whole `PipelineRunner.run`) can be split by layer without touching
  * the program. A layer's time is the sum of the sampling intervals that
  * ended in it; a job belongs to the layer of the last sample taken
  * before it started.
  */
final class Sampler(target: Thread, classify: Array[StackTraceElement] => String, periodMs: Long = 5) {
  private val samples = mutable.ArrayBuffer.empty[(Long, String)] // (epoch ms, layer)
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  @volatile private var running = true

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.synchronized { jobStarts += e.time }
  }

  private val thread = new Thread(() => {
    while (running) {
      val layer = classify(target.getStackTrace)
      samples.synchronized { samples += ((System.currentTimeMillis(), layer)) }
      Thread.sleep(periodMs)
    }
  }, "graftbench-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Stop sampling; (ms, jobs) by layer. Call after the listener bus
    * has drained, so every job of the sampled interval is counted.
    */
  def stop(): Map[String, (Double, Long)] = {
    running = false
    thread.join()
    val s = samples.synchronized(samples.toVector)
    val ms = mutable.HashMap.empty[String, Double]
    s.zip(s.drop(1)).foreach { case ((t0, _), (t1, layer)) => ms(layer) = ms.getOrElse(layer, 0.0) + (t1 - t0) }
    val jobs = mutable.HashMap.empty[String, Long]
    jobStarts.synchronized(jobStarts.toVector).foreach { t =>
      val i = s.lastIndexWhere(_._1 <= t)
      if (i >= 0) jobs(s(i)._2) = jobs.getOrElse(s(i)._2, 0L) + 1
    }
    (ms.keySet ++ jobs.keySet).map(k => k -> (ms.getOrElse(k, 0.0), jobs.getOrElse(k, 0L))).toMap
  }
}

object Sampler {

  /** Layer of a driver stack inside `PipelineRunner.run`: the innermost
    * frame that enters a known layer decides. A frame of
    * `CurationStages.apply` names its stage by the `case "<op>" =>`
    * branch of the source that holds the frame's line.
    */
  def pipelineLayers(stageOfLine: Int => String)(stack: Array[StackTraceElement]): String =
    stack.iterator.map { f =>
      (f.getClassName, f.getMethodName) match {
        case ("graft.etl.PipelineRunner$", "writeSink") => "etl.sink"
        case ("graft.etl.PipelineRunner$", "readSource") => "etl.read"
        case ("graft.CypherEngine", "execute") => "etl.query"
        case ("graft.etl.CurationStages$", "apply") => s"curation.${stageOfLine(f.getLineNumber)}"
        case ("graft.etl.CurationStages$", "run") => "curation.spread_pin"
        case ("graft.etl.PipelineRunner$", "run") => "etl.other"
        case _ => null
      }
    }.find(_ != null).getOrElse("outside")

  /** Line → stage op of `CurationStages.apply`, read from the source of
    * the checkout being measured: each line belongs to the nearest
    * `case "<op>" =>` above it inside `apply`.
    */
  def stageLines(source: String): Int => String = {
    val p = Paths.get(source)
    if (!Files.isRegularFile(p)) (_: Int) => "unknown"
    else {
      val lines = Files.readAllLines(p).asScala.toVector
      val start = lines.indexWhere(_.trim.startsWith("def apply("))
      val end = lines.indexWhere(_.trim.startsWith("def run("), start)
      val Case = """\s*case "([a-z_]+)" =>.*""".r
      val cases = (start until end).collect { case i if Case.matches(lines(i)) =>
        val Case(op) = lines(i): @unchecked
        (i + 1, op)
      }
      (line: Int) => cases.takeWhile(_._1 <= line).lastOption.map(_._2).getOrElse("unknown")
    }
  }
}
