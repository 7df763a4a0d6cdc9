package graftbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A deferred correctness check: None when the op's result is right,
  * else what was wrong. Runs after the op's timed region.
  */
trait Check { def apply(): Option[String] }

object Check {
  def apply(f: => Option[String]): Check = () => f
  def equal[T](what: String, got: => T, want: => T): Check = () => {
    val (g, w) = (got, want)
    if (g == w) None else Some(s"$what: got $g, want $w")
  }
}

/** One operation of a closed-loop round: `run` does the timed work
  * (the public call plus the checksum action) and returns its check.
  * `kind` groups ops for the headline metrics (read, write, small,
  * large, bpe, pipeline).
  */
final case class Op(template: String, kind: String, run: Trace => Check)

/** One op as measured. */
final case class Sample(template: String, kind: String, ms: Double, traced: Option[OpTrace])

/** A workload: seeded inputs, set-up, and the op sequence of each round. */
trait Workload {
  /** Write the inputs under `dir` from `seed` and keep the facts the
    * checks need; returns input sizes (rows, edges, bytes) by name.
    */
  def generate(): Seq[(String, Long)]

  /** Everything a user pays before the first query: catalog/engine
    * construction and the warm-up pass. Timed as set-up.
    */
  def setup(spark: SparkSession): Unit

  /** The ops of round `r` (seeded order). */
  def round(r: Int): Seq[Op]

  /** Extra per-layer metrics for a traced run (e.g. a decomposed pass). */
  def breakdown(spark: SparkSession): Map[String, Double] = Map.empty
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  /** One local session of at most 4 cores (the benchmark's fixed shape). */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, dir: Path, seed: Long): Workload = name match {
    case "cypher_mix"   => new CypherMix(dir, seed)
    case "fixpoint"     => new Fixpoint(dir, seed)
    case "curation_etl" => new CurationEtl(dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def info(line: String): Unit = println(s"# ${line.take(900)}")

  /** A short pass over small versions of the workloads, so the JVM
    * loads the classes the benchmark runs use; the launcher runs it
    * once per build to record a class-data archive for later runs.
    */
  private def train(work: Path): Unit = {
    val spark = session(work)
    val w = new CypherMix(work.resolve("cypher"), 1L, nP = 400)
    w.generate()
    w.setup(spark)
    warmUp(w.round(0))
    spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    Files.createDirectories(args.work)
    if (args.workload == "train") { train(args.work); return }
    val w = workload(args.workload, args.work.resolve("inputs"), args.seed)

    // inputs: generated without Spark while the JVM's first session
    // starts (set-up is timed after them, except the first one's wait)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val gen0 = System.nanoTime()
    val generated = Future(w.generate())(ExecutionContext.global)
    var spark = session(args.work)
    System.err.println(f"[graftbench] first session ${(System.nanoTime() - gen0) / 1e9}%.3f s")
    val sizes = Await.result(generated, Duration.Inf)
    val genS = (System.nanoTime() - gen0) / 1e9
    System.err.println(f"[graftbench] generated $genS%.3f s")
    info(s"workload=${args.workload} seed=${args.seed} cores=$cores " +
      s"heap_mb=${Runtime.getRuntime.maxMemory / 1048576} spark=${spark.version} " +
      f"generate_s=$genS%.3f")
    info("inputs " + sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))

    // set-up, several times over: the first on the JVM's first session,
    // timed from process start (so it also holds JVM start and any wait
    // for the inputs), the others each in a fresh session
    val setups = (1 to Main.SetupRepeats).map { i =>
      val t0 =
        if (i == 1) System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
        else { spark.stop(); val t = System.nanoTime(); spark = session(args.work); t }
      w.setup(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] setup $secs%.3f s")
      secs
    }
    info(s"setup_s runs (the first from process start): ${setups.map(s => f"$s%.3f").mkString(" ")}")

    val trace = new Trace(spark)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def runRound(r: Int): Unit = w.round(r).foreach { op =>
      attempted += 1
      trace.beginOp(attempted)
      val t0 = System.nanoTime()
      val outcome =
        try Right(trace.span("op", "op")(op.run(trace)))
        catch { case e: Throwable => Left(s"${op.template}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"[graftbench] round $r%d op $attempted%d ${op.template} $ms%.1f ms")
      val traced = trace.endOp()
      val c0 = System.nanoTime()
      val err = outcome.fold(Some(_), check =>
        try check().map(m => s"${op.template}: $m")
        catch { case e: Throwable => Some(s"${op.template} check: ${e.getMessage}") })
      System.err.println(f"[graftbench] check ${op.template} ${(System.nanoTime() - c0) / 1e6}%.1f ms")
      err match {
        case Some(m) => failures += m
        case None => samples += Sample(op.template, op.kind, ms, traced)
      }
    }

    // closed loop, one client: whole rounds until the time is spent.
    // Untraced runs record their op times as the reference of this
    // build; a traced run measures the same rounds traced and compares
    // them with that reference for the tracing overhead. Without a
    // reference, a traced run first warms up with one unmeasured round,
    // then measures half its time untraced and half traced: equally
    // warm, so their difference is the overhead
    val refFile = args.work.getParent.resolve(s"untraced-${args.workload}.tsv")
    val reference = Reference.read(refFile)
    val selfReference = args.trace && !w.round(0).forall(op => reference.contains(op.template))
    var r = 0
    if (selfReference) { warmUp(w.round(r)); r += 1 }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def measure(until: Double): Unit = {
      val first = r
      while (r == first || elapsed < until) { runRound(r); r += 1 }
    }
    if (!args.trace || selfReference) measure(if (args.trace) args.seconds / 2 else args.seconds)
    val untraced = samples.toVector
    var breakdown = Map.empty[String, Double]
    if (args.trace) {
      trace.attach()
      measure(args.seconds)
      breakdown = w.breakdown(spark)
      trace.detach()
      trace.writeSpans(args.work.resolve("spans.jsonl"))
    } else if (failures.isEmpty) Reference.append(refFile, untraced)
    val baseline =
      if (selfReference) untraced.groupBy(_.template).map { case (t, xs) => t -> Stats.median(xs.map(_.ms)) }
      else reference.map { case (t, xs) => t -> Stats.median(xs) }
    info(s"trace overhead reference: ${if (selfReference) "this run's untraced rounds" else s"earlier untraced runs (${refFile.getFileName})"}")
    failures.take(20).foreach(f => info(s"FAILED $f"))

    val metrics =
      if (!args.trace) Metrics.endToEnd(untraced, Stats.median(setups))
      else Metrics.perLayer(untraced, samples.drop(untraced.size).toVector, baseline, breakdown, cores,
        trace.heapPeakMb)
    Metrics.notes(samples.toVector).foreach(info)
    metrics.foreach { case (k, (v, u)) => info(s"metric workload=${args.workload} $k=$v $u") }
    spark.stop()
    val correct = failures.isEmpty
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Metrics.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}""")
  }

  val SetupRepeats = 3

  /** Run ops untimed and unchecked (the warm-up pass of a set-up). */
  def warmUp(ops: Seq[Op]): Unit = ops.foreach { op =>
    val t0 = System.nanoTime()
    op.run(Trace.off)
    System.err.println(f"[graftbench] warm-up ${op.template} ${(System.nanoTime() - t0) / 1e6}%.1f ms")
  }
}

/** Op times of the untraced runs of one build, by template: one
  * `template<TAB>ms` line per op, appended by each untraced run. The
  * launcher deletes the file when it rebuilds.
  */
object Reference {
  def read(f: Path): Map[String, Seq[Double]] =
    if (!Files.isRegularFile(f)) Map.empty
    else Files.readAllLines(f).asScala.toSeq.flatMap(_.split('\t') match {
      case Array(t, ms) => ms.toDoubleOption.map(t -> _)
      case _ => None
    }).groupMap(_._1)(_._2)

  def append(f: Path, samples: Seq[Sample]): Unit =
    Files.write(f, samples.map(s => s"${s.template}\t${s.ms}").asJava,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}
