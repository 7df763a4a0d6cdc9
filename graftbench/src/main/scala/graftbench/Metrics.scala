package graftbench

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (numpy's default); 0 for no data. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Samples strictly above the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(n * p / 100.0).toInt
}

/** Metric names, units and how they are derived from the samples. */
object Metrics {
  type Out = Seq[(String, (Double, String))]

  /** The end-to-end metrics. Op latency is summarized by its geometric
    * mean: a round mixes templates whose costs differ tenfold, and the
    * median of such a mix jumps between template clusters from run to
    * run; the median and p90 are printed on the note lines.
    */
  def endToEnd(untraced: Seq[Sample], setupS: Double): Out = {
    val ms = untraced.map(_.ms)
    Seq(
      "setup_s" -> (setupS, "s"),
      "op_geomean_ms" -> (Stats.geomean(ms), "ms"),
      "ops_per_s" -> (if (ms.isEmpty) 0.0 else ms.size / (ms.sum / 1000.0), "1/s"))
  }

  /** Lines that qualify the numbers: sample counts, and tails that do
    * not leave ten samples beyond them.
    */
  def notes(samples: Seq[Sample]): Seq[String] = {
    val byKind = samples.groupBy(_.kind).toSeq.sortBy(_._1)
    val tails = (("all", samples) +: byKind).map { case (k, s) =>
      val n = s.size
      val p90 = Stats.percentile(s.map(_.ms), 90)
      val flag = if (Stats.beyond(n, 90) < 10) " (fewer than 10 samples beyond p90: tail not resolved)" else ""
      f"samples kind=$k n=$n p50_ms=${Stats.median(s.map(_.ms))}%.3f p90_ms=$p90%.3f$flag"
    }
    tails
  }

  val CypherTemplates: Seq[String] = Seq("scan", "filtered_scan", "one_hop", "filtered_hop",
    "two_hop", "agg_count", "agg_avg", "point", "optional", "exists", "var_length",
    "shortest_path", "tag_read", "create_tag", "merge_tag", "tag_person", "bump_tag")
  val Stages: Seq[String] = Seq("quality_gate", "exact_dedup", "minhash_dedup",
    "semantic_dedup", "pii_redact", "token_budget")

  /** Every per-layer metric with its unit (also the order printed). */
  val PerLayer: Seq[(String, String)] =
    Seq("parser.ms" -> "ms", "compiler.ms" -> "ms", "compiler.jobs" -> "count",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms") ++
    CypherTemplates.map(t => s"template.$t.p50_ms" -> "ms") ++
    Seq("mutation.ms" -> "ms", "mutation.jobs" -> "count",
      "paths.construct_ms" -> "ms", "paths.construct_jobs" -> "count") ++
    (for (size <- Fixpoint.Sizes; a <- Fixpoint.algos(size); (k, u) <- Seq("ms" -> "ms", "jobs" -> "count"))
      yield s"operators.$a.$size.$k" -> u) ++
    Seq("operators.bpe.ms" -> "ms", "operators.bpe.jobs" -> "count") ++
    (for (size <- Fixpoint.Sizes; (k, u) <- Seq("ms_per_job" -> "ms", "tasks_per_job" -> "count",
      "cpu_util" -> "ratio")) yield s"operators.$size.$k" -> u) ++
    Seq("execution.ms" -> "ms", "execution.jobs" -> "count", "execution.tasks" -> "count",
      "execution.executor_cpu_ms" -> "ms", "execution.scheduler_delay_ms" -> "ms",
      "execution.cpu_util" -> "ratio", "execution.shuffle_read_bytes" -> "bytes",
      "execution.shuffle_write_bytes" -> "bytes", "execution.spill_bytes" -> "bytes",
      "execution.task_failures" -> "count",
      "etl.read_ms" -> "ms", "etl.query_ms" -> "ms", "etl.sink_ms" -> "ms",
      "etl.sink_bytes" -> "bytes") ++
    (for (st <- Stages; (m, u) <- Seq("ms" -> "ms", "jobs" -> "count", "isolated_ms" -> "ms",
      "docs_in" -> "count", "docs_out" -> "count")) yield s"curation.$st.$m" -> u) ++
    Seq("curation.spread_pin.ms" -> "ms") ++
    Seq("dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
      "dedup.pair_yield" -> "ratio", "dedup.fallback_routes" -> "count",
      "storage.pinned_rdds_after_op" -> "count", "storage.pinned_mb_after_op" -> "MB",
      "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
      "trace.overhead_frac" -> "ratio",
      "share.construct" -> "ratio", "share.catalyst" -> "ratio", "share.execution" -> "ratio",
      "read_p50_ms" -> "ms", "read_p90_ms" -> "ms", "write_p50_ms" -> "ms",
      "small_graph_s" -> "s", "large_graph_s" -> "s", "bpe_train_s" -> "s",
      "pipeline_s" -> "s")

  private def spanMs(t: OpTrace, name: String): Double =
    t.spans.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum

  private def phase(t: OpTrace, p: String): SparkCounts =
    t.spark.getOrElse(p, new SparkCounts)

  private def total(t: OpTrace): SparkCounts = {
    val c = new SparkCounts
    t.spark.values.foreach(c += _)
    c
  }

  /** Per-layer metrics of a traced run: layer counters from the `traced`
    * rounds, latencies from all its rounds, and the overhead of tracing
    * as traced latency against the untraced `baseline` (median ms by
    * template), per template.
    */
  def perLayer(untraced: Seq[Sample], traced: Seq[Sample], baseline: Map[String, Double],
               extra: Map[String, Double], cores: Int, heapPeakMb: Double): Out = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val tr = traced.flatMap(s => s.traced.map(s -> _))
    val plain = untraced ++ traced
    def medAll(f: Sample => Boolean) = Stats.median(plain.filter(f).map(_.ms))
    def byLayer(layer: String) = tr.filter { case (_, t) => t.spans.exists(_.name == layer) }

    // construction layers: the public call's span and the jobs it ran
    def construct(layer: String, msKey: String, jobsKey: String): Unit = {
      val xs = byLayer(layer)
      m(msKey) = Stats.median(xs.map { case (_, t) => spanMs(t, layer) })
      m(jobsKey) = Stats.mean(xs.map { case (_, t) => phase(t, "construct").jobs.toDouble })
    }
    m("parser.ms") = Stats.median(tr.map { case (_, t) => spanMs(t, "parser") }.filter(_ > 0))
    construct("compiler", "compiler.ms", "compiler.jobs")
    construct("mutation", "mutation.ms", "mutation.jobs")
    construct("paths", "paths.construct_ms", "paths.construct_jobs")
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"catalyst.${p}_ms") = Stats.mean(tr.map { case (_, t) => t.catalystMs.getOrElse(p, 0L).toDouble })

    CypherTemplates.foreach(t => m(s"template.$t.p50_ms") = medAll(_.template == t))

    // iterative operators: the public call's span and its eager jobs per
    // algorithm and size; job shape per size over the whole op
    def operator(template: String, key: String): Unit = {
      val xs = tr.filter(_._1.template == template)
      m(s"$key.ms") = Stats.median(xs.map { case (_, t) => spanMs(t, "operators") })
      m(s"$key.jobs") = Stats.mean(xs.map { case (_, t) => phase(t, "construct").jobs.toDouble })
    }
    for (size <- Fixpoint.Sizes) {
      Fixpoint.algos(size).foreach(a => operator(s"$a.$size", s"operators.$a.$size"))
      val xs = tr.filter(_._1.kind == size)
      val c = new SparkCounts
      xs.foreach { case (_, t) => c += total(t) }
      val wallMs = xs.map(_._1.ms).sum
      m(s"operators.$size.ms_per_job") = if (c.jobs == 0) 0.0 else wallMs / c.jobs
      m(s"operators.$size.tasks_per_job") = if (c.jobs == 0) 0.0 else c.tasks.toDouble / c.jobs
      m(s"operators.$size.cpu_util") = if (wallMs == 0) 0.0 else c.cpuNs / 1e6 / (wallMs * cores)
    }
    operator("bpe", "operators.bpe")

    val all = new SparkCounts
    tr.foreach { case (_, t) => all += total(t) }
    val n = math.max(1, tr.size).toDouble
    m("execution.ms") = all.jobMs / n
    m("execution.jobs") = all.jobs / n
    m("execution.tasks") = all.tasks / n
    m("execution.executor_cpu_ms") = all.cpuNs / 1e6 / n
    m("execution.scheduler_delay_ms") = all.schedDelayMs / n
    m("execution.cpu_util") = if (all.jobMs == 0) 0.0 else all.cpuNs / 1e6 / (all.jobMs * cores)
    m("execution.shuffle_read_bytes") = all.shuffleRead / n
    m("execution.shuffle_write_bytes") = all.shuffleWrite / n
    m("execution.spill_bytes") = all.spill / n
    m("execution.task_failures") = all.taskFailures.toDouble

    for (k <- PerLayer.map(_._1) if k.startsWith("etl.") || k.startsWith("curation.") ||
      k.startsWith("dedup.")) m(k) = extra.getOrElse(k, 0.0)

    val last = tr.lastOption.map(_._2)
    m("storage.pinned_rdds_after_op") = last.map(_.pinnedRdds.toDouble).getOrElse(0.0)
    m("storage.pinned_mb_after_op") = last.map(_.pinnedMb).getOrElse(0.0)
    m("jvm.gc_ms") = Stats.mean(tr.map(_._2.gcMs.toDouble))
    m("jvm.heap_peak_mb") = heapPeakMb

    // per template: traced median over untraced median; the median ratio
    val ratios = traced.groupBy(_.template).toSeq.flatMap { case (t, xs) =>
      baseline.get(t).filter(_ > 0).map(Stats.median(xs.map(_.ms)) / _)
    }
    m("trace.overhead_frac") = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1
    val opMs = tr.map(_._1.ms).sum
    def share(x: Double) = if (opMs == 0) 0.0 else x / opMs
    m("share.construct") = share(tr.map { case (_, t) =>
      Seq("compiler", "mutation", "paths", "operators", "etl").map(spanMs(t, _)).sum }.sum)
    m("share.catalyst") = share(tr.map(_._2.catalystMs.values.sum.toDouble).sum)
    m("share.execution") = share(all.jobMs.toDouble)

    m("read_p50_ms") = medAll(_.kind == "read")
    m("read_p90_ms") = Stats.percentile(plain.filter(_.kind == "read").map(_.ms), 90)
    m("write_p50_ms") = medAll(_.kind == "write")
    m("pipeline_s") = medAll(_.kind == "pipeline") / 1000
    for (size <- Fixpoint.Sizes)
      m(s"${size}_graph_s") = Fixpoint.algos(size).map(a => medAll(_.template == s"$a.$size")).sum / 1000
    m("bpe_train_s") = medAll(_.kind == "bpe") / 1000

    PerLayer.map { case (k, u) => k -> (m.getOrElse(k, 0.0), u) }
  }

  /** A JSON number with all its digits (no NaN/Infinity in JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else BigDecimal(v).toString
}
