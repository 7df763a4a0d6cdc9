package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.graftshim.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.CypherEngine
import graft.etl.{CurationStages, PipelineConfig, PipelineRunner}
import graft.model.GraphCatalog
import graft.operators.Dedup

/** The ETL/training-data user: each op is one `PipelineRunner.run` of a
  * generated nmetl YAML. Two sources (documents, domains) linked by
  * HOSTED_ON; a Cypher query keeps the documents of allowed domains;
  * the curation stages quality_gate → exact_dedup → minhash_dedup (with
  * a per-op ledger_dir) → semantic_dedup → pii_redact → token_budget
  * run on the result, which is written to a per-op parquet sink.
  *
  * The corpus is sized and shaped after the repo's sf1 document corpus
  * (PERFORMANCE.md: 50k documents, the 5k-document bench corpus times
  * 10 replicas, each replica a near duplicate with one marker token) at
  * 1/20 of its size: about 2,500 documents, most of them in clusters of
  * an original and nine marker-token copies. It also plants
  * exact-duplicate clusters with Zipf-distributed sizes, one boilerplate
  * flood whose copies differ only in case and spacing, embedding-only
  * (paraphrase) clusters on one and on near embeddings, low-quality
  * documents, PII, documents on
  * disallowed domains, and a forum group whose token budget cuts. The
  * planted structure is kept on the side (and written to planted.json)
  * for the checks.
  *
  * In a traced run each pipeline run is split by layer from the driver
  * thread's stack, sampled while the run executes (see [[Sampler]]); a
  * separate isolated pass gives each stage's documents in and out.
  */
final class CurationEtl(dir: Path, seed: Long) extends Workload {
  import CurationEtl._
  private val dim = 32

  // planted structure
  private[graftbench] val exactClusters = mutable.ArrayBuffer.empty[Seq[Long]]
  private[graftbench] val nearClusters = mutable.ArrayBuffer.empty[Seq[Long]] // the flood cluster included
  private[graftbench] val semanticClusters = mutable.ArrayBuffer.empty[Seq[Long]]
  private[graftbench] val nearSemanticClusters = mutable.ArrayBuffer.empty[Seq[Long]]
  private[graftbench] val uniques = mutable.ArrayBuffer.empty[Long]  // web, allowed, good: must survive
  private[graftbench] val dropped = mutable.ArrayBuffer.empty[Long]  // low quality or disallowed: must not
  private[graftbench] val forum = mutable.HashSet.empty[Long]
  private[graftbench] var forumBudget = 0L

  private var yaml: String = _
  private val writes = new SinkWrites
  private var spark: SparkSession = _
  private var opNo = 0
  private val routes = mutable.HashMap.empty[String, Long]
  private val realRuns = mutable.ArrayBuffer.empty[Map[String, (Double, Long)]]
  private lazy val stageOfLine = Sampler.stageLines(StagesSource)

  private def path(f: String) = dir.resolve(f).toString

  def generate(): Seq[(String, Long)] = {
    val rng = new java.util.SplittableRandom(seed)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an", "el", "or",
      "pri", "st", "qu", "th", "ng", "ea", "ou", "ix", "ul", "eb", "os", "ir")
    val vocab = Array.tabulate(20000)(i => (1 to 2 + rng.nextInt(2)).map(_ => syl(rng.nextInt(syl.length))).mkString + i.toString)
    def words(n: Int) = Array.fill(n)(vocab(rng.nextInt(vocab.length)))
    def goodText() = words(40 + rng.nextInt(60)).mkString(" ")
    def vec(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def near(v: Array[Double], eps: Double) = {
      val w = v.map(_ + eps * rng.nextGaussian())
      val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
    def zipfSize(max: Int) = 2 + (max * math.pow(rng.nextDouble(), 3)).toInt

    // domains: 0-29 web, 30-39 forum; the last few of each are disallowed
    val kindOf = (d: Int) => if (d < 30) "web" else "forum"
    val allowed = (d: Int) => !(d >= 24 && d < 30) && d < 38
    val webAllowed = (0 until 24).toArray
    val docs = mutable.ArrayBuffer.empty[(Long, String, Array[Double], Int)]
    def add(text: String, v: Array[Double], domain: Int): Long = {
      val id = docs.size.toLong
      docs += ((id, text, v, domain)); id
    }
    def web() = webAllowed(rng.nextInt(webAllowed.length))

    // near-duplicate clusters in the replica shape of the sf1 corpus:
    // an original and nine copies, each with one marker token appended
    for (_ <- 0 until ReplicaClusters) {
      val (base, v) = (goodText(), vec())
      nearClusters += (0 until Replicas).map { k =>
        add(if (k == 0) base else s"$base replica$k", near(v, 0.02), web())
      }
    }
    for (_ <- 0 until 220) uniques += add(goodText(), vec(), web())
    for (_ <- 0 until 40) {
      val w = words(40 + rng.nextInt(60))
      w(rng.nextInt(w.length)) = s"mail ${vocab(rng.nextInt(vocab.length))}@example.org"
      w(rng.nextInt(w.length)) = s"call 555-${100 + rng.nextInt(900)}-${1000 + rng.nextInt(9000)}"
      uniques += add(w.mkString(" "), vec(), web())
    }
    for (_ <- 0 until 20) {
      val (t, v) = (goodText(), vec())
      exactClusters += Seq.fill(zipfSize(20))(add(t, v, web()))
    }
    // boilerplate flood: one template whose copies differ only in case
    // and spacing, so exact_dedup keeps them all and minhash sees one
    // shingle set (a clone group, which routes minhash_dedup thin)
    val template = words(100)
    val v = vec()
    val variants = mutable.LinkedHashSet.empty[String]
    while (variants.size < FloodSize)
      variants += template.map(w => if (rng.nextInt(10) == 0) w.capitalize else w)
        .mkString(" ").replace(" ", if (rng.nextBoolean()) " " else "  ") + (if (rng.nextBoolean()) " " else "")
    nearClusters += variants.toSeq.map(t => add(t, near(v, 0.02), web()))
    // paraphrases: different texts on one embedding (one survivor), and
    // on near embeddings, which semantic_dedup only compares inside one
    // IVF cell (at least one survivor)
    for (_ <- 0 until 10) {
      val v = vec()
      semanticClusters += Seq.fill(3)(add(goodText(), v, web()))
    }
    for (_ <- 0 until 10) {
      val v = vec()
      nearSemanticClusters += Seq.fill(3)(add(goodText(), near(v, 0.01), web()))
    }
    for (_ <- 0 until 50) {
      val w = words(3)
      dropped += add(Seq.fill(10)(w.mkString(" ")).mkString(" "), vec(), web())
    }
    for (_ <- 0 until 60) dropped += add(goodText(), vec(), Seq(24, 25, 26, 27, 28, 29, 38, 39)(rng.nextInt(8)))
    var forumTokens = 0L
    for (_ <- 0 until 120) {
      val t = goodText()
      forumTokens += t.split(" ").length
      forum += add(t, vec(), 30 + rng.nextInt(8))
    }
    forumBudget = forumTokens * 6 / 10

    Inputs.write(docs.toSeq.map { case (id, t, v, d) => (id, id, t, v.toSeq) },
      path("docs.parquet"), "__ID__", "doc_id", "text", "emb")
    Inputs.write((0 until 40).map(d => (100000L + d, d.toLong, kindOf(d), if (allowed(d)) 1L else 0L)),
      path("domains.parquet"), "__ID__", "domain_id", "kind", "allowed")
    Inputs.write(docs.toSeq.map { case (id, _, _, d) => (200000L + id, id, 100000L + d) },
      path("hosted_on.parquet"), "__ID__", "__SOURCE__", "__TARGET__")
    yaml =
      s"""project:
         |  name: curation_bench
         |sources:
         |  entities:
         |    - id: docs
         |      uri: file://${path("docs.parquet")}
         |      entity_type: Doc
         |    - id: domains
         |      uri: file://${path("domains.parquet")}
         |      entity_type: Domain
         |  relationships:
         |    - id: hosted_on
         |      uri: file://${path("hosted_on.parquet")}
         |      relationship_type: HOSTED_ON
         |queries:
         |  - id: allowed_docs
         |    inline: |
         |      MATCH (d:Doc)-[:HOSTED_ON]->(h:Domain) WHERE h.allowed = 1
         |      RETURN d.doc_id AS doc_id, d.text AS text, d.emb AS emb, h.kind AS kind
         |curation:
         |  - id: curated
         |    input: allowed_docs
         |    stages:
         |      - op: quality_gate
         |        min_quality: 0.5
         |      - op: exact_dedup
         |      - op: minhash_dedup
         |        threshold: 0.8
         |        ledger_dir: file://${dir.getParent.resolve("ops")}/$${BENCH_OP}/ledger
         |      - op: semantic_dedup
         |        vec_col: emb
         |        tau: 0.95
         |      - op: pii_redact
         |      - op: token_budget
         |        budget: $forumBudget
         |        group_col: kind
         |        budgets: "forum=$forumBudget"
         |    output: file://${dir.getParent.resolve("ops")}/$${BENCH_OP}/curated.parquet
         |""".stripMargin
    Files.write(dir.resolve("pipeline.yaml"), yaml.getBytes("UTF-8"))
    val planted =
      s"""{"exact_clusters": ${exactClusters.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},
         |"near_clusters": ${nearClusters.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},
         |"semantic_clusters": ${semanticClusters.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},
         |"near_semantic_clusters": ${nearSemanticClusters.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")},
         |"forum_budget": $forumBudget}""".stripMargin
    Files.write(dir.resolve("planted.json"), planted.getBytes("UTF-8"))
    Seq("docs" -> docs.size.toLong, "domains" -> 40L, "exact_clusters" -> exactClusters.size.toLong,
      "exact_dup_docs" -> exactClusters.map(_.size).sum.toLong,
      "near_clusters" -> nearClusters.size.toLong, "near_dup_docs" -> nearClusters.map(_.size).sum.toLong,
      "bytes" -> Inputs.bytes(dir))
  }

  private def opDir(op: String) = dir.getParent.resolve("ops").resolve(op)

  /** One pipeline run: parse the YAML for op `op`, run it. */
  private def runPipeline(op: String): PipelineRunner.RunResult =
    PipelineRunner.run(spark, PipelineConfig.parse(yaml, Map("BENCH_OP" -> op)))

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    spark.listenerManager.register(writes)
    yaml = new String(Files.readAllBytes(dir.resolve("pipeline.yaml")), "UTF-8")
    Inputs.deleteTree(dir.getParent.resolve("ops"))
    // parse the config and read each source once; no pipeline run, so
    // the timed run is the process's first, as for a user invoking the
    // ETL from the command line
    val cfg = PipelineConfig.parse(yaml, Map("BENCH_OP" -> "setup"))
    (cfg.entities.map(_.uri) ++ cfg.relationships.map(_.uri))
      .foreach(u => PipelineRunner.readSource(spark, u).count())
  }

  def round(r: Int): Seq[Op] = Seq(Op("pipeline", "pipeline", trace => {
    opNo += 1
    val op = s"op$opNo"
    val sampler = Option.when(trace.isOn)(new Sampler(Thread.currentThread, Sampler.pipelineLayers(stageOfLine)))
    sampler.foreach(s => spark.sparkContext.addSparkListener(s.listener))
    val result = try trace.span("etl")(runPipeline(op)) finally sampler.foreach { s =>
      ListenerBridge.waitUntilEmpty(spark, 60000L)
      spark.sparkContext.removeSparkListener(s.listener)
      realRuns += s.stop()
    }
    Check(check(op, result.queries("curated")))
  }))

  /** The correctness check of one run (untimed): the sink against the
    * planted structure, and the sink's row count against the returned
    * frame's. The returned frame is counted as the runner wrote it: the
    * sink's write must have run the returned frame's plan, and its row
    * count is the rows that write reports (counting the frame again
    * would run the whole pipeline a second time).
    */
  private[graftbench] def check(op: String, returned: DataFrame): Option[String] = {
    val sinkPath = opDir(op).resolve("curated.parquet")
    val rows = spark.read.parquet(sinkPath.toString).select(col("doc_id"), col("text"), col("kind")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    spark.read.parquet(opDir(op).resolve("ledger").toString).select("route").collect()
      .foreach(r => routes(r.getString(0)) = routes.getOrElse(r.getString(0), 0L) + 1)
    Inputs.deleteTree(opDir(op))
    ListenerBridge.waitUntilEmpty(spark, 60000L)
    writes.take(sinkPath.toUri.getPath.stripSuffix("/")) match {
      case None => Some("no write of the sink was recorded")
      case Some((plan, _)) if !plan.sameResult(returned.queryExecution.analyzed) =>
        Some("the sink was not written from the returned frame")
      case Some((_, written)) => verify(rows, written)
    }
  }

  /** The planted-structure invariants over the sink's rows. */
  private[graftbench] def verify(rows: Seq[(Long, String, String)], returnedCount: Long): Option[String] = {
    val ids = rows.map(_._1).toSet
    def survivors(c: Seq[Long]) = c.count(ids)
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val forumTokens = rows.filter(r => forum(r._1)).map(_._2.trim.split("\\s+").length.toLong).sum
    Seq(
      Option.when(rows.length != returnedCount)(s"sink has ${rows.length} rows, returned frame $returnedCount"),
      Option.when(ids.size != rows.length)("duplicate doc_id in the sink"),
      exactClusters.find(survivors(_) != 1).map(c => s"exact cluster ${c.head} kept ${survivors(c)}"),
      nearClusters.find(survivors(_) != 1).map(c => s"near cluster ${c.head} kept ${survivors(c)}"),
      semanticClusters.find(survivors(_) != 1).map(c => s"semantic cluster ${c.head} kept ${survivors(c)}"),
      nearSemanticClusters.find(survivors(_) < 1).map(c => s"near-semantic cluster ${c.head} lost every doc"),
      uniques.find(!ids(_)).map(u => s"unique doc $u was dropped"),
      dropped.find(ids).map(d => s"doc $d (low quality or disallowed) survived"),
      rows.find(r => email.findFirstIn(r._2).isDefined).map(r => s"doc ${r._1} still holds an email"),
      Option.when(forumTokens > forumBudget)(s"forum tokens $forumTokens over budget $forumBudget"),
      Option.when(!rows.exists(r => forum(r._1)))("token budget kept no forum doc")
    ).flatten.headOption
  }

  /** Per-layer metrics of the traced run. Time and jobs per layer come
    * from the sampled pipeline runs (median over them). Documents in and
    * out per stage, the isolated time of each stage and the dedup pair
    * counts come from a decomposed pass: each stage run alone on an
    * input the benchmark checkpointed (lineage cut, so the time is the
    * stage's own); those checkpoints are released at the end.
    */
  override def breakdown(spark: SparkSession): Map[String, Double] = {
    val m = mutable.HashMap.empty[String, Double]
    def real(layer: String) = realRuns.toSeq.map(_.getOrElse(layer, (0.0, 0L)))
    for ((layer, key) <- Seq("etl.read" -> "etl.read_ms", "etl.query" -> "etl.query_ms",
      "etl.sink" -> "etl.sink_ms", "curation.spread_pin" -> "curation.spread_pin.ms"))
      m(key) = Stats.median(real(layer).map(_._1))
    for (st <- Metrics.Stages) {
      m(s"curation.$st.ms") = Stats.median(real(s"curation.$st").map(_._1))
      m(s"curation.$st.jobs") = Stats.median(real(s"curation.$st").map(_._2.toDouble))
    }
    val cfg = PipelineConfig.parse(yaml, Map("BENCH_OP" -> "breakdown"))
    val own = mutable.ArrayBuffer.empty[DataFrame]
    def pinned(df: DataFrame): (DataFrame, Long) = {
      val p = df.localCheckpoint(eager = true); own += p
      (p, p.count())
    }
    def src(i: Int, rel: Boolean) =
      pinned(PipelineRunner.readSource(spark, if (rel) cfg.relationships(i).uri else cfg.entities(i).uri))._1
    val engine = new CypherEngine(spark, new GraphCatalog()
      .addEntity("Doc", src(0, rel = false)).addEntity("Domain", src(1, rel = false))
      .addRelationship("HOSTED_ON", src(0, rel = true)))
    val (selected, nSelected) = pinned(engine.execute(cfg.queries.head.cypher))
    val pipeline = cfg.curation.head
    var (cur, nIn) = (selected, nSelected)
    var dedupInput: DataFrame = null
    pipeline.stages.foreach { st =>
      if (st.op == "minhash_dedup") dedupInput = cur
      val t0 = System.nanoTime()
      val (out, nOut) = pinned(CurationStages.apply(spark, cur, pipeline.idCol, pipeline.textCol, st))
      val ms = (System.nanoTime() - t0) / 1e6
      m(s"curation.${st.op}.isolated_ms") = ms
      m(s"curation.${st.op}.docs_in") = nIn.toDouble
      m(s"curation.${st.op}.docs_out") = nOut.toDouble
      System.err.println(f"[graftbench] isolated ${st.op} $ms%.0f ms $nIn -> $nOut")
      cur = out; nIn = nOut
    }
    val sink = opDir("breakdown").resolve("curated.parquet")
    PipelineRunner.writeSink(cur, s"file://$sink", None)
    m("etl.sink_bytes") = Inputs.bytes(sink).toDouble
    val candidates = Dedup.lshCandidateStats(dedupInput, pipeline.idCol, pipeline.textCol, 3, 64, 16)
      .select("candidate_pairs").head().getLong(0)
    val verified = Dedup.ngramJaccardPairs(dedupInput, pipeline.idCol, pipeline.textCol, 3, 0.8,
      exhaustive = false).count()
    m("dedup.candidate_pairs") = candidates.toDouble
    m("dedup.verified_pairs") = verified.toDouble
    m("dedup.pair_yield") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    m("dedup.fallback_routes") = routes.filter(_._1 != "pairs").values.sum.toDouble
    // only the checkpoints this pass made itself
    own.foreach(_.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    })
    Inputs.deleteTree(opDir("breakdown"))
    m.toMap
  }
}

object CurationEtl {
  val Replicas = 10
  val ReplicaClusters = 176
  val FloodSize = 150

  /** The source of the curation stages, relative to the checkout root
    * the benchmark runs from; it maps sampled lines to stages.
    */
  val StagesSource = "src/main/scala/graft/etl/CurationStages.scala"
}

/** The parquet writes of a session: output path → (input plan, rows
  * written), from each write command's own metrics.
  */
final class SinkWrites extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val byPath = mutable.HashMap.empty[String, (LogicalPlan, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    // the input plan as analyzed (the executed command holds it
    // optimized), the row count from the command that ran
    for {
      analyzed <- qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }
      ran <- collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }
    } {
      val rows = ran.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      synchronized { byPath(analyzed.outputPath.toUri.getPath.stripSuffix("/")) = (analyzed.query, rows) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The write to `path`, forgotten once taken. */
  def take(path: String): Option[(LogicalPlan, Long)] = synchronized(byPath.remove(path))
}
