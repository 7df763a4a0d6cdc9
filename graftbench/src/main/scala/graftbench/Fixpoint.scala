package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Bpe, Components, GraphAlgos}

/** The iterative-operator user: the loops of GraphAlgos plus
  * Components.connectedComponents on two seeded undirected power-law
  * graphs, and one short Bpe.trainTable on a generated corpus.
  *
  * The small graph (5k undirected edges, 10k directed rows) sits below
  * Components' 200k-edge driver union-find gate, so its ops are bound by
  * job overhead; every loop runs on it. The large graph (104k undirected
  * edges, 208k directed rows) sits above the gate, so connected
  * components takes the distributed loop and every op shuffles the edge
  * table; it runs one loop of each shape (pageRank: join and aggregate
  * over the whole vector; sssp: frontier relaxation) and connected
  * components, which keeps a round within the benchmark's time budget.
  * A round runs each of these ops and the BPE train once, in seeded
  * order.
  *
  * Every result is checked against a driver-side reference computed
  * from the generated edge lists (at generation time, outside set-up).
  */
final class Fixpoint(dir: Path, seed: Long, smallEdges: Int = 5000, largeEdges: Int = 104000,
                     bpeDocs: Int = 300) extends Workload {
  import Fixpoint._

  private val sizes = Seq("small" -> smallEdges, "large" -> largeEdges)
  private val graphs = mutable.LinkedHashMap.empty[String, Graph]
  private var corpus: Seq[String] = _
  private[graftbench] var bpeWant: Checksum = _
  private var spark: SparkSession = _
  private val frames = mutable.HashMap.empty[String, DataFrame]

  private def path(f: String) = dir.resolve(f).toString

  def generate(): Seq[(String, Long)] = {
    val rng = new java.util.SplittableRandom(seed)
    val sized = sizes.map { case (size, m) =>
      // nodes: about one per 3.7 undirected edges; endpoints preferential
      // (density ~ 1/sqrt(id)) so degrees are power-law skewed
      val n = m * 10 / 37
      val seen = mutable.HashSet.empty[Long]
      val pairs = mutable.ArrayBuffer.empty[(Int, Int, Long)]
      while (pairs.size < m) {
        val a = (n * math.pow(rng.nextDouble(), 2)).toInt
        val b = rng.nextInt(n)
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        if (lo != hi && seen.add(lo.toLong * n + hi)) pairs += ((lo, hi, 1L + rng.nextInt(9)))
      }
      val g = Graph(pairs.toSeq)
      val byDegree = g.nodes.sortBy(v => (-g.adj(v).length, v))
      g.ssspSeeds = Seq(byDegree(0), byDegree(byDegree.length / 2))
      g.hopSeeds = Seq(byDegree(1), byDegree(byDegree.length / 3), byDegree(byDegree.length - 1))
      g.want = Reference.all(g)
      graphs(size) = g
      Inputs.write(g.directed.map { case (s, d, w) => (s.toLong, d.toLong, w) },
        path(s"$size.parquet"), "src", "dst", "weight")
      Seq(s"${size}_nodes" -> g.nodes.length.toLong, s"${size}_directed_edges" -> g.directed.size.toLong)
    }
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an", "el", "or", "st", "qu")
    val vocab = Array.tabulate(400)(_ => (1 to 2 + rng.nextInt(3)).map(_ => syl(rng.nextInt(syl.length))).mkString)
    corpus = Seq.fill(bpeDocs)(Seq.fill(20 + rng.nextInt(20)) {
      vocab((vocab.length * math.pow(rng.nextDouble(), 2)).toInt)
    }.mkString(" "))
    bpeWant = Checksum.ofRows(Reference.bpe(corpus, BpeMerges).map(m => Seq(m._1, m._2, m._3, m._4)))
    Inputs.write(corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }, path("bpe.parquet"), "doc_id", "text")
    sized.flatten ++ Seq("bpe_docs" -> bpeDocs.toLong, "bytes" -> Inputs.bytes(dir))
  }

  def setup(spark: SparkSession): Unit = {
    this.spark = spark
    frames.clear()
    for ((size, _) <- sizes) frames(size) = spark.read.parquet(path(s"$size.parquet"))
    frames("bpe") = spark.read.parquet(path("bpe.parquet"))
    // light warm-up on the small graph: a frontier loop (the join,
    // aggregate and pin paths every loop shares) and the components
    // gate, so the round's first op does not pay the JVM's warm-up
    Main.warmUp(Seq(op("sssp", "small"), op("connectedComponents", "small")))
  }

  private def seedFrame(ids: Seq[Int]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(_.toLong).toDF("node")
  }

  /** The public call of `algo` on the graph of `size`. */
  private[graftbench] def call(algo: String, size: String): DataFrame = {
    val e = frames(size)
    val g = graphs(size)
    algo match {
      case "pageRank" => GraphAlgos.pageRank(e, iterations = PageRankIters, relative = true)
      case "labelPropagation" => GraphAlgos.labelPropagation(e, iterations = LpaIters)
      case "kCore" => GraphAlgos.kCore(e, k = CoreK, maxRounds = CoreRounds)
      case "sssp" => GraphAlgos.sssp(e, seedFrame(g.ssspSeeds), maxRounds = SsspRounds)
      case "multiSourceHopDistances" =>
        GraphAlgos.multiSourceHopDistances(e, seedFrame(g.hopSeeds), maxRounds = HopRounds)
      case "connectedComponents" => Components.connectedComponents(e, "src", "dst")
    }
  }

  /** Checks one graph result against the reference. */
  private[graftbench] def verify(algo: String, size: String, got: Checksum, df: => DataFrame): Option[String] =
    graphs(size).want(algo) match {
      case Left(ranks) =>
        // floating ranks: compared value by value within a tolerance
        val rows = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        if (rows.size != ranks.size) Some(s"$algo.$size: ${rows.size} nodes, want ${ranks.size}")
        else ranks.collectFirst {
          case (v, x) if rows.get(v).forall(y => math.abs(x - y) > 1e-9 * math.max(1.0, math.abs(x))) =>
            s"$algo.$size: node $v rank ${rows.get(v)}, want $x"
        }
      case Right(want) => Option.when(got != want)(s"$algo.$size checksum: got $got, want $want")
    }

  private def op(algo: String, size: String): Op = Op(s"$algo.$size", size, trace => {
    val df = trace.span("operators")(call(algo, size))
    val got = trace.span("action", "action")(Checksum.of(df))
    Check(verify(algo, size, got, df))
  })

  private[graftbench] def bpe(): DataFrame = Bpe.trainTable(spark, frames("bpe"), "text", numMerges = BpeMerges)

  private val bpeOp = Op("bpe", "bpe", trace => {
    val df = trace.span("operators")(bpe())
    val got = trace.span("action", "action")(Checksum.of(df))
    Check.equal("bpe merges", got, bpeWant)
  })

  def round(r: Int): Seq[Op] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + r)
    Inputs.shuffle(bpeOp +: (for ((size, _) <- sizes; a <- algos(size)) yield op(a, size)), rng)
  }
}

object Fixpoint {
  val Algos: Seq[String] = Seq("pageRank", "labelPropagation", "kCore", "sssp",
    "multiSourceHopDistances", "connectedComponents")
  val Sizes: Seq[String] = Seq("small", "large")
  /** The algorithms run on the graph of each size. */
  def algos(size: String): Seq[String] =
    if (size == "small") Algos else Seq("pageRank", "sssp", "connectedComponents")
  // loop lengths: two pinned blocks for the double-step loops
  val PageRankIters = 4
  val LpaIters = 2
  val CoreK = 3
  val CoreRounds = 4
  val SsspRounds = 4
  val HopRounds = 4
  val BpeMerges = 8

  /** An undirected graph: `pairs` (lo < hi, weight) and its symmetric
    * directed edge list; the reference result of each algorithm.
    */
  final case class Graph(pairs: Seq[(Int, Int, Long)]) {
    val directed: Seq[(Int, Int, Long)] = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val nodes: IndexedSeq[Int] = directed.map(_._1).distinct.sorted.toIndexedSeq
    val adj: Map[Int, Array[(Int, Long)]] =
      directed.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)).toArray }
    var ssspSeeds: Seq[Int] = Nil
    var hopSeeds: Seq[Int] = Nil
    var want: Map[String, Either[Map[Long, Double], Checksum]] = Map.empty
  }

  /** Driver-side replays of each loop on the collected edge lists,
    * with the library's documented semantics (synchronous rounds,
    * ties to the smallest label, fixed unroll caps).
    */
  object Reference {
    def all(g: Graph): Map[String, Either[Map[Long, Double], Checksum]] = Map(
      "pageRank" -> Left(pageRank(g, PageRankIters)),
      "labelPropagation" -> Right(rows(labelPropagation(g, LpaIters))),
      "kCore" -> Right(rows(kCore(g, CoreK, CoreRounds))),
      "sssp" -> Right(rows(sssp(g, g.ssspSeeds, SsspRounds))),
      "multiSourceHopDistances" -> Right(Checksum.ofRows(g.hopSeeds.flatMap(o =>
        hops(g, o, HopRounds).map { case (v, d) => Seq(o.toLong, v.toLong, d) }))),
      "connectedComponents" -> Right(rows(components(g))))

    private def rows(m: collection.Map[Int, Long]) = Checksum.ofRows(m.map { case (k, v) => Seq(k.toLong, v) })

    /** Ranks relative to uniform (rank × n), dangling mass spread evenly. */
    def pageRank(g: Graph, iters: Int, d: Double = 0.85): Map[Long, Double] = {
      val n = g.nodes.length
      var rank = g.nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val s = mutable.HashMap.empty[Int, Double]
        g.adj.foreach { case (u, out) => out.foreach { case (v, _) =>
          s(v) = s.getOrElse(v, 0.0) + rank(u) / out.length } }
        val dmass = 1.0 - s.values.sum
        rank = g.nodes.map(v => v -> ((1 - d) / n + d * (s.getOrElse(v, 0.0) + dmass / n))).toMap
      }
      rank.map { case (v, r) => v.toLong -> r * n }
    }

    def labelPropagation(g: Graph, iters: Int): Map[Int, Long] = {
      var label = g.nodes.map(v => v -> v.toLong).toMap
      for (_ <- 1 to iters) {
        label = g.nodes.map { v =>
          // symmetric edges: the in-neighbors of v are its out-neighbors
          val counts = g.adj(v).groupBy(e => label(e._1)).map { case (l, es) => (l, es.length) }
          v -> counts.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      label
    }

    def kCore(g: Graph, k: Int, rounds: Int): Map[Int, Long] = {
      var edges = g.directed.map(e => (e._1, e._2))
      var changed = true
      var r = 0
      while (r < rounds && changed) {
        val keep = edges.groupBy(_._1).collect { case (v, es) if es.size >= k => v }.toSet
        val next = edges.filter(e => keep(e._1) && keep(e._2))
        changed = next.size != edges.size
        edges = next
        r += 1
      }
      edges.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    }

    /** Synchronous Bellman-Ford: every round relaxes from the previous
      * round's distances.
      */
    def sssp(g: Graph, seeds: Seq[Int], rounds: Int): Map[Int, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      var r = 0
      var changed = true
      while (r < rounds && changed) {
        val next = mutable.HashMap(dist.toSeq: _*)
        for ((u, du) <- dist; (v, w) <- g.adj(u) if next.get(v).forall(_ > du + w)) next(v) = du + w
        changed = next != dist
        dist = next.toMap
        r += 1
      }
      dist
    }

    def hops(g: Graph, origin: Int, rounds: Int): Map[Int, Long] = {
      val dist = mutable.HashMap(origin -> 0L)
      var frontier = Seq(origin)
      for (d <- 1 to rounds if frontier.nonEmpty) {
        frontier = frontier.flatMap(g.adj(_).map(_._1)).distinct.filter(!dist.contains(_))
        frontier.foreach(dist(_) = d.toLong)
      }
      dist.toMap
    }

    /** Component = smallest node id reachable. */
    def components(g: Graph): Map[Int, Long] = {
      val parent = mutable.HashMap.empty[Int, Int]
      def find(x: Int): Int = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        r
      }
      g.pairs.foreach { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      g.nodes.map(v => v -> find(v).toLong).toMap
    }

    /** Greedy BPE over whitespace words: each merge is the most frequent
      * adjacent symbol pair (ties to the smallest (left, right)), applied
      * left to right; stops below a pair count of 2.
      */
    def bpe(docs: Seq[String], merges: Int): Seq[(Long, String, String, Long)] = {
      val S = "\u001F"
      var words = docs.flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (S + w.map(_.toString).mkString(S + S) + S, ws.size.toLong) }.toSeq
      val out = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var done = false
      while (out.size < merges && !done) {
        val counts = mutable.HashMap.empty[(String, String), Long]
        for ((w, c) <- words) {
          val sym = w.substring(1, w.length - 1).split(S + S, -1)
          for (i <- 0 until sym.length - 1) counts((sym(i), sym(i + 1))) = counts.getOrElse((sym(i), sym(i + 1)), 0L) + c
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          if (n < 2) done = true
          else {
            out += ((out.size + 1L, a, b, n))
            words = words.map { case (w, c) => (w.replace(S + a + S + S + b + S, S + a + b + S), c) }
          }
        }
      }
      out.toSeq
    }
  }
}
