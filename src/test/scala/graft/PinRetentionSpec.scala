package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.model.GraphCatalog
import graft.operators.{Bpe, Components, GraphAlgos}

/** No pin left behind: after an operator returns, the RDDs it left
  * persisted are EXACTLY the pinned leaves its returned plan reads —
  * every loop-invariant pin (edge sets, node sets), every superseded
  * round state and every abandoned regime's state is released before
  * return, and nothing the result still reads is freed.
  */
class PinRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def pinnedLeaves(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves()
      .collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def assertNoPinLeftBehind(what: String)(call: => DataFrame): Unit = {
    val before = persisted()
    val out = call
    val added = persisted() -- before
    val leaves = pinnedLeaves(out)
    assert(added == leaves,
      s"$what: left pinned ${added -- leaves}, freed pins its result reads " +
        s"${leaves -- added}")
    out.collect() // the result still reads
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private lazy val edges = {
    val rnd = new scala.util.Random(7)
    (1 to 600).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("src", "dst")
  }

  test("graph loops leave only the pins their result reads") {
    val seeds = Seq(1L, 2L).toDF("node")
    val weighted = edges.withColumn("weight", (col("src") + col("dst")) % 5 + 1)
    assertNoPinLeftBehind("pageRank")(GraphAlgos.pageRank(edges, iterations = 6))
    assertNoPinLeftBehind("pageRank tolerance")(
      GraphAlgos.pageRank(edges, iterations = 20, tolerance = Some(1e-4)))
    assertNoPinLeftBehind("labelPropagation")(
      GraphAlgos.labelPropagation(edges, iterations = 5))
    assertNoPinLeftBehind("kCore")(GraphAlgos.kCore(edges, k = 3, maxRounds = 8))
    assertNoPinLeftBehind("sssp")(GraphAlgos.sssp(weighted, seeds, maxRounds = 8))
    assertNoPinLeftBehind("multiSourceHopDistances")(
      GraphAlgos.multiSourceHopDistances(edges, seeds, maxRounds = 6))
    assertNoPinLeftBehind("connectedComponents driver")(
      Components.connectedComponents(edges, "src", "dst"))
    withConf("graft.components.driverMaxEdges" -> "0") {
      assertNoPinLeftBehind("connectedComponents distributed")(
        Components.connectedComponents(edges, "src", "dst"))
    }
  }

  test("Bpe.trainTable leaves no pin behind") {
    val docs = Seq("low lower lowest", "newer newest wider", "low low new new",
      "widest wide lower newest").toDF("text")
    assertNoPinLeftBehind("Bpe.trainTable")(
      Bpe.trainTable(spark, docs, "text", numMerges = 20, minPairCount = 1L))
  }

  test("path expansion regimes leave only the pins their result reads") {
    val person = (0L until 40L).map(i => (i, s"p$i")).toDF("__ID__", "name")
    val rnd = new scala.util.Random(11)
    val knows = (0L until 120L).map(i =>
        (i, rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .toDF("__ID__", "__SOURCE__", "__TARGET__")
    val engine = new CypherEngine(spark, new GraphCatalog()
      .addEntity("Person", person)
      .addRelationship("KNOWS", knows,
        srcLabel = Some("Person"), dstLabel = Some("Person")))
    def queries(regime: String): Unit = {
      assertNoPinLeftBehind(s"$regime var-length")(engine.query(
        """MATCH (a:Person {name: 'p1'})-[:KNOWS*1..3]->(b:Person)
           RETURN b.name AS name"""))
      assertNoPinLeftBehind(s"$regime var-length from hop 2")(engine.query(
        """MATCH (a:Person {name: 'p1'})-[:KNOWS*2..3]->(b:Person)
           RETURN b.name AS name"""))
      assertNoPinLeftBehind(s"$regime shortestPath")(engine.query(
        """MATCH p = shortestPath((a:Person)-[:KNOWS*1..6]->(b:Person))
           RETURN a.name AS a, b.name AS b, length(p) AS hops"""))
    }
    queries("doubling")
    withConf("graft.pathExpand.doublingMaxEdges" -> "0")(queries("frontier"))
    withConf("graft.pathExpand.doublingMaxClosureRows" -> "1")(
      queries("doubling abandoned"))
    withConf("graft.pathExpand.broadcastThreshold" -> "0")(
      queries("co-partitioned"))
  }
}
