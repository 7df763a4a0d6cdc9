package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's checks accept right results and reject corrupted
  * ones: a check that cannot fail would let a wrong plan pass as fast.
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp() = Files.createTempDirectory("graftbench-spec")

  test("plain-Scala checksum equals the Spark checksum for the same rows") {
    import spark.implicits._
    val rows = Seq((1L, "a", 2.5, Some(3)), (2L, "b", -0.1234567, None), (2L, "b", -0.1234567, None))
    val df = rows.toDF("id", "s", "x", "n")
    assert(Checksum.of(df) == Checksum.ofRows(rows.map(r => Seq(r._1, r._2, r._3, r._4))))
  }

  test("checksum changes with any cell, a dropped or a duplicated row") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "s", "x")
    val base = Checksum.of(df)
    // every column counts: a change in any one of them shows
    for (c <- df.columns) {
      val corrupted = df.withColumn(c, when(col("id") === 2, lit(9).cast(df.schema(c).dataType))
        .otherwise(col(c)))
      assert(Checksum.of(corrupted) != base, s"column $c not covered")
    }
    assert(Checksum.of(df.filter(col("id") =!= 3)) != base)
    assert(Checksum.of(df.union(df.filter(col("id") === 1))) != base)
    assert(Checksum.of(df.select(col("id"), col("s"))) != base)
  }

  test("cypher_mix: every read template matches its twin; corrupted results do not") {
    val dir = tmp()
    val w = new CypherMix(dir, seed = 7L, nP = 400)
    w.generate()
    w.setup(spark)
    val rng = new java.util.SplittableRandom(3L)
    for (t <- w.readTemplates) {
      val p = w.params(t, rng)
      val df = w.query(t, p)
      val want = w.twin(t, p)
      assert(Checksum.of(df) == want, s"$t disagrees with its twin")
      if (want.rows > 0) {
        assert(Checksum.of(df.limit((want.rows - 1).toInt)) != want, s"$t: dropped row passed")
        val c = df.columns.last
        val bumped = df.withColumn(c, concat(col(c).cast("string"), lit("x")))
        assert(Checksum.of(bumped) != want, s"$t: altered column passed")
      } else assert(Checksum.of(spark.range(1).toDF()) != want, s"$t: spurious row passed")
    }
    // writes: each op's read-back check against the tally passes (a wrong
    // tally is a checksum mismatch, which the tests above show fails)
    w.round(0).filter(_.kind == "write").foreach(op => assert(op.run(Trace.off)().isEmpty, op.template))
  }

  test("curation_etl: planted-structure checks reject each kind of corruption") {
    val w = new CurationEtl(tmp().resolve("inputs"), seed = 5L)
    w.generate()
    val forumDoc = w.forum.min
    val good: Seq[(Long, String, String)] =
      (w.uniques.toSeq ++ w.exactClusters.map(_.head) ++ w.nearClusters.map(_.head) ++
        w.semanticClusters.map(_.head) ++ w.nearSemanticClusters.map(_.head))
        .map(id => (id, "some clean text", "web")) :+
        ((forumDoc, "a short forum post", "forum"))
    def verify(rows: Seq[(Long, String, String)], count: Long = -1) =
      w.verify(rows, if (count < 0) rows.size.toLong else count)
    assert(verify(good).isEmpty, verify(good))

    val dup = w.exactClusters.find(_.size > 1).get
    assert(verify(good :+ ((dup(1), "x", "web"))).exists(_.contains("exact cluster")))
    val near = w.nearClusters.find(_.size > 1).get
    assert(verify(good :+ ((near(1), "x", "web"))).exists(_.contains("near cluster")))
    assert(verify(good.filterNot(_._1 == w.uniques.head)).exists(_.contains("dropped")))
    assert(verify(good.filterNot(r => w.exactClusters.head.contains(r._1))).exists(_.contains("exact cluster")))
    assert(verify(good.filterNot(r => w.semanticClusters.head.contains(r._1))).exists(_.contains("semantic")))
    assert(verify(good :+ ((w.semanticClusters.head(1), "x", "web"))).exists(_.contains("semantic cluster")))
    assert(verify(good.filterNot(r => w.nearSemanticClusters.head.contains(r._1))).exists(_.contains("near-semantic")))
    assert(verify(good :+ ((w.dropped.head, "x", "web"))).exists(_.contains("survived")))
    assert(verify(good.map(r => if (r._1 == w.uniques.head) (r._1, "mail me a@b.org", "web") else r))
      .exists(_.contains("email")))
    val flood = Seq.fill(w.forumBudget.toInt + 1)("w").mkString(" ")
    assert(verify(good.map(r => if (r._1 == forumDoc) (r._1, flood, "forum") else r)).exists(_.contains("budget")))
    assert(verify(good, good.size + 1L).exists(_.contains("returned frame")))
    assert(verify(good :+ good.head).exists(_.contains("duplicate")))
  }

  test("curation_etl: a sink counts as the returned frame only if written from its plan") {
    import spark.implicits._
    val writes = new SinkWrites
    spark.listenerManager.register(writes)
    try {
      val written = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text").filter(col("doc_id") > 1)
      val other = Seq((1L, "a")).toDF("doc_id", "text")
      val path = tmp().resolve("sink.parquet")
      written.write.parquet(path.toString)
      org.apache.spark.sql.graftshim.ListenerBridge.waitUntilEmpty(spark, 60000L)
      val (plan, rows) = writes.take(path.toUri.getPath.stripSuffix("/")).get
      assert(rows == 2)
      assert(plan.sameResult(written.queryExecution.analyzed))
      assert(!plan.sameResult(other.queryExecution.analyzed))
    } finally spark.listenerManager.unregister(writes)
  }

  test("fixpoint: every loop matches its reference on both regimes; corrupted results do not") {
    val w = new Fixpoint(tmp(), seed = 3L, smallEdges = 300, largeEdges = 700, bpeDocs = 60)
    w.generate()
    // the large graph takes Components' distributed loop here
    spark.conf.set("graft.components.driverMaxEdges", "1000")
    try {
      w.setup(spark)
      for (size <- Fixpoint.Sizes; a <- Fixpoint.Algos) {
        val df = w.call(a, size)
        assert(w.verify(a, size, Checksum.of(df), df).isEmpty, s"$a.$size disagrees with its reference")
        val c = df.columns.last
        val bumped = df.withColumn(c, when(col(df.columns.head) === df.agg(max(col(df.columns.head))).head().get(0),
          col(c) + lit(0.001)).otherwise(col(c)))
        assert(w.verify(a, size, Checksum.of(bumped), bumped).nonEmpty, s"$a.$size: altered value passed")
        val n = df.count().toInt
        val dropped = df.limit(n - 1)
        assert(w.verify(a, size, Checksum.of(dropped), dropped).nonEmpty, s"$a.$size: dropped row passed")
      }
      val merges = w.bpe()
      assert(Checksum.of(merges) == w.bpeWant, "bpe disagrees with its reference")
      assert(Checksum.of(merges.limit(merges.count().toInt - 1)) != w.bpeWant)
    } finally spark.conf.unset("graft.components.driverMaxEdges")
  }
}
