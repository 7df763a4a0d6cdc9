package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.CypherEngine
import graft.model.GraphCatalog
import graft.parser.CypherParser

/** The interactive user: a Person/Company graph in the BASELINE shape
  * (50k Persons, about 5 power-law-skewed KNOWS edges each, one
  * WORKS_FOR edge each), queried by a seeded stream of parameterised
  * Cypher. A round is 16 reads over the 13 read templates and one write
  * of each of the 4 write templates (CREATE/MERGE/SET on `Tag` and
  * `TAGGED`, which only `tag_read` reads), in seeded order, so a run of
  * one round exercises every template.
  *
  * Every read is checked against an in-memory twin of its template
  * computed from the generated data; `tag_read` and every write are
  * checked against the benchmark's own tally of what it wrote.
  */
final class CypherMix(dir: Path, seed: Long, nP: Int = 50000) extends Workload {
  private val nC = 500
  private val window = math.min(500, nP / 4) // persons per OPTIONAL MATCH range
  private val depts = Array("eng", "sales", "ops", "legal", "research")

  // in-memory truth
  private var name: Array[String] = _
  private var age: Array[Int] = _
  private var dept: Array[String] = _
  private var salary: Array[Long] = _
  private var works: Array[Int] = _
  private var cname: Array[String] = _
  private var csize: Array[Long] = _
  private var out: Array[Array[Int]] = _
  private var initialTags: Seq[(String, Long, Seq[Int])] = _

  // the benchmark's tally of the Tag/TAGGED state it wrote
  private val tagHits = mutable.LinkedHashMap.empty[String, Option[Long]]
  private val tagged = mutable.HashMap.empty[(Int, String), Long]
  private var fresh = 0

  private var engine: CypherEngine = _
  private val twins = mutable.HashMap.empty[(String, Seq[Any]), Checksum]

  private def path(f: String) = dir.resolve(f).toString

  def generate(): Seq[(String, Long)] = {
    val rng = new java.util.SplittableRandom(seed)
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "an", "el", "or")
    def word(k: Int) = (1 to k).map(_ => syl(rng.nextInt(syl.length))).mkString
    name = Array.tabulate(nP)(i => s"${word(3)}_$i")
    age = Array.fill(nP)(18 + rng.nextInt(63))
    dept = Array.fill(nP)(depts(math.min(4, (5 * math.pow(rng.nextDouble(), 1.5)).toInt)))
    salary = Array.fill(nP)(30000L + rng.nextInt(90000))
    // company popularity is skewed: low company ids employ more people
    works = Array.fill(nP)((nC * math.pow(rng.nextDouble(), 2)).toInt)
    cname = Array.tabulate(nC)(c => s"${word(2)}corp_$c")
    csize = Array.fill(nC)(1L + rng.nextInt(5000))
    // out-degree: Pareto tail (P(d > x) ~ (2.5/x)^2, mean about 5);
    // targets: preferential (density ~ 1/sqrt(id)), so in-degree is skewed too
    out = Array.tabulate(nP) { i =>
      val d = math.min(400, (2.5 / math.sqrt(1.0 - rng.nextDouble())).toInt)
      Array.fill(d) {
        var j = i
        while (j == i) j = (nP * math.pow(rng.nextDouble(), 2)).toInt
        j
      }
    }
    initialTags = (0 until 8).map { k =>
      (s"seedtag_${k}_${word(2)}", rng.nextInt(10).toLong, Seq.fill(3)(rng.nextInt(nP)))
    }

    Inputs.write((0 until nP).map(i => (i.toLong, i.toLong, name(i), age(i).toLong, dept(i), salary(i))),
      path("person.parquet"), "__ID__", "pid", "name", "age", "dept", "salary")
    Inputs.write((0 until nC).map(c => (1000000L + c, c.toLong, cname(c), csize(c))),
      path("company.parquet"), "__ID__", "cid", "cname", "size")
    val knows = for (i <- 0 until nP; j <- out(i)) yield (i.toLong, j.toLong)
    Inputs.write(knows.zipWithIndex.map { case ((s, d), k) => (10000000L + k, s, d, 1990L + (k % 30)) },
      path("knows.parquet"), "__ID__", "__SOURCE__", "__TARGET__", "since")
    Inputs.write((0 until nP).map(i => (20000000L + i, i.toLong, 1000000L + works(i))),
      path("works_for.parquet"), "__ID__", "__SOURCE__", "__TARGET__")
    Inputs.write(initialTags.zipWithIndex.map { case ((n, h, _), k) => (5000000L + k, n, h) },
      path("tag.parquet"), "__ID__", "name", "hits")
    Inputs.write(initialTags.zipWithIndex.flatMap { case ((_, _, ps), k) => ps.map(p => (p.toLong, 5000000L + k)) }
      .zipWithIndex.map { case ((p, t), e) => (6000000L + e, p, t) },
      path("tagged.parquet"), "__ID__", "__SOURCE__", "__TARGET__")
    Seq("persons" -> nP.toLong, "companies" -> nC.toLong, "knows_edges" -> knows.size.toLong,
      "works_for_edges" -> nP.toLong, "bytes" -> Inputs.bytes(dir))
  }

  def setup(spark: SparkSession): Unit = {
    def read(f: String) = spark.read.parquet(path(f))
    val catalog = new GraphCatalog()
      .addEntity("Person", read("person.parquet"))
      .addEntity("Company", read("company.parquet"))
      .addEntity("Tag", read("tag.parquet"))
      .addRelationship("KNOWS", read("knows.parquet"), srcLabel = Some("Person"), dstLabel = Some("Person"))
      .addRelationship("WORKS_FOR", read("works_for.parquet"), srcLabel = Some("Person"), dstLabel = Some("Company"))
      .addRelationship("TAGGED", read("tagged.parquet"), srcLabel = Some("Person"), dstLabel = Some("Tag"))
    engine = new CypherEngine(spark, catalog)
    tagHits.clear(); tagged.clear()
    initialTags.foreach { case (n, h, ps) =>
      tagHits(n) = Some(h)
      ps.foreach(p => tagged((p, n)) = tagged.getOrElse((p, n), 0L) + 1)
    }
    // light warm-up: a scan, a point lookup and a write
    val rng = new java.util.SplittableRandom(seed)
    Main.warmUp(Seq(readOp("scan", Map.empty), readOp("point", Map("pid" -> 0L)), writeOp("create_tag", rng)))
  }

  // ---------------- templates ----------------

  private val readCypher: Map[String, String] = Map(
    "scan" -> "MATCH (n:Person) RETURN n.name AS name",
    "filtered_scan" -> "MATCH (n:Person) WHERE n.age > $age RETURN n.name AS name, n.age AS age",
    "one_hop" -> "MATCH (n:Person)-[:KNOWS]->(m:Person) RETURN n.name AS a, m.name AS b",
    "filtered_hop" ->
      """MATCH (n:Person)-[:KNOWS]->(m:Person) WHERE n.age > $age
        |RETURN n.name AS a, m.name AS b, m.age AS b_age""".stripMargin,
    "two_hop" ->
      """MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) WHERE a.age < $age
        |RETURN a.pid AS a, c.pid AS c""".stripMargin,
    "agg_count" -> "MATCH (n:Person) RETURN n.dept AS dept, count(n) AS n",
    "agg_avg" -> "MATCH (n:Person) RETURN n.dept AS dept, avg(n.salary) AS avg_salary",
    "point" ->
      """MATCH (n:Person {pid: $pid})-[:WORKS_FOR]->(c:Company)
        |RETURN n.name AS name, c.cname AS company""".stripMargin,
    "optional" ->
      """MATCH (n:Person) WHERE n.pid >= $lo AND n.pid < $hi
        |OPTIONAL MATCH (n)-[:KNOWS]->(m:Person) WHERE m.age > $age
        |RETURN n.pid AS n, m.pid AS m""".stripMargin,
    "exists" ->
      """MATCH (n:Person) WHERE n.age < $age
        |AND EXISTS { (n)-[:WORKS_FOR]->(c:Company) WHERE c.size > $size }
        |RETURN n.pid AS pid""".stripMargin,
    "var_length" ->
      """MATCH (a:Person {pid: $pid})-[:KNOWS*1..3]->(b:Person)
        |RETURN b.pid AS pid, count(*) AS walks""".stripMargin,
    "shortest_path" ->
      """MATCH p = shortestPath((a:Person {pid: $s})-[:KNOWS*1..6]->(b:Person {pid: $t}))
        |RETURN length(p) AS hops""".stripMargin,
    "tag_read" ->
      """MATCH (p:Person)-[:TAGGED]->(t:Tag)
        |RETURN t.name AS tag, t.hits AS hits, count(*) AS n""".stripMargin)

  private val pathTemplates = Set("var_length", "shortest_path")
  private val writeTemplates = Seq("create_tag", "merge_tag", "tag_person", "bump_tag")

  private def readOp(t: String, params: Map[String, Any]): Op = {
    val cypher = readCypher(t)
    val key = (t, params.toSeq.sortBy(_._1).map(_._2))
    val layer = if (pathTemplates(t)) "paths" else "compiler"
    Op(t, "read", trace => {
      if (trace.isOn) trace.span("parser")(CypherParser.parse(cypher))
      val df = trace.span(layer)(engine.query(cypher, params))
      val got = trace.span("action", "action")(Checksum.of(df))
      // tag_read depends on what was written so far: never cached
      Check.equal("checksum", got,
        if (t == "tag_read") twin(t, params) else twins.getOrElseUpdate(key, twin(t, params)))
    })
  }

  /** KNOWS hop distances from `s` (0 for `s`) up to `maxHops`. */
  private def bfs(s: Int, maxHops: Int): Map[Int, Int] = {
    val dist = mutable.HashMap(s -> 0)
    var frontier = Seq(s)
    for (d <- 1 to maxHops if frontier.nonEmpty) {
      frontier = frontier.flatMap(out(_)).distinct.filter(!dist.contains(_))
      frontier.foreach(dist(_) = d)
    }
    dist.toMap
  }

  private[graftbench] def query(t: String, params: Map[String, Any]) = engine.query(readCypher(t), params)

  private[graftbench] def twin(t: String, p: Map[String, Any]): Checksum = {
    def i(k: String) = p(k).asInstanceOf[Number].intValue
    val all = 0 until nP
    val rows: Iterable[Seq[Any]] = t match {
      case "scan" => all.map(n => Seq(name(n)))
      case "filtered_scan" => all.filter(age(_) > i("age")).map(n => Seq(name(n), age(n)))
      case "one_hop" => all.flatMap(n => out(n).map(m => Seq(name(n), name(m))))
      case "filtered_hop" =>
        all.filter(age(_) > i("age")).flatMap(n => out(n).map(m => Seq(name(n), name(m), age(m))))
      case "two_hop" =>
        all.filter(age(_) < i("age")).flatMap(a => out(a).iterator.flatMap(b => out(b).iterator.map(c => Seq(a, c))))
      case "agg_count" => all.groupBy(dept(_)).map { case (d, ns) => Seq(d, ns.size) }
      case "agg_avg" =>
        all.groupBy(dept(_)).map { case (d, ns) => Seq(d, ns.map(salary(_)).sum.toDouble / ns.size) }
      case "point" => Seq(Seq(name(i("pid")), cname(works(i("pid")))))
      case "optional" =>
        (i("lo") until i("hi")).flatMap { n =>
          val ms = out(n).filter(age(_) > i("age"))
          if (ms.isEmpty) Seq(Seq(n, null)) else ms.toSeq.map(m => Seq(n, m))
        }
      case "exists" => all.filter(n => age(n) < i("age") && csize(works(n)) > i("size")).map(Seq(_))
      case "var_length" =>
        var frontier = Map(i("pid") -> 1L)
        val walks = mutable.HashMap.empty[Int, Long]
        for (_ <- 1 to 3) {
          val next = mutable.HashMap.empty[Int, Long]
          for ((n, c) <- frontier; m <- out(n)) next(m) = next.getOrElse(m, 0L) + c
          next.foreach { case (m, c) => walks(m) = walks.getOrElse(m, 0L) + c }
          frontier = next.toMap
        }
        walks.map { case (m, c) => Seq(m, c) }
      case "shortest_path" =>
        bfs(i("s"), 6).get(i("t")).filter(_ >= 1).map(d => Seq(d)).toSeq
      case "tag_read" =>
        tagged.toSeq.groupBy(_._1._2).map { case (tag, es) =>
          Seq(tag, tagHits.getOrElse(tag, None), es.map(_._2).sum)
        }
    }
    Checksum.ofRows(rows)
  }

  /** A write picks its tag at run time, so it sees the tally left by
    * the ops before it.
    */
  private def writeOp(t: String, rng: java.util.SplittableRandom): Op = Op(t, "write", trace => {
    def existing() = tagHits.keys.toIndexedSeq(rng.nextInt(tagHits.size))
    def newName(prefix: String) = { fresh += 1; s"${prefix}_${seed}_$fresh" }
    val (cypher, args, apply) = t match {
      case "create_tag" =>
        val n = newName("c")
        ("CREATE (t:Tag {name: $name, hits: 0})", Map[String, Any]("name" -> n),
          () => tagHits(n) = Some(0L))
      case "merge_tag" =>
        val n = if (rng.nextBoolean()) existing() else newName("m")
        ("MERGE (t:Tag {name: $name})", Map[String, Any]("name" -> n),
          () => if (!tagHits.contains(n)) tagHits(n) = None)
      case "tag_person" =>
        val (p, n) = (rng.nextInt(nP), existing())
        ("MATCH (p:Person {pid: $pid}), (t:Tag {name: $name}) CREATE (p)-[:TAGGED]->(t)",
          Map[String, Any]("pid" -> p.toLong, "name" -> n),
          () => tagged((p, n)) = tagged.getOrElse((p, n), 0L) + 1)
      case "bump_tag" =>
        val n = existing()
        ("MATCH (t:Tag {name: $name}) SET t.hits = coalesce(t.hits, 0) + 1",
          Map[String, Any]("name" -> n),
          () => tagHits(n) = Some(tagHits(n).getOrElse(0L) + 1))
    }
    val df = trace.span("mutation")(engine.execute(cypher, args))
    trace.span("action", "action")(Checksum.of(df))
    apply()
    // checked by reading back what the write touched (untimed)
    val name = args("name").asInstanceOf[String]
    if (t == "tag_person") {
      val pid = args("pid").asInstanceOf[Long]
      Check.equal("TAGGED edges", Checksum.of(engine.query(
        "MATCH (p:Person {pid: $pid})-[:TAGGED]->(t:Tag {name: $name}) RETURN count(*) AS n", args)),
        Checksum.ofRows(Seq(Seq(tagged((pid.toInt, name))))))
    } else
      Check.equal("Tag row", Checksum.of(engine.query(
        "MATCH (t:Tag {name: $name}) RETURN t.name AS name, t.hits AS hits", args)),
        Checksum.ofRows(Seq(Seq(name, tagHits(name)))))
  })

  /** Seeded parameters of template `t`. */
  private[graftbench] def params(t: String, rng: java.util.SplittableRandom): Map[String, Any] = t match {
    // thresholds from narrow ranges, so every seed asks about as much
    // work of a template (ages are uniform on 18..80)
    case "filtered_scan" => Map("age" -> (45L + rng.nextInt(6)))
    case "filtered_hop" => Map("age" -> (45L + rng.nextInt(6)))
    case "two_hop" => Map("age" -> (24L + rng.nextInt(3)))
    case "point" => Map("pid" -> rng.nextInt(nP).toLong)
    case "var_length" =>
      // a start of out-degree 5 (the mean), so every seed walks a like-sized tree
      Map("pid" -> Iterator.continually(rng.nextInt(nP)).find(out(_).length == 5).get.toLong)
    case "optional" =>
      val lo = rng.nextInt(nP - window).toLong
      Map("lo" -> lo, "hi" -> (lo + window), "age" -> (50L + rng.nextInt(6)))
    case "exists" => Map("age" -> (30L + rng.nextInt(6)), "size" -> (2000L + rng.nextInt(1000)))
    case "shortest_path" =>
      // a target exactly 3 hops away, so every seed asks the same depth
      val (s, t) = Iterator.continually(rng.nextInt(nP)).map { s =>
        val at = bfs(s, 3).collect { case (v, 3) => v }.toSeq.sorted
        Option.when(at.nonEmpty)((s, at(rng.nextInt(at.size))))
      }.collectFirst { case Some(p) => p }.get
      Map("s" -> s.toLong, "t" -> t.toLong)
    case _ => Map.empty
  }

  private[graftbench] val readTemplates: Seq[String] = readCypher.keys.toSeq.sorted

  def round(r: Int): Seq[Op] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + r)
    val reads = Seq("scan", "filtered_scan", "one_hop", "filtered_hop", "two_hop", "agg_count",
      "agg_avg", "point", "point", "point", "optional", "optional", "exists",
      "var_length", "shortest_path", "tag_read")
    val writes = writeTemplates
    val wrng = rng.split()
    Inputs.shuffle(reads.map(Left(_)) ++ writes.map(Right(_)), rng).map {
      case Left(t) => readOp(t, params(t, rng))
      case Right(t) => writeOp(t, wrng)
    }
  }
}
