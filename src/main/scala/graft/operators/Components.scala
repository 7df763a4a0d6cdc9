package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the clustering step that
  * turns near-duplicate PAIRS (from Dedup.*Pairs) into duplicate
  * GROUPS, so a corpus keeps one canonical document per component.
  * The reference's ETL dedups row-wise; at corpus scale the standard
  * pipeline is pairs → components → keep min-id representative.
  *
  * Algorithm: iterative min-label propagation with pointer jumping
  * (label(v) ← min over neighbours' labels, then label(v) ←
  * label(label(v))). The jump halves path lengths each round, so
  * convergence is O(log diameter) rounds, not O(diameter) — each round
  * is two hash-partitioned equi-joins plus a checkpoint (flat lineage),
  * the same shape GraphX's connectedComponents lowers to. No driver
  * collect; the convergence probe is a 1-row count of changed labels.
  */
object Components {

  /** (id, component) for every node appearing in `pairs`; component is
    * the minimum node id reachable through the pair graph.
    *
    * Two regimes, gated on the deduped edge count
    * (`graft.components.driverMaxEdges`, default 200k): near-duplicate
    * pair sets are usually a vanishing fraction of the corpus, and for
    * those a driver-side union-find over the collected pairs costs ONE
    * job instead of O(log d) rounds of two joins — each distributed
    * round pays a fixed scheduler floor that dwarfs the actual work at
    * that size. Pair sets above the gate (or when the cap is lowered)
    * take the distributed label-propagation loop, which never
    * materializes edges on the driver.
    */
  def connectedComponents(pairs: DataFrame, idCol1: String, idCol2: String,
                          maxIter: Int = 25): DataFrame =
    connectedComponents(pairs, idCol1, idCol2, maxIter, fuse = 2)

  /** [[connectedComponents]] at an explicit fusion depth (see
    * [[Fixpoint]]).
    */
  private[graft] def connectedComponents(pairs: DataFrame, idCol1: String,
                                         idCol2: String, maxIter: Int,
                                         fuse: Int): DataFrame = {
    // undirected edge list, deduped once and pinned for the loop; the
    // edge count that picks the regime rides the pin's own job
    val (und, undRow) = IterPin.pinProbed(
      pairs.select(col(idCol1).as("src"), col(idCol2).as("dst"))
        .unionByName(pairs.select(col(idCol2).as("src"), col(idCol1).as("dst")))
        .distinct(),
      Seq(count(lit(1))))

    val driverCap = und.sparkSession.conf
      .get("graft.components.driverMaxEdges", "200000").toLong
    if (undRow.getLong(0) <= driverCap) {
      val r = driverUnionFind(und) // builds from collected longs
      IterPin.free(und)
      return r
    }

    // convergence by MONOTONE SIGNATURE, folded into each round's pin:
    // every update is least()/min() over the current labels, so each
    // comp is non-increasing — the label sum (exact DECIMAL, ids can be
    // near Long.Max at 100 TB key spaces) is unchanged across a block
    // iff NO round in it moved a label.
    val (labels, _) = Fixpoint.run(
        und.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("comp")),
        fuse, maxIter, probe = Seq(sum(col("comp").cast("decimal(38,0)"))),
        pinSeed = true, stop = b => b.prev.contains(b.row)) { (cur, _) =>
      // neighbour minimum
      val nbrMin = und.join(cur, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr"))
      val stepped = cur.join(nbrMin, col("id") === col("src"), "left_outer")
        .select(col("id"), least(col("comp"), coalesce(col("nbr"), col("comp"))).as("c1"))
      // pointer jump: follow the label one more level
      stepped
        .join(stepped.select(col("id").as("jid"), col("c1").as("jc")),
          col("c1") === col("jid"), "left_outer")
        .select(col("id"), coalesce(col("jc"), col("c1")).as("comp"))
    }
    IterPin.free(und) // exit free — the final pinned labels read nothing
    labels
  }

  /** Driver-side union-find for small pair sets: edges collected as
    * primitive long pairs (16 B each — the 200k default gate is ~3 MB
    * on the driver), path-halving find, union attaching the larger root
    * under the smaller so the final root IS the set's minimum id
    * (matching the distributed min-label semantics exactly).
    */
  private def driverUnionFind(und: DataFrame): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val edges = und.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(id => (id, find(id))).toSeq.toDF("id", "comp")
  }

  /** One canonical (minimum-id) representative per component, plus the
    * component size — the "keep one copy" output of a dedup pipeline.
    */
  def canonicalPerComponent(pairs: DataFrame, idCol1: String,
                            idCol2: String): DataFrame =
    connectedComponents(pairs, idCol1, idCol2)
      .groupBy(col("comp").as("component"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_members"))
}
