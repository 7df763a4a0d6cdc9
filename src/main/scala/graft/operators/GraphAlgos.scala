package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph iterative analytics over plain `(src, dst)` edge
  * DataFrames — the batch counterpart of the per-pattern traversals in
  * [[graft.paths.PathExpand]]. Beyond the reference's surface (its
  * graph layer stops at Cypher pattern matching), but a first-class
  * need of the curation stack: centrality scores rank seed URLs /
  * entities when building a crawl-derived corpus, and they reuse the
  * same bucketed edge tables the compiled hops read.
  */
object GraphAlgos {

  /** Synchronous power-iteration PageRank (Page et al. 1999) with full
    * dangling-node redistribution, so rank mass is conserved exactly
    * (sum of ranks stays 1 every iteration — spec-asserted; GraphX's
    * formulation leaks dangling mass instead).
    *
    * Per iteration:
    *   rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + D/n )
    * where D is the total rank held by dangling nodes (no out-edges).
    *
    * Scale shape: the edge table joined with its outdegree is pinned
    * ONCE (`localCheckpoint` — the corpus-sized operand never
    * recomputes or re-shuffles its build); each iteration moves only
    * the n-row rank vector through one hash join on the node key and
    * one map-side-combinable sum per destination (celebrity/hub skew
    * collapses in the partial aggregate), plus a single-row broadcast
    * for the dangling mass, derived by conservation from the same
    * aggregate (D = 1 - Σ contributions) so the rank vector is
    * traversed exactly once per iteration. Because that dangling
    * scalar stays in-plan (broadcast aggregate, not a driver collect),
    * TWO iterations fuse into one linear plan between
    * materializations — the rank vector checkpoints once per two
    * steps, bit-identically (the sssp/closeness double-step). No
    * driver-side loops: the only driver scalar is the node count, one
    * job at build time (plus the opt-in tolerance delta).
    *
    * Node set = distinct sources ∪ destinations. `relative = true`
    * returns rank scaled by n (rank relative to uniform — the form
    * that compares across corpus sizes). `tolerance = Some(tol)` stops
    * early once the L∞ rank delta drops below `tol` (`iterations`
    * stays the hard cap). `weightCol` makes the walk weighted: a
    * source's rank splits across its out-edges proportionally to the
    * edge weight (unit weights reproduce the unweighted results
    * bit-identically). `seeds` personalizes: teleport and dangling
    * mass go to the seed set instead of uniform, turning rank into
    * proximity-to-seeds (the graph-retrieval form).
    */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               relative: Boolean = false,
               tolerance: Option[Double] = None,
               weightCol: Option[String] = None,
               seeds: Option[Seq[Long]] = None): DataFrame =
    pageRank(edges, iterations, damping, relative, tolerance, weightCol, seeds,
      fuse = 2)

  /** [[pageRank]] at an explicit fusion depth (see [[Fixpoint]]). */
  private[graft] def pageRank(edges: DataFrame, iterations: Int,
                              damping: Double, relative: Boolean,
                              tolerance: Option[Double],
                              weightCol: Option[String],
                              seeds: Option[Seq[Long]],
                              fuse: Int): DataFrame = {
    // weighted edges split a source's rank ∝ weight instead of evenly;
    // with unit weights sum(__w) is exactly the outdegree count, so the
    // unweighted results are bit-identical to the count formulation
    // pin the raw edge projection FIRST: `edges` is usually a lazy
    // build plan (scan → join → distinct), and the two consumers below
    // (w pin, nodes pin) would otherwise each re-execute it from the
    // source — one materialization instead of two full builds
    val e = IterPin.pin(weightCol match {
      case Some(wc) => edges.select(col("src"), col("dst"),
        col(wc).cast("double").as("__w"))
      case None => edges.select(col("src"), col("dst"), lit(1.0).as("__w"))
    })
    val od = e.groupBy(col("src")).agg(sum(col("__w")).as("outdeg"))
    // edge ⋈ outdeg pinned once: every iteration re-reads this at the
    // cost of a materialized scan, never the upstream shuffles
    val w = IterPin.pin(e.join(od, Seq("src"))
      .select(col("src").as("node"), col("dst"), col("__w"), col("outdeg")))
    // node count folded into the nodes pin (one job — IterPin.pinProbed)
    val (nodes, nodesRow) = IterPin.pinProbed(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(),
      Seq(count(lit(1))))
    IterPin.free(e) // both derived pins are materialized
    val nN = nodesRow.getLong(0)
    val base = (1.0 - damping) / nN
    // personalized PageRank: teleport (and dangling redistribution)
    // concentrate on the seed set instead of uniform — rank becomes
    // proximity to the seeds (the graph-retrieval form). Seeds must be
    // nodes of the graph or their teleport mass is lost. The uniform
    // path keeps its original scalar arithmetic untouched so unseeded
    // results stay bit-identical to the oracle replay.
    val teleport: org.apache.spark.sql.Column = seeds match {
      case Some(s) =>
        require(s.nonEmpty, "personalized pageRank needs at least one seed")
        when(col("node").isin(s: _*), lit(1.0 / s.size)).otherwise(lit(0.0))
      case None => lit(1.0 / nN)
    }
    // the dangling scalar is IN-PLAN (a broadcast 1-row aggregate of the
    // contribution table, not a driver collect), so consecutive
    // iterations compose into one linear plan between pins. Within a
    // step the contribution subplan has two readers (dangling mass +
    // rank update); Catalyst's exchange reuse shares its shuffle, so the
    // cost is one extra n-row hash aggregate, far below a pin.
    def iterate(cur: DataFrame): DataFrame = {
      val contrib = w.join(cur, Seq("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("__w") / col("outdeg")).as("s"))
      // dangling mass by conservation: ranks always sum to exactly 1,
      // and the contribution stream sums to the non-dangling mass
      // (each source's rank/outdeg appears once per out-edge), so
      // D = 1 - Σs — no second pass over the rank vector, no
      // anti-join. fp error vs the explicit dangling sum is ~1 ulp,
      // ~1e-21 per rank after the /n — invisible at any rounding
      val dang = contrib
        .agg((lit(1.0) - coalesce(sum(col("s")), lit(0.0))).as("dmass"))
      val rankExpr = seeds match {
        case Some(_) =>
          lit(1.0 - damping) * teleport + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("dmass") * teleport)
        case None =>
          lit(base) + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("dmass") / nN)
      }
      nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), rankExpr.as("rank"))
    }
    val seed = nodes.select(col("node"), teleport.as("rank"))
    val (ranks, rounds) = tolerance match {
      case None => Fixpoint.run(seed, fuse, iterations)((cur, _) => iterate(cur))
      // the L∞ delta to the previous iteration (the standard
      // power-iteration stop rule) rides each state row as __d, so the
      // stop probe is folded into the pin's own job. Single-step: the
      // rule compares CONSECUTIVE iterations. `iterations` stays the
      // hard cap, so the fixed-iteration oracle form is tolerance=None.
      case Some(tol) =>
        Fixpoint.run(seed, 1, iterations, probe = Seq(max(col("__d"))),
            stop = b => b.row.isNullAt(0) || b.row.getDouble(0) < tol) {
          (cur, _) =>
            iterate(cur)
              .join(cur.select(col("node"), col("rank").as("__prev")), Seq("node"))
              .select(col("node"), col("rank"),
                abs(col("rank") - col("__prev")).as("__d"))
        }
    }
    // exit frees: the returned frame reads only the FINAL pinned rank
    // vector, never the edge-sized loop pins — release them here so a
    // caller running many analytics back-to-back (the Bench repeat
    // loop; a REPL session) doesn't accumulate one edge table per call
    // in the block manager waiting on GC-triggered cleanup
    IterPin.free(w)
    if (rounds > 0) IterPin.free(nodes) // rounds==0 → ranks still reads nodes
    if (relative) ranks.select(col("node"), (col("rank") * nN).as("rank"))
    else ranks.select(col("node"), col("rank"))
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * distributed formulation of Montresor et al. 2013): repeatedly
    * delete every node whose degree is below `k` until no such node
    * remains; what survives is the k-core, the standard density filter
    * for seed selection / spam-farm pruning over crawl graphs. Expects
    * symmetrized edges (both directions present) and returns each
    * surviving node with its degree INSIDE the core.
    *
    * Scale shape: each round is one map-side-combinable degree count
    * plus two left-semi hash joins of the edge table against the n-row
    * survivor set — all shuffles keyed on the node id, and the edge
    * set only ever shrinks, so per-round cost is monotone decreasing.
    * The edge frame is pinned once per TWO peels (double-step fusion —
    * peeling is pure, so fused steps are edge-identical) to keep the
    * loop's plan linear at half the materializations; the only driver
    * scalar is the per-materialization edge count used for the
    * fixpoint test.
    *
    * Determinism: peeling is confluent — the fixpoint does not depend
    * on deletion order — and IDEMPOTENT past convergence, so a replay
    * that unrolls exactly `maxRounds` rounds produces the identical
    * core whether or not it knows where the fixpoint fell. That is
    * what makes the fixed-unroll external-SQL oracle exact.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame =
    kCore(edges, k, maxRounds, fuse = 2)

  /** [[kCore]] at an explicit fusion depth (see [[Fixpoint]]). */
  private[graft] def kCore(edges: DataFrame, k: Int, maxRounds: Int,
                           fuse: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // edges only shrink and peeling is idempotent past the fixpoint, so
    // an unchanged edge count after a block means no peel in it changed
    // anything; an empty edge set is a fixpoint before any peel
    val (core, _) = Fixpoint.run(edges.select(col("src"), col("dst")),
        fuse, maxRounds, probe = Seq(count(lit(1))), pinSeed = true,
        stop = b => b.row.getLong(0) == b.prev.fold(0L)(_.getLong(0))) {
      (cur, _) =>
        val keep = cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src"))
        cur
          .join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
    }
    core.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with fully
    * deterministic tie-breaking: every node starts labeled with its
    * own id; each iteration it adopts the most frequent label among
    * its in-neighbors, ties to the SMALLEST label (the openly known
    * fix for LPA's tie nondeterminism). Nodes with no in-edges keep
    * their label. Pass symmetrized edges for the usual undirected
    * community semantics. Exact integer state — an external SQL
    * engine replays every iteration verbatim.
    *
    * Scale shape mirrors [[pageRank]]: the edge table is pinned once;
    * each iteration is one hash join moving the n-row label vector,
    * one map-side-combinable (node, label) count, and one
    * per-node-partitioned ranking window (its partition size is the
    * number of DISTINCT neighbor labels, which shrinks every
    * iteration — never a global window). Labels are checkpointed once
    * per FOUR iterations (step fusion — the update is pure, so fused
    * steps are label-identical) to keep the loop's plan linear at a
    * quarter of the materializations.
    *
    * Synchronous LPA can oscillate on bipartite structures (period-2
    * flips) — the documented trade for determinism; `iterations` caps
    * the loop either way.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame =
    labelPropagation(edges, iterations, fuse = 4)

  /** [[labelPropagation]] at an explicit fusion depth (see [[Fixpoint]]). */
  private[graft] def labelPropagation(edges: DataFrame, iterations: Int,
                                      fuse: Int): DataFrame = {
    val e = IterPin.pin(edges.select(col("src"), col("dst")))
    val nodes = IterPin.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val (labels, rounds) = Fixpoint.run(
        nodes.select(col("node"), col("node").as("label")), fuse, iterations) {
      (cur, _) =>
        val counts = e.join(cur, e("src") === cur("node"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        // winner = (count desc, label asc) as min(struct(-c, label)) —
        // a map-side-combinable aggregate, NOT a row_number window: a
        // ranking window sorts every (node, label) row inside each
        // shuffle partition, and at sf10 (48M edge rows per round,
        // one JVM) that sort was the measured memory-pressure term of
        // the round-12 scaling study; the aggregate collapses each
        // node's labels to one row map-side. Same winner, bit-
        // identical labels (gr02's fixed-unroll oracle pins it).
        val won = counts.groupBy(col("dst"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("__m"))
          .select(col("dst").as("node"), col("__m.l").as("__new"))
        nodes.join(won, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("__new"), col("node")).as("label"))
    }
    IterPin.free(e) // exit free — the final pinned labels read neither
    if (rounds > 0) IterPin.free(nodes) // (rounds==0 → labels still reads nodes)
    labels
  }

  /** Per-node triangle participation + local clustering coefficient
    * (Watts–Strogatz 1998) over a SYMMETRIC simple edge table.
    *
    * Triangle enumeration reuses the worst-case-optimal join
    * ([[Wcoj.triangles]]) on the a<b<c orientation, so each triangle
    * is produced exactly once and total work respects the AGM bound
    * (Σ per-edge min-degree) instead of the wedge count — the thing
    * that matters on a skewed 100 TB web graph, where the wedge count
    * of one celebrity node alone can exceed the full triangle count.
    * Everything after enumeration is map-side-combinable: explode the
    * 3 corners, count per node, one broadcast-sized join back to the
    * degree table. Nodes in no triangle are kept (triangles = 0), so
    * the output is exactly one row per node of the input graph.
    *
    * cc(v) = 2·T(v) / (d(v)·(d(v)−1)), 0 when d < 2; rounded to 6dp
    * (+1e-11) for cross-engine hash stability.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val oriented = sym.filter(col("src") < col("dst"))
    // pattern frames for a<b<c: ab = (a,b), bc = (b,c), ca = (c,a) —
    // the closing edge runs against orientation, so reverse it
    val tri = Wcoj.triangles(oriented, oriented,
      oriented.select(col("dst").as("src"), col("src").as("dst")))
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        col("degree"),
        round(when(col("degree") >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)) + lit(1e-11), 6).as("cc"))
  }

  /** Single-source (or multi-seed) shortest weighted distances by
    * synchronous Bellman–Ford relaxation: each round every edge offers
    * `dist(src) + weight` to its destination and every node keeps its
    * minimum. Seeds start at 0; nodes never reached emit no row.
    *
    * Exact integer arithmetic (weights are cast to long), so an
    * external engine replays the loop verbatim; relaxation is
    * IDEMPOTENT past the fixpoint, which makes a fixed-unroll oracle
    * exact whether or not it knows where convergence fell (same
    * argument as [[kCore]]).
    *
    * Scale shape: the weighted edge table is pinned once; each round
    * is one hash join moving the reached-set rows along edges plus one
    * map-side-combinable min per destination — no windows, no global
    * ordering. Convergence is detected from one scalar folded into the
    * pin's own job — the count of rows whose distance changed — rather
    * than an EXCEPT join.
    * `maxRounds` caps hostile diameters; per-round frontier deltas are
    * the usual Pregel/GraphX shape re-expressed as DataFrame joins.
    */
  def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int = 15): DataFrame =
    sssp(edges, seeds, maxRounds, fuse = 2)

  /** [[sssp]] at an explicit fusion depth (see [[Fixpoint]]). */
  private[graft] def sssp(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
                          fuse: Int): DataFrame = {
    val e = IterPin.pin(edges.select(col("src"), col("dst"),
      col("weight").cast("long").as("weight")))
    // FRONTIER-DELTA relaxation (round 21, guide §2.3 — shuffle fewer
    // bytes): each round offers only from nodes whose distance CHANGED
    // last round (`__f`), not from the whole reached set. Bit-identical
    // per round to full relaxation: an unchanged node's offers were
    // already applied the round after it last changed and min() is
    // idempotent, so dropping them changes no minimum (the classic
    // Bellman–Ford frontier invariant — the fixed-unroll oracle, which
    // replays the FULL relaxation, stays exact at every round). At
    // scale this turns O(rounds × reached-set) join traffic into
    // O(total improvements); at bench scale it shrinks the offers join
    // once the frontier passes its peak. The changed flag rides the
    // existing per-round aggregate (one extra map-side min column — no
    // extra exchange): a node is frontier iff it is newly reached
    // (no pre-round row → old-dist min over the tagged union is null)
    // or its new min beats its pre-round distance.
    //
    // fixpoint ⟺ the block's LAST step changed nothing (zero frontier
    // rows) — relaxation past a fixpoint stays a fixpoint, so earlier
    // steps of the block are covered by induction; the block past the
    // last change runs its offers join on an EMPTY frontier, so it
    // costs scheduler floor, not data
    val (dist, _) = Fixpoint.run(
        seeds.select(col("node"), lit(0L).as("dist"), lit(true).as("__f")),
        fuse, maxRounds, probe = Seq(frontierRows), pinSeed = true,
        stop = _.row.getLong(0) == 0L) { (cur, _) =>
      val frontier = cur.filter(col("__f"))
      val offers = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node"), (col("dist") + col("weight")).as("dist"))
      cur.select(col("node"), col("dist"), lit(false).as("__n"))
        .unionAll(offers.select(col("node"), col("dist"), lit(true).as("__n")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"),
          min(when(!col("__n"), col("dist"))).as("__od"))
        .select(col("node"), col("dist"),
          (col("__od").isNull || col("dist") < col("__od")).as("__f"))
    }
    IterPin.free(e) // exit free — the pinned distance vector reads nothing
    dist.select(col("node"), col("dist"))
  }

  /** Rows whose distance changed in the last relaxation (sssp/BFS's
    * convergence probe; a seed's rows all count).
    */
  private def frontierRows =
    coalesce(sum(when(col("__f"), lit(1L)).otherwise(lit(0L))), lit(0L))

  /** Per-origin hop distances from a seed set — synchronous BFS with
    * (origin, node) state, the landmark-distance building block.
    * Same loop shape and fixed-unroll-exact argument as [[sssp]]; the
    * state is |seeds| × reached nodes, so seed count is the memory
    * knob (landmark methods sample tens of seeds, not thousands).
    */
  def multiSourceHopDistances(edges: DataFrame, seeds: DataFrame,
                              maxRounds: Int = 10): DataFrame = {
    val e = IterPin.pin(edges.select(col("src"), col("dst")))
    // frontier-delta BFS (see [[sssp]] — identical invariant, (origin,
    // node) keys): offers come only from rows reached/improved last
    // round, the flag rides the per-round aggregate, and the loop
    // stops in the block where the last step changed nothing. At
    // scale this is the difference between moving |seeds| × reached
    // rows through the edge join EVERY round and moving each (origin,
    // node) exactly once, in its reach round (synchronous BFS never
    // improves a set distance).
    val (dist, _) = Fixpoint.run(
        seeds.select(col("node").as("origin"), col("node"),
          lit(0L).as("dist"), lit(true).as("__f")),
        fuse = 2, maxRounds = maxRounds, probe = Seq(frontierRows), pinSeed = true,
        stop = _.row.getLong(0) == 0L) { (cur, _) =>
      val frontier = cur.filter(col("__f"))
      val offers = frontier.join(e, frontier("node") === e("src"))
        .select(col("origin"), col("dst").as("node"),
          (col("dist") + 1).as("dist"))
      cur.select(col("origin"), col("node"), col("dist"),
          lit(false).as("__n"))
        .unionAll(offers.select(col("origin"), col("node"), col("dist"),
          lit(true).as("__n")))
        .groupBy(col("origin"), col("node"))
        .agg(min(col("dist")).as("dist"),
          min(when(!col("__n"), col("dist"))).as("__od"))
        .select(col("origin"), col("node"), col("dist"),
          (col("__od").isNull || col("dist") < col("__od")).as("__f"))
    }
    IterPin.free(e) // exit free — the pinned distance vector reads nothing
    dist.select(col("origin"), col("node"), col("dist"))
  }

  /** Weighted one-mode projection of a bipartite graph: given
    * (left, right) membership edges, connect left nodes that share a
    * right neighbor, weighted by the number of shared neighbors — the
    * standard co-occurrence graph build (users→items ⇒ item-item,
    * orders→parts ⇒ part-part co-purchase), which this repo's graph
    * queries have been deriving inline; as an operator it carries the
    * skew guard the inline form lacks.
    *
    * Scale shape: one self-join keyed on the RIGHT node + one
    * map-side-combinable count. The hazard is a celebrity right node
    * (a part in every order) squaring into pairs; `maxRightDegree`
    * drops right nodes above the cap BEFORE the join (one aggregate),
    * the documented projection practice — a right node shared by
    * everyone carries no co-occurrence signal, only quadratic cost.
    * Emits each undirected pair once (a < b).
    */
  def bipartiteProject(edges: DataFrame, maxRightDegree: Int = 1 << 20): DataFrame = {
    val e = edges.select(col("left"), col("right")).distinct()
    val keep = e.groupBy(col("right")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxRightDegree).select(col("right"))
    val ek = e.join(keep, Seq("right"), "left_semi")
    ek.as("x").join(ek.as("y"),
        col("x.right") === col("y.right") && col("x.left") < col("y.left"))
      .groupBy(col("x.left").as("a"), col("y.left").as("b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** Harmonic closeness centrality of each seed: Σ 1/d(seed, v) over
    * reached v ≠ seed (Marchiori–Latora 2000 — the closeness variant
    * that is well-defined on disconnected graphs). Exact hop
    * distances from [[multiSourceHopDistances]]; rounded 6dp (+1e-11)
    * for cross-engine stability.
    */
  def harmonicCloseness(edges: DataFrame, seeds: DataFrame,
                        maxRounds: Int = 10): DataFrame =
    multiSourceHopDistances(edges, seeds, maxRounds)
      .filter(col("dist") > 0)
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("n_reached"),
        round(sum(lit(1.0) / col("dist")) + lit(1e-11), 6).as("closeness"))

  /** Pivot-sampled harmonic closeness of EVERY vertex (Eppstein & Wang
    * 2001, "Fast approximation of centrality", SODA — the pivot
    * estimator, on the harmonic variant): BFS from `pivots` md5-ranked
    * seed vertices (deterministic — the sampledCentroids rank rule, so
    * an external SQL engine replays the pivot pick verbatim) and
    * estimate each vertex's harmonic centrality as
    * `(n / k) * Σ_pivots 1/d(pivot, v)` — the unbiased scale-up of the
    * sampled inverse-distance sum (a pivot at `v` itself contributes 0:
    * `d = 0` rows are excluded, exactly the self-term the true sum
    * excludes). With `pivots >= n` the sample IS every vertex and the
    * estimate is the exact (in-)harmonic centrality — the oracle-gate
    * regime; the scale factor is then exactly 1.0, so values are
    * bit-identical to the unscaled sum.
    *
    * Why this exists: exact all-vertex closeness is all-sources BFS —
    * state |V| × reached, quadratic-ish in total at 100× data. Here
    * cost is ∝ pivots × graph (the [[multiSourceHopDistances]] state is
    * |pivots| × reached), with accuracy O(1/√k) per Eppstein–Wang —
    * tens of pivots suffice for ranking, independent of |V|.
    */
  def sampledHarmonicCloseness(edges: DataFrame, pivots: Int,
                               maxRounds: Int = 10): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1, got $pivots")
    // pin the edges once: `edges` is usually a lazy build plan, and the
    // vertex set, the pivot pick, and the BFS would otherwise each
    // re-execute it from the source (4 full builds per call measured
    // before this). The vertex count rides on the verts pin's own job.
    val e = IterPin.pin(edges.select(col("src"), col("dst")))
    val (verts, vRow) = IterPin.pinProbed(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct(),
      Seq(count(lit(1))))
    val n = vRow.getLong(0)
    val k = math.min(pivots.toLong, n)
    val seeds = verts
      .orderBy(md5(col("node").cast("string").cast("binary")), col("node"))
      .limit(k.toInt)
    val dists = multiSourceHopDistances(e, seeds, maxRounds)
    // the BFS pinned its own edge/seed state — the loop inputs can go
    IterPin.free(e)
    IterPin.free(verts)
    dists
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("pivots_reached"),
        round(sum(lit(1.0) / col("dist")) *
            (lit(n.toDouble) / lit(k.toDouble)) + lit(1e-11), 6)
          .as("closeness_est"))
  }

  /** SIZE-ROUTED all-vertex harmonic closeness — the production entry
    * the CALL surface uses: graphs at or under `exactMaxVertices`
    * vertices run the exact regime (every vertex a pivot — the
    * estimator's `pivots >= n` degenerate case, scale factor exactly
    * 1.0), larger graphs get the Eppstein–Wang `pivots` estimator
    * whose cost is ∝ pivots × graph instead of |V| × graph — a caller
    * should get the ∝-pivots plan at scale without having to know the
    * estimator exists. Exact stays opt-in by raising the threshold.
    * Both regimes return (node, pivots_reached, closeness_est) and the
    * routing decision is logged. The vertex-count job the router pays
    * is one distinct count — noise next to either BFS.
    */
  def harmonicClosenessAuto(edges: DataFrame,
                            exactMaxVertices: Long = 10000L,
                            pivots: Int = 16,
                            maxRounds: Int = 10): DataFrame = {
    require(pivots >= 1, s"pivots must be >= 1, got $pivots")
    val n = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct().count()
    val exact = n <= exactMaxVertices
    System.err.println(
      s"[graft] closeness routing: n_vertices=$n regime=" +
        (if (exact) "exact" else s"sampled(pivots=$pivots)") +
        s" (exact.maxVertices=$exactMaxVertices)")
    sampledHarmonicCloseness(edges,
      if (exact) Int.MaxValue else pivots, maxRounds)
  }
}
