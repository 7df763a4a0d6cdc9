package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The one round loop behind every iterative operator — pageRank, LPA,
  * k-core, sssp, multi-source BFS, distributed connected components and
  * [[graft.paths.PathExpand]]'s doubling and frontier regimes. GraphX
  * (Gonzalez et al., OSDI 2014) showed one iteration abstraction over a
  * dataflow engine carries all of these; this is that abstraction over
  * DataFrames and [[IterPin]].
  *
  * A run composes up to `fuse` pure steps into ONE linear plan, pins the
  * block (one eager job; with a probe the probe rides the same job via
  * [[IterPin.pinProbed]]), hands the block's probe row to the stop rule,
  * and only then frees the superseded state — the stop rule is that
  * state's last possible consumer, and a freed localCheckpoint cannot be
  * recomputed. Fused steps are bit-identical to single-stepping (each
  * step is pure); what fusion changes is bookkeeping: state materializes
  * and the probe runs once per BLOCK, so a converging loop may run up to
  * `fuse - 1` rounds past its fixpoint before the block-level probe sees
  * it. Every caller's update is idempotent past its fixpoint, so those
  * rounds cost scheduler floor, never a different result.
  *
  * Fusion depth is a per-loop constant at the call site, the measured
  * structural optimum (round-21 regime table, sf0.1, 32 cpus, warm reps):
  *
  * {{{
  *   loop              depth  why
  *   pageRank            2    contribution table read twice per step
  *   kCore               2    three state reads per peel
  *   sssp / BFS          2    cur ∪ offers(cur) reads the state twice
  *   components          2    four state reads per round (4^depth plan)
  *   LPA                 4    single-reference step: linear plan growth
  *   PathExpand          1    per-hop caps, result append, visited set
  * }}}
  *
  * A step that reads its incoming state k > 1 times duplicates the
  * un-pinned subtree k× per fused step; Catalyst plans and AQE stages
  * every copy even where exchange reuse executes it once, so depth 4
  * regressed the multi-reference loops 20-40% (sssp 5.1 s at 2 vs 7.0 s
  * at 4; pageRank 4.8 vs 6.6) while cutting jobs only ~20% — AQE
  * schedules one job per exchange, and fusion removes pins, not
  * exchanges. LPA's single-reference step grows linearly and wins at 4
  * (4.5 vs 4.9 s). PathExpand runs unfused: each hop's row count gates
  * the explosion caps and feeds the next hop's visited set.
  */
private[graft] object Fixpoint {

  /** One pinned block as the stop rule sees it: the pinned state, its
    * probe row, the previous block's probe row (None before the first
    * probed block) and the rounds applied so far (0 for a pinned seed).
    */
  final case class Block(state: DataFrame, row: Row, prev: Option[Row], rounds: Int)

  /** Run `step` from `seed` until `stop` says so or `maxRounds` steps
    * have run; returns the final pinned state and the rounds applied.
    *
    * `step(state, round)` gets the 1-based index of the round it
    * computes. Without a `probe` the loop is a plain fixed-round loop:
    * no probe job, and `stop` is never consulted. With `pinSeed` the
    * seed is pinned (and probed) before the first block, so the stop
    * rule sees it as round 0 — an empty seed can stop the loop before
    * any step runs, and its row is the first block's `prev`. Otherwise
    * the seed stays lazy and the first block's pin materializes it.
    *
    * Superseded states are freed unless `retained` holds for them (a
    * caller that returns every block's state, like the path frontier's
    * result union). A superseded frame that is not itself a pin — a
    * lazy seed — is left alone ([[IterPin.free]] no-ops on it).
    */
  def run(seed: DataFrame, fuse: Int, maxRounds: Int,
          probe: Seq[Column] = Nil,
          stop: Block => Boolean = _ => false,
          pinSeed: Boolean = false,
          retained: DataFrame => Boolean = _ => false)
         (step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    require(fuse >= 1, s"fusion depth must be >= 1, got $fuse")
    def pinBlock(df: DataFrame): (DataFrame, Option[Row]) =
      if (probe.isEmpty) (IterPin.pin(df), None)
      else {
        val (pinned, row) = IterPin.pinProbed(df, probe)
        (pinned, Some(row))
      }
    var state = seed
    var prev = Option.empty[Row]
    var rounds = 0
    var done = false
    if (pinSeed) {
      val (pinned, row) = pinBlock(seed)
      state = pinned
      done = row.exists(r => stop(Block(pinned, r, None, 0)))
      prev = row
    }
    while (!done && rounds < maxRounds) {
      val steps = math.min(fuse, maxRounds - rounds)
      val (next, row) = pinBlock((rounds + 1 to rounds + steps).foldLeft(state)(step))
      rounds += steps
      done = row.exists(r => stop(Block(next, r, prev, rounds)))
      prev = row
      if (!retained(state)) IterPin.free(state)
      state = next
    }
    (state, rounds)
  }
}
