package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative-chain engine: one way to pin a round, one convergence
  * loop. Every query that iterates a DataFrame (PageRank, BFS, label
  * propagation, k-core, the SIAR chains, BPE training, k-center, power
  * iteration, MMR) pins each round through [[pin]]; the loops that run
  * to a fixpoint instead of a fixed round count run through
  * [[converge]]. */
object Fixpoint {

  /** Rounds [[converge]] runs before it gives up. */
  val MaxRounds = 25

  /** Pins one round of an iterative chain: the rows are materialized
    * eagerly and the returned frame's plan is a scan of them. Every
    * round of every chain goes through here, for three reasons:
    *
    *  1. Cutting the lineage stops plan growth. With no barrier,
    *     CollapseProject inlines the arithmetic of every round into the
    *     next and the expression tree grows multiplicatively (about 30 s
    *     of optimizer time for a 3-step SIAR chain). A `persist()`
    *     barrier stops the inlining, but each round's analyzed plan
    *     still carries the whole prefix, so planning grows quadratically
    *     with depth: the 13-step g22b measured 30 s persisted against
    *     6 s checkpointed at sf0.1. With the pin, round N costs what
    *     round 1 costs.
    *  2. Bounded state stays in one block. `bounded = true` is for state
    *     that is a few hundred rows at any corpus size (regions, areas,
    *     SIAR compartments, a shortlist, a vocabulary): it is coalesced
    *     to one partition first, so each round stores ONE block instead
    *     of #shuffle-partitions near-empty ones. Corpus-scaling state
    *     (edge and label frames, per-vector distances) passes `false`
    *     and keeps its partitioning, since one partition would
    *     serialize real work.
    *  3. The fault-tolerance trade. A local checkpoint is not fault
    *     tolerant: losing an executor, or an external unpersist of a
    *     pinned block, fails the query instead of recomputing it.
    *     Single-JVM local mode cannot lose an executor, so the cheap
    *     barrier is right here; a long chain on a real cluster should
    *     switch to reliable `checkpoint()` against the cluster
    *     checkpoint dir (same barrier, one storage round-trip per round)
    *     when executor loss is a live risk.
    *
    * The blocks live outside the catalog cache; `GraftSession.release`
    * sweeps them. */
  def pin(df: DataFrame, bounded: Boolean): DataFrame =
    (if (bounded) df.coalesce(1) else df).localCheckpoint()

  /** Iterates `step` from `init` to its fixpoint and returns the last
    * round's frame. `init` and every round are pinned (unbounded). `step`
    * maps the current frame to the next one plus a boolean `moved`
    * column marking the rows that changed this round; the frame handed
    * to the next step, and the one returned, drop it.
    *
    * Convergence is read from the pinned round itself: one aggregate
    * gives its row count and its moved-row count, and the round has
    * converged when no row moved and the row count did not change. The
    * previous row count comes from the previous round's aggregate; for
    * the first round `init` is counted, and only if no row moved.
    *
    * A loop still moving after [[MaxRounds]] rounds throws, naming
    * `query` and the round: a silent cap exit would return plausible but
    * wrong rows. */
  def converge(query: String, init: DataFrame)(step: DataFrame => DataFrame): DataFrame = {
    var state = pin(init, bounded = false)
    var rows: Option[Long] = None
    var round = 0
    var converged = false
    while (!converged) {
      if (round == MaxRounds)
        throw new IllegalStateException(s"$query not converged after $round rounds")
      round += 1
      val next = pin(step(state), bounded = false)
      val r = next.agg(count(lit(1)), count(when(col("moved"), 1))).head()
      val (n, moved) = (r.getLong(0), r.getLong(1))
      converged = moved == 0 && n == rows.getOrElse(state.count())
      rows = Some(n)
      state = next.drop("moved")
    }
    state
  }
}
