package graft.graph

import org.apache.spark.sql.DataFrame

import scala.annotation.tailrec

/** The one driver for iterative graph rounds over DataFrames.
  *
  * A round is a Pregelix superstep written as dataflow: vertex ⋈ message
  * (an equi-join of the edge frame against the round's input), then a
  * group-by combine. The round bodies stay named functions at their call
  * sites (`relaxRound`, `bfsRound`, `kcoreRound`, `lpaRound`, `pprRound`,
  * `textRankRound`) so PlanSpec can pin one round's plan; this object
  * only decides how rounds follow one another.
  *
  * Invariants:
  *  - Every round's output is `localCheckpoint`ed, so after any number
  *    of rounds the plan is one round deep (a `LogicalRDD` leaf;
  *    SuperstepSpec). Left lazy, a round that reads its input twice
  *    (LPA) doubles the analyzed tree per round and AQE runs every copy:
  *    q202 measured 39.2 s / 108 jobs cold at sf0.1 that way, 26.0 s /
  *    50 jobs truncated.
  *  - [[frontier]] counts each new frontier once, as one partition-local
  *    job over its checkpointed blocks (`graft.Force`; `Dataset.count`
  *    adds a shuffle stage and a job). The count is both the emptiness
  *    test and the size the next round gets (q114 gates a broadcast on it).
  *  - [[frontier]] returns a fixpoint or throws. It stops at the first
  *    empty frontier; a frontier still live after `cap` rounds gets one
  *    probe round, and a probe that yields rows is an error naming the
  *    query and the cap, never a silent partial result (SuperstepSpec).
  *  - [[fold]] runs a fixed number of rounds, for the recurrences whose
  *    oracle unrolls the same count (LPA, PPR, TextRank).
  *
  * `localCheckpoint` blocks have no lineage to recompute from, which
  * holds under `local[*]`; surviving executor loss needs a reliable
  * checkpoint (ROADMAP D4).
  */
object Superstep {

  /** What one frontier round hands back: the next frontier, still lazy
    * (the driver checkpoints and counts it), and how the state absorbs
    * that checkpointed frontier given its row count (q85 skips
    * re-aggregating an empty one). */
  final case class Round[S](next: DataFrame, absorb: (DataFrame, Long) => S)

  /** Runs `round` exactly `rounds` (≥ 1) times from `init`, checkpointing
    * each round's output. The caller materializes `init` if rounds read
    * it more than once. */
  def fold(init: DataFrame, rounds: Int)(round: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init)((in, _) => round(in).localCheckpoint())

  /** Runs frontier rounds from (`state`, `seed`) until a round yields an
    * empty frontier. `seed` must already be materialized; it is counted
    * once. Each call of `round` gets the state, the live frontier and
    * that frontier's row count; the frontier it yields is counted before
    * the state absorbs it. The state always absorbs the last round,
    * so a round whose effect lands in the state rather than in the
    * frontier (q114's removals) is never dropped. Throws when `cap`
    * rounds and a probe round still leave a live frontier. */
  def frontier[S](query: String, cap: Int, state: S, seed: DataFrame)(
      round: (S, DataFrame, Long) => Round[S]): S = {
    @tailrec def go(done: Int, st: S, live: DataFrame, n: Long): S =
      if (n == 0L) st
      else if (done > cap)
        throw new IllegalStateException(
          s"$query: the frontier is still live after its cap of $cap rounds " +
            "and a probe round, so the fixpoint needs more rounds than the cap")
      else {
        val r = round(st, live, n)
        val next = r.next.localCheckpoint()
        val m = graft.Force(next)
        go(done + 1, r.absorb(next, m), next, m)
      }
    go(0, state, seed, graft.Force(seed))
  }
}
