package graft.streaming

import graft.nba.Model.{LineupSnapshot, SubEvent}
import graft.nba.Stints
import graft.nba.Stints.StintState

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming lineup reconstruction — the reference's stateful set-fold
  * (W4, `/root/reference/src/managers/game.py:147-193`) hosted on
  * `flatMapGroupsWithState`, turning the polled live-PBP loop
  * (`src/fetcher.py:12`) into a true incremental pipeline: substitution
  * events stream in per (game, team); 5-player snapshots stream out.
  *
  * The fold is [[Stints.step]], the one the batch path runs, here with
  * `finalize = false`: the newest clock's events stay buffered in state
  * until an event with a strictly later clock arrives, so same-clock
  * batching holds across micro-batch boundaries. State per key is
  * O(roster size).
  */
object StreamingStints {

  /** Streaming entry: subs in, snapshots out. `starters` is the static
    * (game, team) → starting-five side input, broadcast-joined in the
    * state function via a plain map (small dimension). */
  def apply(
      subs: Dataset[SubEvent],
      starters: Map[(Long, Long), Seq[Long]]): Dataset[LineupSnapshot] = {
    val spark = subs.sparkSession
    import spark.implicits._
    subs
      .groupByKey(s => (s.game_id, s.team_id))
      .flatMapGroupsWithState[StintState, LineupSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), it: Iterator[SubEvent], state: GroupState[StintState]) =>
          val st0 = state.getOption.getOrElse(
            Stints.initial(starters.getOrElse(key, Seq.empty)))
          val (st1, snaps) = Stints.step(key._1, key._2, it.toSeq, st0, finalize = false)
          state.update(st1)
          snaps.iterator
      }
  }
}
