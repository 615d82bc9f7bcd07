package graft.nba

import graft.nba.Model._
import graft.ops.TimeKernel
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The stint engine — the reference's flagship computation
  * (`/root/reference/src/managers/game.py:139-199` +
  * `src/queries/game.py:54-206`): reconstruct, from starters plus the
  * substitution stream, which 5 players were on court for every instant of
  * the game; then derive per-player on-court runs.
  *
  * Spark shape: the stateful set-fold (SURVEY W4) is a typed `cogroup`
  * of starters and subs over `(game_id, team_id)` — one shuffle on the group
  * key, then a pure in-memory replay of that team's subs (a few hundred
  * rows per group). Groups are independent games, so a 1,230-game season —
  * or a 100 TB season archive — parallelizes embarrassingly across
  * executors; no state crosses group boundaries. Downstream interval
  * tiling (W2) and player-run sessionization (W3) are single-window passes
  * partitioned by the same keys.
  */
object Stints {

  /** State of the W4 fold for one (game, team). */
  case class StintState(
      onCourt: Seq[Long],          // current set (sorted)
      lastEmitted: Seq[Long],      // last emitted lineup (sorted)
      pendingClock: Double,        // clock of the buffered same-clock batch
      pendingIn: Seq[Long],
      pendingOut: Seq[Long],
      emittedStarters: Boolean)

  /** Seed state from starters (5 on court at clock 0). */
  def initial(starters: Seq[Long]): StintState =
    StintState(starters.distinct.sorted, Seq.empty, -1.0, Seq.empty, Seq.empty,
      emittedStarters = false)

  /** Apply the buffered same-clock batch — its outs as one set, then its
    * ins — and emit the lineup if it has 5 players and differs from the
    * last emitted one. */
  private def flush(gameId: Long, teamId: Long, s: StintState): (StintState, Option[LineupSnapshot]) = {
    if (s.pendingClock < 0) (s, None)
    else {
      val next = (s.onCourt.toSet -- s.pendingOut ++ s.pendingIn).toSeq.sorted
      val changed = next.size == 5 && next != s.lastEmitted
      val snap = if (changed) Some(LineupSnapshot(gameId, teamId, s.pendingClock, next)) else None
      (s.copy(onCourt = next,
        lastEmitted = if (changed) next else s.lastEmitted,
        pendingClock = -1.0, pendingIn = Seq.empty, pendingOut = Seq.empty), snap)
    }
  }

  /** The W4 fold, the reference's (`src/managers/game.py:147-193`):
    * iterate substitutions in clock order keeping a running player set;
    * same-clock events are applied as one batch BEFORE the emit check
    * (the double-substitution rule, manager:173-181); emit a snapshot
    * whenever the set has exactly 5 players and differs from the last
    * emitted lineup. Starters seed the set at clock 0.
    *
    * The newest clock's batch stays buffered in the state until an event
    * with a strictly later clock arrives, so a batch split across
    * streaming micro-batches is still applied whole; `finalize` applies
    * the buffered batch at the end of the input. The batch path
    * ([[lineupSnapshots]]) and the streaming one
    * ([[graft.streaming.StreamingStints]]) both run this fold. */
  def step(
      gameId: Long, teamId: Long,
      events: Seq[SubEvent],
      start: StintState,
      finalize: Boolean): (StintState, Seq[LineupSnapshot]) = {
    val out = Seq.newBuilder[LineupSnapshot]
    var st = start
    if (!st.emittedStarters && st.onCourt.size == 5) {
      out += LineupSnapshot(gameId, teamId, 0.0, st.onCourt)
      st = st.copy(lastEmitted = st.onCourt, emittedStarters = true)
    }
    for (e <- events.sortBy(_.global_clock)) {
      if (st.pendingClock >= 0 && e.global_clock > st.pendingClock) {
        val (s2, snap) = flush(gameId, teamId, st)
        st = s2; snap.foreach(out += _)
      }
      st = st.copy(pendingClock = e.global_clock,
        pendingIn = if (e.is_in) st.pendingIn :+ e.person_id else st.pendingIn,
        pendingOut = if (!e.is_in) st.pendingOut :+ e.person_id else st.pendingOut)
    }
    if (finalize) {
      val (s2, snap) = flush(gameId, teamId, st)
      st = s2; snap.foreach(out += _)
    }
    (st, out.result())
  }

  /** The batch lineup snapshots: [[step]] over each (game, team)'s whole
    * substitution stream, seeded by its starters. */
  def lineupSnapshots(
      spark: SparkSession,
      starters: Dataset[Starter],
      subs: Dataset[SubEvent]): Dataset[LineupSnapshot] = {
    import spark.implicits._
    starters
      .groupByKey(s => (s.game_id, s.team_id))
      .cogroup(subs.groupByKey(s => (s.game_id, s.team_id))) {
        case ((gameId, teamId), starterRows, subRows) =>
          step(gameId, teamId, subRows.toSeq,
            initial(starterRows.map(_.person_id).toSeq), finalize = true)._2.iterator
      }
  }

  /** Snapshots → tiling lineup stints (reference W2,
    * `src/queries/game.py:110-125`): each stint ends where the next
    * snapshot starts, the last at `gameEndClock`. Stint identity follows
    * the reference (§1.4): `lineup_id` = sorted ids joined by `_`
    * (game.py:69-70), `stint_id` = game_period-free `game_team_index`
    * composite. */
  def lineupStints(snapshots: Dataset[LineupSnapshot], gameEndClock: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("game_id"), col("team_id")).orderBy(col("global_clock"))
    snapshots.toDF()
      .withColumn("stint_index", row_number().over(w) - 1)
      .withColumn("next_start", lead(col("global_clock"), 1).over(w))
      .join(gameEndClock, Seq("game_id")) // (game_id, game_end_clock)
      .select(
        col("game_id"), col("team_id"),
        TimeKernel.compositeKey(col("game_id"), col("team_id"), col("stint_index"))
          .as("stint_id"),
        TimeKernel.setKey(col("player_ids")).as("lineup_id"),
        col("stint_index"),
        col("global_clock").as("start_clock"),
        coalesce(col("next_start"), col("game_end_clock")).as("end_clock"),
        col("player_ids"))
  }

  /** Per-player on-court runs (PlayerStints — reference W3 sessionization,
    * `src/queries/game.py:144-168`): explode stint membership, then merge
    * contiguous intervals per (game, player): a new run starts when this
    * stint's start is strictly after the previous stint's end. */
  def playerStints(lineupStints: DataFrame): DataFrame = {
    val exploded = lineupStints.select(
      col("game_id"), col("team_id"),
      explode(col("player_ids")).as("person_id"),
      col("start_clock"), col("end_clock"), col("stint_id"))
    val w = Window.partitionBy(col("game_id"), col("person_id"))
      .orderBy(col("start_clock"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exploded
      .withColumn("prev_end", lag(col("end_clock"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_end").isNull || col("start_clock") > col("prev_end"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("is_new")).over(cum))
      .groupBy(col("game_id"), col("team_id"), col("person_id"), col("run_id"))
      .agg(
        min(col("start_clock")).as("start_clock"),
        max(col("end_clock")).as("end_clock"),
        count(lit(1)).as("n_lineup_stints"),
        collect_list(col("stint_id")).as("stint_ids"))
      .withColumn("player_stint_id",
        TimeKernel.compositeKey(col("game_id"), col("person_id"), col("run_id")))
  }

  /** Extract the substitution stream from raw PBP (reference F2 filter,
    * `src/managers/game.py:84-87`): `sub_type` in/out → is_in. */
  def subEvents(spark: SparkSession, pbp: Dataset[PbpAction]): Dataset[SubEvent] = {
    import spark.implicits._
    pbp.filter(a => a.action_type == "substitution" &&
        a.team_id.isDefined && a.person_id.isDefined)
      .map(a => SubEvent(a.game_id, a.team_id.get, a.person_id.get,
        a.global_clock, a.sub_type.contains("in")))
  }
}
