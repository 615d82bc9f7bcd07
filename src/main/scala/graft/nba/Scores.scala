package graft.nba

import graft.ops.LongKeyJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Score reconstruction and plus-minus — the reference's running-total
  * fold with per-period reset (A6/W7, `/root/reference/src/queries/
  * game.py:641-707`) and the plus-minus aggregation it *meant* to ship
  * (`SET_PLUS_MINUS` is dead code per SURVEY §2.11 — we implement the
  * documented intent directly from stint × score intervals, with the
  * Σ stint ± = final margin invariant as a test).
  *
  * The reference's explicit `reduce()` with reset logic collapses into
  * window cumulative sums: partition by game (running totals) and by
  * (game, period) (per-period partials) — the reset is the partition
  * boundary. One shuffle per window key, linear at any scale.
  */
object Scores {

  /** Scoring events → the Score chain: running home/away totals, margin,
    * per-period partials, and NEXT links (W1, game.py:732-740). Ordering
    * follows the reference's `ORDER BY clock, id` tie-break
    * (game.py:628). */
  def scoreChain(events: DataFrame, gameTeams: DataFrame): DataFrame = {
    val scoring = events
      .filter(col("points") > 0)
      .join(gameTeams, Seq("game_id"))
      .withColumn("home_pts",
        when(col("team_id") === col("home_team_id"), col("points")).otherwise(0))
      .withColumn("away_pts",
        when(col("team_id") === col("away_team_id"), col("points")).otherwise(0))
    val ord = Seq(col("order_clock"), col("action_id"))
    val wGame = Window.partitionBy(col("game_id")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPeriod = Window.partitionBy(col("game_id"), col("period")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("game_id")).orderBy(ord: _*)
    scoring.select(
      col("game_id"), col("period"), col("action_id").as("score_id"),
      col("team_id"), col("points"), col("order_clock").as("clock"),
      sum(col("home_pts")).over(wGame).as("home_score"),
      sum(col("away_pts")).over(wGame).as("away_score"),
      (sum(col("home_pts")).over(wGame) - sum(col("away_pts")).over(wGame)).as("margin"),
      sum(col("home_pts")).over(wPeriod).as("period_home_score"),
      sum(col("away_pts")).over(wPeriod).as("period_away_score"),
      lead(col("action_id"), 1).over(wNext).as("next_score_id"))
  }

  /** Per-lineup-stint plus-minus (A7/A8): each scoring event lands in one
    * stint per side (as-of attribution done upstream — events must carry
    * `lineup_stint_id` and `opp_lineup_stint_id`); points-for accrue to
    * the scorer's stint, points-against to the opponent stint on court.
    *
    * One aggregate: every scoring row yields a (stint, for, 0) entry for
    * its own stint and a (stint, 0, against) entry for the opponent's, so
    * one `groupBy` sums both columns and one left join brings them back
    * to the stints. The join keys on the string `stint_id`, so it goes
    * through [[graft.ops.LongKeyJoin]]: the result is a cache leaf, and a
    * string-keyed broadcast would pin a hash-map page for its lifetime. */
  def stintPlusMinus(attributedScores: DataFrame, lineupStints: DataFrame): DataFrame = {
    val pts = attributedScores
      .filter(col("points") > 0)
      .select(explode(array(
        struct(col("lineup_stint_id").as("stint_id"),
          col("points").as("pts_for"), lit(0).as("pts_against")),
        struct(col("opp_lineup_stint_id").as("stint_id"),
          lit(0).as("pts_for"), col("points").as("pts_against")))).as("e"))
      .filter(col("e.stint_id").isNotNull)
      .groupBy(col("e.stint_id").as("stint_id"))
      .agg(sum(col("e.pts_for")).as("pts_for"), sum(col("e.pts_against")).as("pts_against"))
    LongKeyJoin(lineupStints, pts, Seq("stint_id"), "left_outer", guard = "pts_for")
      .withColumn("pts_for", coalesce(col("pts_for"), lit(0L)))
      .withColumn("pts_against", coalesce(col("pts_against"), lit(0L)))
      .withColumn("plus_minus", col("pts_for") - col("pts_against"))
  }

  /** Player-stint plus-minus: the hierarchical roll-up (A8,
    * game.py:797-808) — a player's run accrues the ± of every lineup
    * stint it spans. Also a cache leaf, so it too joins on the string
    * `stint_id` through [[graft.ops.LongKeyJoin]]. */
  def playerPlusMinus(playerStints: DataFrame, stintPlusMinus: DataFrame): DataFrame = {
    val spans = playerStints
      .select(col("game_id"), col("team_id"), col("person_id"),
        col("player_stint_id"), explode(col("stint_ids")).as("stint_id"))
    LongKeyJoin(spans, stintPlusMinus.select(col("stint_id"), col("plus_minus")),
        Seq("stint_id"), "inner", guard = "plus_minus")
      .groupBy(col("game_id"), col("team_id"), col("person_id"), col("player_stint_id"))
      .agg(sum(col("plus_minus")).as("plus_minus"))
  }
}
