package graft.nba

import graft.nba.Model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.GraftBridge.cacheLeaf
import org.apache.spark.sql.functions._

/** End-to-end game pipeline (reference §3.2 `load_game`, re-expressed as
  * one Spark program): pbp + starters → stints → attributed events →
  * score chain → plus-minus — the reference's 12 serial Bolt round trips
  * collapsed into a single lazy plan partitioned by `game_id`.
  */
object GamePipeline {

  case class Result(
      periods: DataFrame,
      lineupStints: DataFrame,
      playerStints: DataFrame,
      attributedEvents: DataFrame,
      scoreChain: DataFrame,
      stintPlusMinus: DataFrame,
      playerPlusMinus: DataFrame,
      reboundLinks: DataFrame,
      timeline: DataFrame)

  def run(
      spark: SparkSession,
      pbp: Dataset[PbpAction],
      starters: Dataset[Starter],
      gameTeams: DataFrame): Result = {

    // Every cached frame here lives as long as the Result (a SessionCache
    // entry), so each is a cache leaf (GraftBridge.cacheLeaf): downstream
    // analysis and cache lookups see one InMemoryRelation node, not the
    // DAG back to the source. Plain `.cache()` is only for frames that
    // are later unpersisted.
    //
    // the raw action stream is scanned by FOUR independent consumers
    // (periods, sub events, enrichment/attribution, rebound links /
    // timeline) — cache it once instead of re-deriving it from the
    // source per consumer. Enriched events are NOT cached separately:
    // enrichment is map-only (flag columns), so recomputing it over the
    // cached stream is a pipelined pass with no shuffle.
    import spark.implicits._
    val pbpDf = cacheLeaf(pbp.toDF())
    val pbpDs = pbpDf.as[PbpAction]

    // 0. periods pipeline (A1/A2): bounds derived from PBP period events —
    //    the game end clock every stint tiling closes on is DERIVED, never
    //    a fixture input (reference manager:126-135)
    // cached: tiny (games × ~4 rows), but each uncached reference would
    // re-derive it from a full pbp scan (q66 + two export branches)
    val periods = cacheLeaf(Periods.fromPbp(pbpDf))
    val gameEnd = Periods.gameBounds(periods)
      .select(col("game_id"), col("game_end_clock"))

    // 1. stint engine (W4 fold + W2 tiling + W3 sessionization)
    val subs = Stints.subEvents(spark, pbpDs)
    val snapshots = Stints.lineupSnapshots(spark, starters, subs)
    val lineupStints = cacheLeaf(Stints.lineupStints(snapshots, gameEnd))
    val playerStints = cacheLeaf(Stints.playerStints(lineupStints))

    // 2. event extraction + attribution (F5 single pass, J5/J6 as-of)
    val events = Events.enriched(pbpDf)
    val attributed = cacheLeaf(Events.attributeToOpponentStints(
      Events.attributeToStints(events, lineupStints),
      lineupStints, gameTeams))

    // 3. scores + plus-minus (A6/W7 windows, A7/A8 roll-ups)
    // chain is consumed by the score query, the season invariant and the
    // streaming twin's oracle — cache the 1-row-per-score frame.
    // Stint plus-minus feeds q60, q63, the player roll-up and the SQL
    // surface, player plus-minus feeds q62: cached, a warm re-query is one
    // scan of the leaf instead of the aggregate and its joins again.
    val chain = cacheLeaf(Scores.scoreChain(attributed, gameTeams))
    val stintPm = cacheLeaf(Scores.stintPlusMinus(attributed, lineupStints))
    val playerPm = cacheLeaf(Scores.playerPlusMinus(playerStints, stintPm))

    Result(
      periods = periods,
      lineupStints = lineupStints,
      playerStints = playerStints,
      attributedEvents = attributed,
      scoreChain = chain,
      stintPlusMinus = stintPm,
      playerPlusMinus = playerPm,
      reboundLinks = Events.reboundOf(events),
      timeline = Events.timeline(events))
  }
}
