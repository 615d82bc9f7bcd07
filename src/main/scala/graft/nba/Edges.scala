package graft.nba

import graft.ops.LongKeyJoin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The relationship inventory — every actor edge the reference MERGEs
  * (`/root/reference/src/queries/game.py:239-259` jumpballs, 294-299
  * violations, 339-357 fouls, 400-427 shots, 464-471 free throws,
  * 499-513 rebounds, 550-567 turnovers, 591 timeouts), re-expressed as
  * ONE pass: each attributed event explodes into its (relation, actor,
  * side-stint, fallback?) candidates, then a single equi-join against
  * player-stint membership resolves actors to their `PlayerStint` live
  * at the event (the reference's `(ps)-[:ON_COURT_WITH]->(ls)` pattern,
  * J7+J8), with the reference's FOREACH-null fallback to the lineup
  * stint (J9) where it has one.
  *
  * Scale shape: no per-relation joins — one explode + one 3-key
  * equi-join (game, person, lineup-stint) through a single hashed long
  * key ([[graft.ops.LongKeyJoin]]), shuffling each candidate row once.
  * Fallback-vs-strict is data, not control flow.
  *
  * Fix-not-port (§2.11 spirit): the reference's LOST_JUMPBALL resolves
  * the loser against the WINNER's lineup stint (game.py:245-246), which
  * can never match — we resolve against the opponent stint, as intended.
  */
object Edges {

  private case class Spec(
      rel: String, filter: Column, person: Column, stint: Column,
      fallback: Boolean)

  /** (rel_type, src_id, dst_action_id, src_kind) for the 13 actor
    * relations. `events` must be the attributed stream (carrying
    * `lineup_stint_id` / `opp_lineup_stint_id`). */
  def actorEdges(events: DataFrame, playerStints: DataFrame): DataFrame = {
    val t = col("action_type")
    val ls = col("lineup_stint_id")
    val ols = col("opp_lineup_stint_id")
    val specs = Seq(
      Spec("TOOK_SHOT", col("is_shot") || col("is_freethrow"),
        col("person_id"), ls, fallback = false),
      Spec("ASSISTED", col("is_shot") && col("assist_person_id").isNotNull,
        col("assist_person_id"), ls, fallback = false),
      Spec("BLOCKED", col("is_shot") && col("block_person_id").isNotNull,
        col("block_person_id"), ols, fallback = false),
      Spec("COMMITTED_FOUL", t === "foul", col("person_id"), ls, fallback = true),
      Spec("DREW_FOUL", t === "foul" && col("foul_drawn_person_id").isNotNull,
        col("foul_drawn_person_id"), ols, fallback = false),
      Spec("REBOUNDED", t === "rebound", col("person_id"), ls, fallback = true),
      Spec("LOST_BALL", t === "turnover", col("person_id"), ls, fallback = true),
      Spec("STOLE_BALL", t === "turnover" && col("steal_person_id").isNotNull,
        col("steal_person_id"), ols, fallback = false),
      Spec("COMMITTED_VIOLATION", t === "violation", col("person_id"), ls,
        fallback = true),
      Spec("WON_JUMPBALL", t === "jumpball" && col("jumpball_won_person_id").isNotNull,
        col("jumpball_won_person_id"), ls, fallback = false),
      Spec("LOST_JUMPBALL", t === "jumpball" && col("jumpball_lost_person_id").isNotNull,
        col("jumpball_lost_person_id"), ols, fallback = false),
      Spec("RECOVERED_JUMPBALL",
        t === "jumpball" && col("jumpball_recovered_person_id").isNotNull,
        col("jumpball_recovered_person_id"), ls, fallback = true),
      Spec("CALLED_TIMEOUT", t === "timeout", lit(null).cast("long"), ls,
        fallback = true))

    val candidates = specs.map(s =>
      when(s.filter, struct(
        lit(s.rel).as("rel_type"), s.person.cast("long").as("actor"),
        s.stint.as("side_stint"), lit(s.fallback).as("fb"))))

    val tall = events
      .select(col("game_id"), col("action_id"),
        explode(array(candidates: _*)).as("c"))
      .filter(col("c").isNotNull)
      .select(col("game_id"), col("action_id"), col("c.*"))

    val membership = playerStints.select(
      col("game_id"), col("person_id").as("actor"),
      col("player_stint_id"), explode(col("stint_ids")).as("side_stint"))

    // the PyG export caches these edges: a composite build key would pin a page
    LongKeyJoin(tall, membership, Seq("game_id", "actor", "side_stint"),
        "left_outer", guard = "player_stint_id")
      .select(col("game_id"), col("rel_type"),
        coalesce(col("player_stint_id"),
          when(col("fb"), col("side_stint"))).as("src_id"),
        when(col("player_stint_id").isNotNull, "player_stint")
          .otherwise(lit("lineup_stint")).as("src_kind"),
        col("action_id").as("dst_action_id"))
      .filter(col("src_id").isNotNull)
  }

  /** Foul→FreeThrow `CAUSED` links — the reference commented the MERGE
    * out (game.py:455-461) but its exporter queries it (manager:625); we
    * implement the documented intent: a free throw is caused by the foul
    * at the same game clock.
    *
    * Ambiguity rule (real play-by-play has several fouls at one stopped
    * clock — double/technical fouls): each free throw links to exactly ONE
    * foul, the nearest preceding one in action-id order at that clock,
    * falling back to the clock's first foul. When the clock carries a
    * single foul (every derived feed and fixture) this is identical to
    * the plain same-clock join — but it never cross-multiplies. */
  def caused(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = events
      .filter(col("action_type") === "foul" || col("is_freethrow"))
      .select(col("game_id"), col("global_clock"), col("action_id"),
        (col("action_type") === "foul").as("is_foul"))
    val clockW = Window.partitionBy(col("game_id"), col("global_clock"))
    val runW = clockW.orderBy(col("action_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("prev_foul",
        last(when(col("is_foul"), col("action_id")), ignoreNulls = true).over(runW))
      .withColumn("first_foul",
        min(when(col("is_foul"), col("action_id"))).over(clockW))
      .filter(!col("is_foul"))
      .select(col("game_id"), lit("CAUSED").as("rel_type"),
        coalesce(col("prev_foul"), col("first_foul")).as("src_action_id"),
        col("action_id").as("dst_action_id"))
      .filter(col("src_action_id").isNotNull)
  }
}
