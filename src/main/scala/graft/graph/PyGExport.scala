package graft.graph

import graft.nba.{Edges, GamePipeline}
import graft.ops.{LongKeyJoin, TimeKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.cacheLeaf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full `to_pyg` parity — the reference exporter's HeteroData
  * (`/root/reference/src/managers/game.py:324-656`): ten node types with
  * feature vectors and the 19 edge relations its tensors carry, as two
  * DataFrames (nodes + COO edges) directly consumable by a PyG loader.
  *
  * Faithful details:
  *   - foul/shot/freethrow node sets are RESTRICTED to actions whose
  *     actor resolved to a `PlayerStint` (the exporter's
  *     `MATCH (ps)-[:COMMITTED_FOUL|TOOK_SHOT]` heads, manager:519-653);
  *     assisted/blocked/drew/caused edges inherit that restriction via
  *     the `in ps_map` / `in foul_uids` guards (manager:545-551,
  *     604-610, 651-653).
  *   - `next` chains are per-ENTITY (same lineup / same player,
  *     game.py:184-205), `on_court_next` is the court-order chain
  *     (game.py:127-129).
  *   - features mirror manager:399-415 + 519-653: period `[n]`, stints
  *     `[global_clock, local_clock, duration]`, foul
  *     `[global_clock, local_clock]`, shot `[global_clock, local_clock,
  *     x, y, dist, is_2pt, is_3pt, is_made]`, freethrow `[global_clock, local_clock,
  *     is_made]`, constant `[1.0]` for game/team/lineup/player.
  *
  * Plan shape: one pass per source frame. Each pass explodes a source
  * row into typed structs — its node rows for the node table, its edge
  * rows for the edge union — so a source is scanned once per table, not
  * once per type or relation. The node table is five passes: one dedup
  * over the game feed and the lineup stints (the types with the constant
  * feature), then lineup stints, periods, player stints and the strict
  * actor edges. The edge union is six: game feed, periods, one dedup over
  * the lineup stints and the player-stint periods, player stints, strict
  * actor edges, caused. Every codegen stage, exchange and aggregate a
  * pass adds is planned and compiled once per export, so the pass count
  * is what a cold export pays.
  *
  * Dense ids come from one sort of all node types and a per-partition
  * count ([[GraphExport.denseIdsByType]]); the COO translation is two
  * hash joins against the node table, each on one hashed long key
  * ([[graft.ops.LongKeyJoin]]).
  */
object PyGExport {

  /** (nodes, edges): nodes = (node_type, node_id, dense_id, feats);
    * edges = (rel_type, src_type, dst_type, src_id, dst_id, src_idx,
    * dst_idx). */
  def build(p: GamePipeline.Result, gameTeams: DataFrame): (DataFrame, DataFrame) = {
    // `actor`, `nodes` and `coo` live as long as the export (a
    // SessionCache entry), so they are cache leaves (GraftBridge.cacheLeaf)
    val actor = strictActorEdges(p)
    val nodes = GraphExport.denseIdsByType(
      nodeRows(p, gameTeams, actor), "node_type", Seq("__ord", "node_id"))
      .select(col("node_type"), col("node_id"), col("dense_id"), col("feats"))

    val idx = nodes.select(col("node_type"), col("node_id"), col("dense_id"))
    val src = idx.select(col("node_type").as("src_type"), col("node_id").as("src_id"),
      col("dense_id").as("src_idx"))
    val dst = idx.select(col("node_type").as("dst_type"), col("node_id").as("dst_id"),
      col("dense_id").as("dst_idx"))
    // Cached: three consumers (edge export, node-feature query, BFS
    // analytics) read it. The inner joins against the node table also
    // enforce the exported-node restrictions (drew/assisted/blocked/
    // caused only into exported foul/shot/freethrow nodes). The
    // (type, id) string lookups go through LongKeyJoin: broadcast on
    // their natural keys, each would pin a 32 MB hash-map page for as
    // long as this leaf lives.
    val withSrc = LongKeyJoin(edgeRows(p, gameTeams, actor), src,
      Seq("src_type", "src_id"), "inner", guard = "src_idx")
    val coo = cacheLeaf(LongKeyJoin(withSrc, dst, Seq("dst_type", "dst_id"), "inner",
        guard = "dst_idx")
      .select(col("rel_type"), col("src_type"), col("dst_type"),
        col("src_id"), col("dst_id"), col("src_idx"), col("dst_idx")))
    (nodes, coo)
  }

  /** Actor edges resolved to a player stint (the exporter's query heads),
    * each carrying its action's node type (`action_kind`: foul, shot or
    * freethrow; null for other actions) and feature vector (`action_feats`),
    * so the action nodes and the five action relations are map-only
    * passes over this leaf. The node table's dense-id sort fills it; the
    * edge union, planned after, reads it. */
  private[graph] def strictActorEdges(p: GamePipeline.Result): DataFrame = {
    val clocks = Seq(col("global_clock"), TimeKernel.localClock(col("global_clock")))
    val made = when(col("is_made"), 1.0).otherwise(0.0)
    val kind = when(col("action_type") === "foul", "foul")
      .when(col("is_shot"), "shot")
      .when(col("is_freethrow"), "freethrow")
    val feats = when(col("action_type") === "foul", array(clocks: _*))
      .when(col("is_shot"), array(clocks ++ Seq(col("x"), col("y"), col("dist"),
        when(col("action_type") === "2pt", 1.0).otherwise(0.0),
        when(col("action_type") === "3pt", 1.0).otherwise(0.0), made): _*))
      .when(col("is_freethrow"), array(clocks :+ made: _*))
    val ev = p.attributedEvents
      .withColumn("action_kind", kind).withColumn("action_feats", feats)
    cacheLeaf(Edges.actorEdges(ev, p.playerStints, carry = Seq("action_kind", "action_feats"))
      .filter(col("src_kind") === "player_stint"))
  }

  /** (node_type, node_id, feats, __ord): one pass per source. `__ord`
    * orders numeric keys numerically before ids become strings. */
  private[graph] def nodeRows(p: GamePipeline.Result, gameTeams: DataFrame,
      actor: DataFrame): DataFrame = {
    def key(tpe: String, id: Column, ord: Column) =
      struct(lit(tpe).as("node_type"), id.cast("string").as("node_id"),
        ord.cast("double").as("__ord"))
    def node(tpe: Column, id: Column, feats: Column, ord: Column) =
      struct(tpe.as("node_type"), id.cast("string").as("node_id"),
        feats.as("feats"), ord.cast("double").as("__ord"))
    def rows(df: DataFrame, nodes: Column) =
      df.select(explode(nodes).as("n")).select(col("n.*"))
    val stintFeats = array(col("start_clock"), TimeKernel.localClock(col("start_clock")),
      col("end_clock") - col("start_clock"))
    Seq(
      // games, teams, lineups and players carry the constant feature and
      // repeat (a team plays several games, a lineup and a player span
      // several stints): one dedup over their keys
      rows(gameTeams, array(key("game", col("game_id"), col("game_id")),
          key("team", col("home_team_id"), col("home_team_id")),
          key("team", col("away_team_id"), col("away_team_id"))))
        .unionByName(rows(p.lineupStints, concat(
          array(key("lineup", col("lineup_id"), lit(0.0))),
          transform(col("player_ids"), pid => key("player", pid, pid)))))
        .distinct().withColumn("feats", array(lit(1.0))),
      rows(p.lineupStints, array(node(lit("lineup_stint"), col("stint_id"), stintFeats,
        lit(0.0)))),
      rows(p.periods, array(node(lit("period"), col("period_id"),
        array(col("period").cast("double")), lit(0.0)))),
      rows(p.playerStints, array(node(lit("player_stint"), col("player_stint_id"),
        stintFeats, lit(0.0)))),
      // COMMITTED_FOUL heads the foul nodes, TOOK_SHOT the shot and
      // freethrow nodes; each action has at most one such edge
      rows(actor.filter(col("rel_type").isin("COMMITTED_FOUL", "TOOK_SHOT")),
        array(node(col("action_kind"), col("dst_action_id"), col("action_feats"),
          col("dst_action_id")))))
      .reduce(_ unionByName _)
  }

  /** (rel_type, src_type, dst_type, src_id, dst_id) on natural keys: one
    * pass per source. Every (rel_type, src_type, dst_type) comes from one
    * pass, so the union is distinct when each pass is: the passes whose
    * rows repeat (membership fan-outs, periods reached through several
    * stints) share one dedup, the rest are duplicate-free by construction
    * (one stint, player stint, period, game or action row per edge). */
  private[graph] def edgeRows(p: GamePipeline.Result, gameTeams: DataFrame,
      actor: DataFrame): DataFrame = {
    def typedEdge(relType: Column, srcType: String, dstType: Column,
        src: Column, dst: Column) =
      struct(relType.as("rel_type"), lit(srcType).as("src_type"),
        dstType.as("dst_type"), src.cast("string").as("src_id"),
        dst.cast("string").as("dst_id"))
    def edge(relType: String, srcType: String, dstType: String,
        src: Column, dst: Column) = typedEdge(lit(relType), srcType, lit(dstType), src, dst)
    def rows(df: DataFrame, edges: Column) =
      df.select(explode(edges).as("e")).select(col("e.*"))
        .filter(col("dst_id").isNotNull)

    val stints = p.lineupStints
    val ps = p.playerStints
    val periodId = concat_ws("_", col("game_id"),
      TimeKernel.periodOfClock(col("start_clock")))
    val wLineup = Window.partitionBy(col("game_id"), col("lineup_id"))
      .orderBy(col("start_clock"))
    // The court-order and player-run chains need no window: a stint id is
    // game_team_index and a player stint id game_person_run
    // (graft.nba.Stints), both numbered consecutively, so the next link
    // is the id one up. A chain's last link names an id no node has, and
    // the COO lookup's inner join drops it.
    val nextOnCourt = TimeKernel.compositeKey(col("game_id"), col("team_id"),
      col("stint_index") + 1)
    val nextRun = TimeKernel.compositeKey(col("game_id"), col("person_id"),
      col("run_id") + 1)
    // ps -> period: membership routed through the stint's period
    val psPeriods = LongKeyJoin(
      ps.select(col("player_stint_id"), explode(col("stint_ids")).as("stint_id")),
      stints.select(col("stint_id"), periodId.as("period_id")),
      Seq("stint_id"), "inner", guard = "period_id")

    Seq(
      rows(gameTeams, array(
        edge("played_home", "team", "game", col("home_team_id"), col("game_id")),
        edge("played_away", "team", "game", col("away_team_id"), col("game_id")))),
      rows(p.periods, array(
        edge("in_game", "period", "game", col("period_id"), col("game_id")))),
      // has_lineup/member_of repeat across the stints of one lineup, and
      // a player stint spans several stints of one period: these two
      // passes share one dedup
      rows(stints.withColumn("next_same_lineup", lead(col("stint_id"), 1).over(wLineup)),
        concat(array(
          edge("on_court", "lineup", "lineup_stint", col("lineup_id"), col("stint_id")),
          edge("in_period", "lineup_stint", "period", col("stint_id"), periodId),
          edge("next", "lineup_stint", "lineup_stint",
            col("stint_id"), col("next_same_lineup")),
          edge("on_court_next", "lineup_stint", "lineup_stint", col("stint_id"), nextOnCourt),
          edge("has_lineup", "team", "lineup", col("team_id"), col("lineup_id"))),
          transform(col("player_ids"), pid =>
            edge("member_of", "player", "lineup", pid, col("lineup_id")))))
        .unionByName(rows(psPeriods, array(edge("in_period", "player_stint", "period",
          col("player_stint_id"), col("period_id")))))
        .distinct(),
      rows(ps,
        concat(array(
          edge("on_court", "player", "player_stint",
            col("person_id"), col("player_stint_id")),
          edge("next", "player_stint", "player_stint", col("player_stint_id"), nextRun)),
          transform(col("stint_ids"), ls =>
            edge("on_court_with", "player_stint", "lineup_stint",
              col("player_stint_id"), ls)))),
      // the action's kind is the edge's dst type: fouls for
      // committed/drew_foul, shots for assisted/blocked, shot or
      // freethrow for took_shot
      rows(actor.filter(col("rel_type").isin(
          "COMMITTED_FOUL", "DREW_FOUL", "ASSISTED", "BLOCKED", "TOOK_SHOT")),
        array(typedEdge(lower(col("rel_type")), "player_stint", col("action_kind"),
          col("src_id"), col("dst_action_id")))),
      // one foul per free throw
      rows(Edges.caused(p.attributedEvents), array(edge("caused", "foul", "freethrow",
        col("src_action_id"), col("dst_action_id")))))
      .reduce(_ unionByName _)
  }
}
