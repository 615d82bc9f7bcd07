package graft.queries

import graft.Q
import graft.graph.Superstep
import graft.ops.LongKeyJoin
import graft.nba.{GameFeed, GamePipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain-engine queries, oracle-gated end to end: the full game pipeline
  * (periods → stint fold → as-of attribution → score chain → plus-minus →
  * COO export) runs on games DERIVED from the driver's `events.parquet`
  * via the closed-form mapping in [[graft.nba.GameFeed]], and each query
  * carries DuckDB SQL that re-derives the same result independently (the
  * lineup fold's output is closed-form under the feed's rotation scheme —
  * see GameFeed's scaladoc). Deep fixture-level semantics (same-clock
  * batching, rebound claims, OT clocks) stay pinned by GamePipelineSpec.
  */
object Domain {

  private[graft] def pyg(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.SessionCache.once(s, s"domain#$dir#pyg") {
      graft.graph.PyGExport.build(pipeline(s, dir), GameFeed.gameTeams(s, dir))
    }

  private[graft] def pipeline(s: SparkSession, dir: String): GamePipeline.Result =
    graft.SessionCache.once(s, s"domain#$dir#pipeline") {
      // cached: the tiny game->teams dim is referenced by attribution, the
      // season invariant and four export branches — and Spark's cache
      // manager resolves every identical GameFeed.gameTeams plan to this
      // one InMemoryRelation (a cache leaf: it lives as long as this entry)
      GamePipeline.run(s, GameFeed.pbp(s, dir), GameFeed.starters(s, dir),
        org.apache.spark.sql.GraftBridge.cacheLeaf(GameFeed.gameTeams(s, dir)))
    }

  /** Shared oracle CTEs mirroring GameFeed's mapping: the derived event
    * base, game ends, swap ordinals, stint tiling (closed-form lineups),
    * scoring rows, per-stint plus-minus, and player on-court runs. */
  private val PRELUDE =
    """WITH base AS (
      |  SELECT user_id AS game_id, event_id, event_type, value,
      |         CAST(45.0 * row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           - CASE WHEN event_type = 'error' AND value < 100.0 THEN 40.0 ELSE 0.0 END
      |           AS DOUBLE) AS clock,
      |         user_id % 4 + 1 AS home_team_id,
      |         (user_id + 1) % 4 + 1 AS away_team_id,
      |         CASE WHEN event_id % 2 = 0 THEN user_id % 4 + 1
      |              ELSE (user_id + 1) % 4 + 1 END AS team_id,
      |         CASE WHEN event_id % 2 = 0 THEN (user_id + 1) % 4 + 1
      |              ELSE user_id % 4 + 1 END AS opp_id
      |  FROM events
      |),
      |gend AS (
      |  SELECT game_id, max(clock) + 45.0 AS game_end, max(clock) AS max_clock
      |  FROM base GROUP BY 1
      |),
      |subk AS (
      |  SELECT game_id, team_id, clock,
      |         row_number() OVER (PARTITION BY game_id, team_id ORDER BY clock) AS k
      |  FROM base WHERE event_type = 'signup'
      |),
      |teams2 AS (
      |  SELECT DISTINCT game_id, home_team_id AS team_id FROM base
      |  UNION ALL
      |  SELECT DISTINCT game_id, away_team_id FROM base
      |),
      |bounds AS (
      |  SELECT game_id, team_id, clock, k FROM subk
      |  UNION ALL
      |  SELECT game_id, team_id, 0.0, CAST(0 AS BIGINT) FROM teams2
      |),
      |st AS (
      |  SELECT b.game_id, b.team_id,
      |         CAST(b.game_id AS VARCHAR) || '_' || CAST(b.team_id AS VARCHAR)
      |           || '_' || CAST(b.k AS VARCHAR) AS stint_id,
      |         b.k AS j, b.clock AS start_clock,
      |         coalesce(lead(b.clock) OVER (PARTITION BY b.game_id, b.team_id ORDER BY b.clock),
      |                  g.game_end) AS end_clock
      |  FROM bounds b JOIN gend g USING (game_id)
      |),
      |mem AS (
      |  SELECT st.*, st.team_id * 100 + (st.j + i.i) % 10 AS person_id
      |  FROM st CROSS JOIN (SELECT unnest(range(5)) AS i) i
      |),
      |lu AS (
      |  SELECT stint_id, array_to_string(list_sort(list(person_id)), '_') AS lineup_id
      |  FROM mem GROUP BY 1
      |),
      |sc AS (
      |  SELECT game_id, home_team_id, away_team_id, team_id, clock,
      |         2 AS pts, event_id * 4 AS score_id, clock AS oclock
      |  FROM base WHERE event_type = 'click' AND value >= 100.0
      |  UNION ALL
      |  SELECT game_id, home_team_id, away_team_id, team_id, clock,
      |         3, event_id * 4, clock
      |  FROM base WHERE event_type = 'purchase' AND value >= 100.0
      |  UNION ALL
      |  SELECT game_id, home_team_id, away_team_id, opp_id, clock,
      |         1, event_id * 4 + a.i, clock + a.i * CAST(0.1 AS DOUBLE)
      |  FROM base CROSS JOIN (SELECT unnest([1, 2]) AS i) a
      |  WHERE event_type = 'view' AND value < 80.0 AND (event_id + a.i) % 2 = 0
      |),
      |spm AS (
      |  SELECT st.game_id, st.team_id, st.stint_id, st.j, st.start_clock, st.end_clock,
      |         CAST(coalesce(sum(CASE WHEN sc.team_id = st.team_id THEN sc.pts END), 0) AS BIGINT) AS pts_for,
      |         CAST(coalesce(sum(CASE WHEN sc.team_id <> st.team_id THEN sc.pts END), 0) AS BIGINT) AS pts_against
      |  FROM st LEFT JOIN sc
      |    ON sc.game_id = st.game_id
      |   AND sc.clock >= st.start_clock AND sc.clock < st.end_clock
      |  GROUP BY st.game_id, st.team_id, st.stint_id, st.j, st.start_clock, st.end_clock
      |),
      |pev AS (
      |  SELECT game_id, team_id, team_id * 100 + i.i AS person_id, 0.0 AS clock, 1 AS d
      |  FROM teams2 CROSS JOIN (SELECT unnest(range(5)) AS i) i
      |  UNION ALL
      |  SELECT game_id, team_id, team_id * 100 + (k - 1) % 10, clock, -1 FROM subk
      |  UNION ALL
      |  SELECT game_id, team_id, team_id * 100 + (k + 4) % 10, clock, 1 FROM subk
      |),
      |runs0 AS (
      |  SELECT game_id, team_id, person_id, clock, d,
      |         lead(clock) OVER (PARTITION BY game_id, person_id ORDER BY clock) AS nxt,
      |         row_number() OVER (PARTITION BY game_id, person_id ORDER BY clock) AS rn
      |  FROM pev
      |),
      |runs AS (
      |  SELECT r.game_id, r.team_id, r.person_id, (r.rn + 1) // 2 AS run_id,
      |         r.clock AS start_clock, coalesce(r.nxt, g.game_end) AS end_clock,
      |         CAST(r.game_id AS VARCHAR) || '_' || CAST(r.person_id AS VARCHAR)
      |           || '_' || CAST((r.rn + 1) // 2 AS VARCHAR) AS player_stint_id
      |  FROM runs0 r JOIN gend g USING (game_id) WHERE r.d = 1
      |)
      |""".stripMargin

  /** Lineup stints with plus-minus — SURVEY §7.2's flagship slice, now on
    * the events-derived feed with a full DuckDB recomputation as oracle. */
  val q60StintPlusMinus: Q = Q.sql(
    "q60_stint_plusminus",
    PRELUDE +
      """SELECT s.game_id, s.team_id, s.stint_id, lu.lineup_id,
        |       s.start_clock, s.end_clock, s.pts_for, s.pts_against,
        |       s.pts_for - s.pts_against AS plus_minus
        |FROM spm s JOIN lu USING (stint_id)""".stripMargin,
    "lineup stints with plus-minus over the events-derived feed") { (s, dir) =>
    pipeline(s, dir).stintPlusMinus.select(
      col("game_id"), col("team_id"), col("stint_id"), col("lineup_id"),
      col("start_clock"), col("end_clock"),
      col("pts_for"), col("pts_against"), col("plus_minus"))
  }

  val q61ScoreChain: Q = Q.sql(
    "q61_score_chain",
    PRELUDE +
      """SELECT game_id, CAST(p AS BIGINT) AS period, score_id, team_id,
        |       CAST(pts AS BIGINT) AS points, oclock AS clock,
        |       CAST(hs AS BIGINT) AS home_score,
        |       CAST(aw AS BIGINT) AS away_score,
        |       CAST(hs - aw AS BIGINT) AS margin,
        |       CAST(phs AS BIGINT) AS period_home_score,
        |       CAST(pas AS BIGINT) AS period_away_score,
        |       next_score_id
        |FROM (
        |  SELECT *,
        |         sum(CASE WHEN team_id = home_team_id THEN pts ELSE 0 END)
        |           OVER wg AS hs,
        |         sum(CASE WHEN team_id = away_team_id THEN pts ELSE 0 END)
        |           OVER wg AS aw,
        |         sum(CASE WHEN team_id = home_team_id THEN pts ELSE 0 END)
        |           OVER wp AS phs,
        |         sum(CASE WHEN team_id = away_team_id THEN pts ELSE 0 END)
        |           OVER wp AS pas,
        |         lead(score_id) OVER (PARTITION BY game_id ORDER BY oclock, score_id)
        |           AS next_score_id
        |  FROM (
        |    SELECT *,
        |           CASE WHEN clock < 2880 THEN CAST(floor(clock / 720) AS INT) + 1
        |                ELSE 5 + CAST(floor((clock - 2880) / 300) AS INT) END AS p
        |    FROM sc)
        |  WINDOW
        |    wg AS (PARTITION BY game_id ORDER BY oclock, score_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wp AS (PARTITION BY game_id, p ORDER BY oclock, score_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)""".stripMargin,
    "running score reconstruction with NEXT links (A6/W7 windows)") { (s, dir) =>
    pipeline(s, dir).scoreChain
      .withColumn("period", col("period").cast("long"))
      .withColumn("points", col("points").cast("long"))
  }

  val q62PlayerStints: Q = Q.sql(
    "q62_player_stints",
    PRELUDE +
      """SELECT r.game_id, r.team_id, r.person_id, r.run_id,
        |       r.start_clock, r.end_clock,
        |       CAST(count(s.stint_id) AS BIGINT) AS n_lineup_stints,
        |       r.player_stint_id,
        |       CAST(sum(s.pts_for - s.pts_against) AS BIGINT) AS plus_minus
        |FROM runs r JOIN spm s
        |  ON s.game_id = r.game_id AND s.team_id = r.team_id
        | AND s.start_clock >= r.start_clock AND s.start_clock < r.end_clock
        |GROUP BY r.game_id, r.team_id, r.person_id, r.run_id,
        |         r.start_clock, r.end_clock, r.player_stint_id""".stripMargin,
    "player-stint sessionization with rolled-up plus-minus") { (s, dir) =>
    val p = pipeline(s, dir)
    p.playerStints.join(
      p.playerPlusMinus.select(col("player_stint_id"), col("plus_minus")),
      Seq("player_stint_id"), "left_outer")
      .drop("stint_ids")
      .select(col("game_id"), col("team_id"), col("person_id"), col("run_id"),
        col("start_clock"), col("end_clock"), col("n_lineup_stints"),
        col("player_stint_id"), col("plus_minus"))
  }

  /** Season-scale invariant over every derived game: Σ stint plus-minus
    * per team must equal the signed final margin (SURVEY §5.2.3). */
  val q63SeasonInvariant: Q = Q.sql(
    "q63_season_invariant",
    PRELUDE +
      """, tm AS (
        |  SELECT game_id, team_id,
        |         CAST(sum(pts_for - pts_against) AS BIGINT) AS pm_sum
        |  FROM spm GROUP BY 1, 2
        |),
        |mg AS (
        |  SELECT game_id,
        |         CAST(sum(CASE WHEN team_id = home_team_id THEN pts ELSE -pts END) AS BIGINT) AS m
        |  FROM sc GROUP BY 1
        |)
        |SELECT t.game_id, t.team_id, t.pm_sum,
        |       CAST(CASE WHEN t.team_id = t.game_id % 4 + 1
        |                 THEN coalesce(mg.m, 0) ELSE -coalesce(mg.m, 0) END AS BIGINT) AS expected,
        |       t.pm_sum = (CASE WHEN t.team_id = t.game_id % 4 + 1
        |                        THEN coalesce(mg.m, 0) ELSE -coalesce(mg.m, 0) END) AS ok
        |FROM tm t LEFT JOIN mg USING (game_id)""".stripMargin,
    "per game: sum(stint +-) == signed final margin, as data") { (s, dir) =>
    val p = pipeline(s, dir)
    val teams = GameFeed.gameTeams(s, dir)
    val pm = p.stintPlusMinus
      .groupBy(col("game_id"), col("team_id"))
      .agg(sum(col("plus_minus")).as("pm_sum"))
    val margin = p.scoreChain
      .join(teams, Seq("game_id"))
      .groupBy(col("game_id"))
      .agg(sum(when(col("team_id") === col("home_team_id"), col("points"))
        .otherwise(-col("points"))).as("final_margin"))
    pm.join(teams, Seq("game_id"))
      .join(margin, Seq("game_id"), "left_outer")
      .withColumn("final_margin", coalesce(col("final_margin"), lit(0L)))
      .withColumn("expected",
        when(col("team_id") === col("home_team_id"), col("final_margin"))
          .otherwise(-col("final_margin")))
      .select(col("game_id"), col("team_id"), col("pm_sum"),
        col("expected"), (col("pm_sum") === col("expected")).as("ok"))
  }

  /** Shared PyG-export CTEs: period tiling, strict (player-stint-
    * resolved) action edges, restricted action node sets, the 10 node
    * tables with dense ids + feature vectors, and all 19 relations the
    * reference HeteroData carries. PN/PSTART are inlined closed forms of
    * TimeKernel.periodOfClock / periodStartOffset. */
  private def pn(c: String): String =
    s"CASE WHEN $c < 2880 THEN CAST(floor($c / 720) AS INT) + 1 " +
      s"ELSE 5 + CAST(floor(($c - 2880) / 300) AS INT) END"
  private def pstart(p: String): String =
    s"CASE WHEN $p <= 4 THEN CAST($p - 1 AS DOUBLE) * 720 " +
      s"ELSE 2880 + CAST($p - 5 AS DOUBLE) * 300 END"
  private def localc(c: String): String = s"$c - (" + pstart("(" + pn(c) + ")") + ")"

  private val PYG =
    s""", np AS (
      |  SELECT game_id, game_end,
      |         ${pn("max_clock")} AS n_periods
      |  FROM gend
      |),
      |pper AS (
      |  SELECT game_id, p.p AS pnum,
      |         CAST(game_id AS VARCHAR) || '_' || CAST(p.p AS VARCHAR) AS period_id,
      |         ${pstart("p.p")} AS pstartc,
      |         CASE WHEN p.p < n_periods THEN ${pstart("(p.p + 1)")}
      |              ELSE game_end END AS pendc
      |  FROM np, UNNEST(range(1, np.n_periods + 1)) AS p(p)
      |),
      |shotsB AS (
      |  SELECT game_id, event_id, clock, team_id, opp_id, value, event_type
      |  FROM base WHERE event_type IN ('click', 'purchase')
      |),
      |shooterE AS (
      |  SELECT b.game_id, b.event_id * 4 AS action_id, b.clock, b.event_type,
      |         b.value, r.player_stint_id
      |  FROM shotsB b JOIN runs r ON r.game_id = b.game_id
      |    AND r.person_id = b.team_id * 100 + b.event_id % 10
      |    AND r.start_clock <= b.clock AND b.clock < r.end_clock
      |),
      |ftB AS (
      |  SELECT game_id, event_id, clock, opp_id,
      |         opp_id * 100 + (event_id + 3) % 10 AS shooter
      |  FROM base WHERE event_type = 'view' AND value < 80.0
      |),
      |ftE AS (
      |  SELECT f.game_id, f.event_id * 4 + a.i AS action_id, f.clock,
      |         f.event_id, a.i, r.player_stint_id
      |  FROM ftB f CROSS JOIN (SELECT unnest([1, 2]) AS i) a
      |  JOIN runs r ON r.game_id = f.game_id AND r.person_id = f.shooter
      |    AND r.start_clock <= f.clock AND f.clock < r.end_clock
      |),
      |foulB AS (
      |  SELECT game_id, event_id, clock, team_id, opp_id
      |  FROM base WHERE event_type = 'view' AND value < 80.0
      |),
      |foulE AS (
      |  SELECT f.game_id, f.event_id * 4 AS action_id, f.clock, f.event_id,
      |         r.player_stint_id
      |  FROM foulB f JOIN runs r ON r.game_id = f.game_id
      |    AND r.person_id = f.team_id * 100 + f.event_id % 10
      |    AND r.start_clock <= f.clock AND f.clock < r.end_clock
      |),
      |drewE AS (
      |  SELECT f.game_id, f.event_id * 4 AS action_id, r.player_stint_id
      |  FROM foulB f JOIN runs r ON r.game_id = f.game_id
      |    AND r.person_id = f.opp_id * 100 + (f.event_id + 3) % 10
      |    AND r.start_clock <= f.clock AND f.clock < r.end_clock
      |  WHERE f.event_id * 4 IN (SELECT action_id FROM foulE)
      |),
      |assistE AS (
      |  SELECT b.game_id, b.event_id * 4 AS action_id, r.player_stint_id
      |  FROM shotsB b JOIN runs r ON r.game_id = b.game_id
      |    AND r.person_id = b.team_id * 100 + (b.event_id + 1) % 10
      |    AND r.start_clock <= b.clock AND b.clock < r.end_clock
      |  WHERE b.value >= 100.0 AND b.event_id % 3 = 0
      |    AND b.event_id * 4 IN (SELECT action_id FROM shooterE)
      |),
      |blockE AS (
      |  SELECT b.game_id, b.event_id * 4 AS action_id, r.player_stint_id
      |  FROM shotsB b JOIN runs r ON r.game_id = b.game_id
      |    AND r.person_id = b.opp_id * 100 + (b.event_id + 2) % 10
      |    AND r.start_clock <= b.clock AND b.clock < r.end_clock
      |  WHERE b.value < 100.0 AND b.event_id % 5 = 0
      |    AND b.event_id * 4 IN (SELECT action_id FROM shooterE)
      |),
      |causedE AS (
      |  SELECT f.game_id, f.action_id AS src_action, ft.action_id AS dst_action
      |  FROM (SELECT DISTINCT game_id, action_id, event_id FROM foulE) f
      |  JOIN (SELECT DISTINCT game_id, action_id, event_id FROM ftE) ft
      |    ON ft.game_id = f.game_id AND ft.event_id = f.event_id
      |),
      |foulNd AS (SELECT DISTINCT game_id, action_id, clock FROM foulE),
      |shotNd AS (
      |  SELECT DISTINCT game_id, action_id, clock, event_type, value,
      |         CAST((action_id // 4) % 50 - 25 AS DOUBLE) AS sx,
      |         CAST((action_id // 4) % 35 AS DOUBLE) AS sy
      |  FROM shooterE),
      |ftNd AS (SELECT DISTINCT game_id, action_id, clock, event_id, i FROM ftE),
      |nextE AS (
      |  SELECT a.stint_id AS src, b.stint_id AS dst
      |  FROM st a JOIN st b
      |    ON a.game_id = b.game_id AND a.team_id = b.team_id AND b.j = a.j + 1
      |),
      |ocwE AS (
      |  SELECT r.player_stint_id AS src, s.stint_id AS dst, s.game_id, s.start_clock
      |  FROM runs r JOIN st s
      |    ON s.game_id = r.game_id AND s.team_id = r.team_id
      |   AND s.start_clock >= r.start_clock AND s.start_clock < r.end_clock
      |),
      |nodes AS (
      |  SELECT 'game' AS node_type, CAST(game_id AS VARCHAR) AS node_id,
      |         row_number() OVER (ORDER BY game_id) - 1 AS dense_id,
      |         [CAST(1 AS DOUBLE)] AS feats
      |  FROM gend
      |  UNION ALL
      |  SELECT 'team', CAST(team_id AS VARCHAR),
      |         row_number() OVER (ORDER BY team_id) - 1, [CAST(1 AS DOUBLE)]
      |  FROM (SELECT DISTINCT team_id FROM teams2)
      |  UNION ALL
      |  SELECT 'period', period_id, row_number() OVER (ORDER BY period_id) - 1,
      |         [CAST(pnum AS DOUBLE)]
      |  FROM pper
      |  UNION ALL
      |  SELECT 'lineup', lineup_id, row_number() OVER (ORDER BY lineup_id) - 1,
      |         [CAST(1 AS DOUBLE)]
      |  FROM (SELECT DISTINCT lineup_id FROM lu)
      |  UNION ALL
      |  SELECT 'player', CAST(person_id AS VARCHAR),
      |         row_number() OVER (ORDER BY person_id) - 1, [CAST(1 AS DOUBLE)]
      |  FROM (SELECT DISTINCT person_id FROM mem)
      |  UNION ALL
      |  SELECT 'lineup_stint', stint_id, row_number() OVER (ORDER BY stint_id) - 1,
      |         [CAST(start_clock AS DOUBLE), CAST(${localc("start_clock")} AS DOUBLE),
      |          CAST(end_clock - start_clock AS DOUBLE)]
      |  FROM st
      |  UNION ALL
      |  SELECT 'player_stint', player_stint_id,
      |         row_number() OVER (ORDER BY player_stint_id) - 1,
      |         [CAST(start_clock AS DOUBLE), CAST(${localc("start_clock")} AS DOUBLE),
      |          CAST(end_clock - start_clock AS DOUBLE)]
      |  FROM runs
      |  UNION ALL
      |  SELECT 'foul', CAST(action_id AS VARCHAR),
      |         row_number() OVER (ORDER BY action_id) - 1,
      |         [CAST(clock AS DOUBLE), CAST(${localc("clock")} AS DOUBLE)]
      |  FROM foulNd
      |  UNION ALL
      |  SELECT 'shot', CAST(action_id AS VARCHAR),
      |         row_number() OVER (ORDER BY action_id) - 1,
      |         [CAST(clock AS DOUBLE), CAST(${localc("clock")} AS DOUBLE),
      |          sx, sy, sqrt(sx * sx + sy * sy),
      |          CASE WHEN event_type = 'click' THEN CAST(1 AS DOUBLE) ELSE 0 END,
      |          CASE WHEN event_type = 'purchase' THEN CAST(1 AS DOUBLE) ELSE 0 END,
      |          CASE WHEN value >= 100.0 THEN CAST(1 AS DOUBLE) ELSE 0 END]
      |  FROM shotNd
      |  UNION ALL
      |  SELECT 'freethrow', CAST(action_id AS VARCHAR),
      |         row_number() OVER (ORDER BY action_id) - 1,
      |         [CAST(clock AS DOUBLE), CAST(${localc("clock")} AS DOUBLE),
      |          CASE WHEN (event_id + i) % 2 = 0 THEN CAST(1 AS DOUBLE) ELSE 0 END]
      |  FROM ftNd
      |),
      |rels AS (
      |  SELECT 'played_home' AS rel_type, 'team' AS src_type, 'game' AS dst_type,
      |         CAST(game_id % 4 + 1 AS VARCHAR) AS src_id,
      |         CAST(game_id AS VARCHAR) AS dst_id
      |  FROM gend
      |  UNION ALL
      |  SELECT 'played_away', 'team', 'game',
      |         CAST((game_id + 1) % 4 + 1 AS VARCHAR), CAST(game_id AS VARCHAR)
      |  FROM gend
      |  UNION ALL
      |  SELECT 'in_game', 'period', 'game', period_id, CAST(game_id AS VARCHAR)
      |  FROM pper
      |  UNION ALL
      |  SELECT DISTINCT 'has_lineup', 'team', 'lineup',
      |         CAST(s.team_id AS VARCHAR), l.lineup_id
      |  FROM st s JOIN lu l USING (stint_id)
      |  UNION ALL
      |  SELECT DISTINCT 'member_of', 'player', 'lineup',
      |         CAST(m.person_id AS VARCHAR), l.lineup_id
      |  FROM mem m JOIN lu l USING (stint_id)
      |  UNION ALL
      |  SELECT 'on_court', 'lineup', 'lineup_stint', l.lineup_id, s.stint_id
      |  FROM st s JOIN lu l USING (stint_id)
      |  UNION ALL
      |  SELECT 'on_court', 'player', 'player_stint',
      |         CAST(person_id AS VARCHAR), player_stint_id
      |  FROM runs
      |  UNION ALL
      |  SELECT 'on_court_with', 'player_stint', 'lineup_stint', src, dst FROM ocwE
      |  UNION ALL
      |  SELECT 'in_period', 'lineup_stint', 'period', stint_id,
      |         CAST(game_id AS VARCHAR) || '_' ||
      |           CAST((${pn("start_clock")}) AS VARCHAR)
      |  FROM st
      |  UNION ALL
      |  SELECT DISTINCT 'in_period', 'player_stint', 'period', e.src,
      |         CAST(e.game_id AS VARCHAR) || '_' ||
      |           CAST((${pn("e.start_clock")}) AS VARCHAR)
      |  FROM ocwE e
      |  UNION ALL
      |  SELECT 'next', 'lineup_stint', 'lineup_stint', stint_id, nxt FROM (
      |    SELECT s.stint_id,
      |           lead(s.stint_id) OVER (PARTITION BY s.game_id, l.lineup_id
      |             ORDER BY s.start_clock) AS nxt
      |    FROM st s JOIN lu l USING (stint_id)
      |  ) WHERE nxt IS NOT NULL
      |  UNION ALL
      |  SELECT 'next', 'player_stint', 'player_stint', player_stint_id, nxt FROM (
      |    SELECT player_stint_id,
      |           lead(player_stint_id) OVER (PARTITION BY game_id, person_id
      |             ORDER BY start_clock) AS nxt
      |    FROM runs
      |  ) WHERE nxt IS NOT NULL
      |  UNION ALL
      |  SELECT 'on_court_next', 'lineup_stint', 'lineup_stint', src, dst FROM nextE
      |  UNION ALL
      |  SELECT 'committed_foul', 'player_stint', 'foul',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM foulE
      |  UNION ALL
      |  SELECT 'drew_foul', 'player_stint', 'foul',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM drewE
      |  UNION ALL
      |  SELECT 'took_shot', 'player_stint', 'shot',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM shooterE
      |  UNION ALL
      |  SELECT 'took_shot', 'player_stint', 'freethrow',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM ftE
      |  UNION ALL
      |  SELECT 'assisted', 'player_stint', 'shot',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM assistE
      |  UNION ALL
      |  SELECT 'blocked', 'player_stint', 'shot',
      |         player_stint_id, CAST(action_id AS VARCHAR)
      |  FROM blockE
      |  UNION ALL
      |  SELECT 'caused', 'foul', 'freethrow',
      |         CAST(src_action AS VARCHAR), CAST(dst_action AS VARCHAR)
      |  FROM causedE
      |)
      |""".stripMargin

  /** Full `to_pyg` parity (S10/§3.3, manager:324-656): all 19 relations
    * of the reference HeteroData in dense-id COO form, natural keys kept
    * alongside so the oracle pins both edge sets and id assignment. */
  val q64GraphExport: Q = Q.sql(
    "q64_graph_export",
    PRELUDE + PYG +
      """SELECT r.rel_type, r.src_type, r.dst_type, r.src_id, r.dst_id,
        |       s.dense_id AS src_idx, d.dense_id AS dst_idx
        |FROM rels r
        |JOIN nodes s ON s.node_type = r.src_type AND s.node_id = r.src_id
        |JOIN nodes d ON d.node_type = r.dst_type AND d.node_id = r.dst_id""".stripMargin,
    "full PyG HeteroData edge export: 19 relations, dense-id COO") { (s, dir) =>
    pyg(s, dir)._2
  }

  /** PyG node tables: the 10 node types with dense ids and the reference
    * exporter's feature vectors (manager:399-415, 519-653), exploded to
    * one row per (node, feature index) — scalar cells only, so any
    * engine's compare can hash them (binary/array cells broke the r1
    * driver on q41). */
  val q69PygNodes: Q = Q.sql(
    "q69_pyg_nodes",
    PRELUDE + PYG +
      """SELECT node_type, node_id, dense_id,
        |       CAST(u.fi - 1 AS BIGINT) AS feat_idx, feats[u.fi] AS feat_value
        |FROM nodes, UNNEST(range(1, len(feats) + 1)) AS u(fi)""".stripMargin,
    "PyG node tables: dense ids + feature vectors, one row per cell") { (s, dir) =>
    pyg(s, dir)._1.select(col("node_type"), col("node_id"), col("dense_id"),
      posexplode(col("feats")).as(Seq("feat_idx", "feat_value")))
      .withColumn("feat_idx", col("feat_idx").cast("long"))
  }

  /** Periods pipeline (reference game.py:11-51 + manager:126-135): bounds
    * from PBP period events, Q/OT labels, NEXT chain. The oracle reuses
    * the PYG block's `pper` tiling CTE — one closed form, no second
    * hand-expanded copy to drift. */
  val q66Periods: Q = Q.sql(
    "q66_periods",
    PRELUDE + PYG +
      """SELECT game_id, CAST(pnum AS BIGINT) AS period, period_id,
        |       CAST(pstartc AS DOUBLE) AS start_clock,
        |       CAST(pendc AS DOUBLE) AS end_clock,
        |       CASE WHEN pnum <= 4 THEN 'Q' || CAST(pnum AS VARCHAR) ELSE 'OT' END AS label,
        |       pnum > 4 AS is_overtime,
        |       lead(period_id) OVER (PARTITION BY game_id ORDER BY pnum) AS next_period_id,
        |       CAST(lead(pstartc) OVER (PARTITION BY game_id ORDER BY pnum) - pstartc
        |         AS DOUBLE) AS time_delta
        |FROM pper""".stripMargin,
    "period bounds/labels/NEXT derived from PBP period events") { (s, dir) =>
    pipeline(s, dir).periods
      .withColumn("period", col("period").cast("long"))
      .select(col("game_id"), col("period"), col("period_id"),
        col("start_clock"), col("end_clock"), col("label"),
        col("is_overtime"), col("next_period_id"), col("time_delta"))
  }

  /** Season schedule NEXT chain (reference season.py:19-27): each team's
    * games ordered by start time, linked with `time_since` (µs). */
  val q65SeasonChain: Q = Q.sql(
    "q65_season_chain",
    """WITH sched AS (
      |  SELECT user_id AS game_id, min(ts) AS game_time,
      |         user_id % 4 + 1 AS home_team_id,
      |         (user_id + 1) % 4 + 1 AS away_team_id
      |  FROM events GROUP BY 1, 3, 4
      |),
      |per_team AS (
      |  SELECT home_team_id AS team_id, game_id, game_time FROM sched
      |  UNION ALL
      |  SELECT away_team_id, game_id, game_time FROM sched
      |)
      |SELECT team_id, game_id, game_time,
      |       lead(game_id) OVER w AS next_game_id,
      |       epoch_us(lead(game_time) OVER w) - epoch_us(game_time) AS time_since_us
      |FROM per_team
      |WINDOW w AS (PARTITION BY team_id ORDER BY game_time, game_id)""".stripMargin,
    "per-team game NEXT chain with time_since (W1 over the schedule)") { (s, dir) =>
    graft.nba.Season.nextGameChain(GameFeed.schedule(s, dir))
  }

  /** The actor-edge inventory (J7+J8+J9 composed): all 13 player-actor
    * relations resolved to the player stint ON_COURT_WITH the side's live
    * lineup stint, with the reference's lineup-stint fallback. */
  val q67ActorEdges: Q = Q.sql(
    "q67_actor_edges",
    PRELUDE +
      """, ecand AS (
        |  SELECT 'TOOK_SHOT' AS rel_type, game_id, event_id*4 AS action_id, clock,
        |         team_id AS side, team_id*100 + event_id%10 AS person, FALSE AS fb
        |  FROM base WHERE event_type IN ('click','purchase')
        |  UNION ALL
        |  SELECT 'TOOK_SHOT', game_id, event_id*4 + a.i, clock, opp_id,
        |         opp_id*100 + (event_id+3)%10, FALSE
        |  FROM base CROSS JOIN (SELECT unnest([1,2]) AS i) a
        |  WHERE event_type='view' AND value < 80.0
        |  UNION ALL
        |  SELECT 'ASSISTED', game_id, event_id*4, clock, team_id,
        |         team_id*100 + (event_id+1)%10, FALSE
        |  FROM base WHERE event_type IN ('click','purchase') AND value >= 100.0
        |    AND event_id % 3 = 0
        |  UNION ALL
        |  SELECT 'BLOCKED', game_id, event_id*4, clock, opp_id,
        |         opp_id*100 + (event_id+2)%10, FALSE
        |  FROM base WHERE event_type IN ('click','purchase') AND value < 100.0
        |    AND event_id % 5 = 0
        |  UNION ALL
        |  SELECT 'COMMITTED_FOUL', game_id, event_id*4, clock, team_id,
        |         team_id*100 + event_id%10, TRUE
        |  FROM base WHERE event_type='view' AND value < 80.0
        |  UNION ALL
        |  SELECT 'DREW_FOUL', game_id, event_id*4, clock, opp_id,
        |         opp_id*100 + (event_id+3)%10, FALSE
        |  FROM base WHERE event_type='view' AND value < 80.0
        |  UNION ALL
        |  SELECT 'REBOUNDED', game_id, event_id*4, clock, team_id,
        |         team_id*100 + event_id%10, TRUE
        |  FROM base WHERE event_type='error' AND value < 100.0
        |  UNION ALL
        |  SELECT 'LOST_BALL', game_id, event_id*4, clock, team_id,
        |         team_id*100 + event_id%10, TRUE
        |  FROM base WHERE event_type='view' AND value >= 80.0 AND value < 160.0
        |  UNION ALL
        |  SELECT 'STOLE_BALL', game_id, event_id*4, clock, opp_id,
        |         opp_id*100 + (event_id+5)%10, FALSE
        |  FROM base WHERE event_type='view' AND value >= 80.0 AND value < 160.0
        |    AND event_id % 4 = 0
        |  UNION ALL
        |  SELECT 'COMMITTED_VIOLATION', game_id, event_id*4, clock, team_id,
        |         team_id*100 + event_id%10, TRUE
        |  FROM base WHERE event_type='error' AND value >= 100.0 AND value < 180.0
        |  UNION ALL
        |  SELECT 'WON_JUMPBALL', game_id, event_id*4, clock, team_id,
        |         team_id*100 + event_id%10, FALSE
        |  FROM base WHERE event_type='error' AND value >= 180.0
        |  UNION ALL
        |  SELECT 'LOST_JUMPBALL', game_id, event_id*4, clock, opp_id,
        |         opp_id*100 + (event_id+1)%10, FALSE
        |  FROM base WHERE event_type='error' AND value >= 180.0
        |  UNION ALL
        |  SELECT 'RECOVERED_JUMPBALL', game_id, event_id*4, clock, team_id,
        |         team_id*100 + (event_id+7)%10, TRUE
        |  FROM base WHERE event_type='error' AND value >= 180.0
        |  UNION ALL
        |  SELECT 'CALLED_TIMEOUT', game_id, event_id*4, clock, team_id,
        |         CAST(NULL AS BIGINT), TRUE
        |  FROM base WHERE event_type='view' AND value >= 160.0
        |),
        |eres AS (
        |  SELECT e.*, s.stint_id AS ls_id
        |  FROM ecand e JOIN st s
        |    ON s.game_id = e.game_id AND s.team_id = e.side
        |   AND s.start_clock <= e.clock AND e.clock < s.end_clock
        |)
        |SELECT r0.game_id, r0.rel_type,
        |       coalesce(r.player_stint_id, CASE WHEN r0.fb THEN r0.ls_id END) AS src_id,
        |       CASE WHEN r.player_stint_id IS NOT NULL THEN 'player_stint'
        |            ELSE 'lineup_stint' END AS src_kind,
        |       r0.action_id AS dst_action_id
        |FROM eres r0 LEFT JOIN runs r
        |  ON r.game_id = r0.game_id AND r.person_id = r0.person
        | AND r.start_clock <= r0.clock AND r0.clock < r.end_clock
        |WHERE coalesce(r.player_stint_id, CASE WHEN r0.fb THEN r0.ls_id END) IS NOT NULL""".stripMargin,
    "the 13-relation actor-edge inventory via ON_COURT_WITH membership") { (s, dir) =>
    val p = pipeline(s, dir)
    graft.nba.Edges.actorEdges(p.attributedEvents, p.playerStints)
  }

  /** Causal action links: rebound→missed-shot claims (J10) and the
    * foul→freethrow CAUSED link the reference intended (§2.11). */
  val q68CausalLinks: Q = Q.sql(
    "q68_causal_links",
    PRELUDE +
      """, reb AS (
        |  SELECT game_id, event_id*4 AS rebound_id, clock FROM base
        |  WHERE event_type='error' AND value < 100.0
        |),
        |ms AS (
        |  SELECT game_id, event_id*4 AS shot_id, clock AS sclock FROM base
        |  WHERE event_type IN ('click','purchase') AND value < 100.0
        |),
        |rl0 AS (
        |  SELECT r.game_id, r.rebound_id, r.clock, max(m.sclock) AS best_clock
        |  FROM reb r JOIN ms m ON m.game_id = r.game_id
        |   AND m.sclock <= r.clock AND r.clock - m.sclock <= 10.0
        |  GROUP BY 1, 2, 3
        |),
        |rl1 AS (
        |  SELECT r0.game_id, r0.rebound_id, r0.clock, m.shot_id
        |  FROM rl0 r0 JOIN ms m
        |    ON m.game_id = r0.game_id AND m.sclock = r0.best_clock
        |),
        |rl AS (
        |  SELECT game_id, rebound_id, shot_id,
        |         row_number() OVER (PARTITION BY game_id, shot_id ORDER BY clock, rebound_id) AS cr
        |  FROM rl1
        |)
        |SELECT game_id, 'REBOUND_OF' AS rel_type,
        |       rebound_id AS src_action_id, shot_id AS dst_action_id
        |FROM rl WHERE cr = 1
        |UNION ALL
        |SELECT game_id, 'CAUSED', event_id*4, event_id*4 + a.i
        |FROM base CROSS JOIN (SELECT unnest([1,2]) AS i) a
        |WHERE event_type='view' AND value < 80.0""".stripMargin,
    "rebound->missed-shot claims + foul->freethrow CAUSED links") { (s, dir) =>
    val p = pipeline(s, dir)
    val rebs = p.reboundLinks.select(
      col("game_id"), lit("REBOUND_OF").as("rel_type"),
      col("rebound_id").as("src_action_id"), col("shot_id").as("dst_action_id"))
    rebs.unionByName(graft.nba.Edges.caused(p.attributedEvents))
  }

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")
  private def cycSql(xs: Seq[String]): String =
    s"list_extract([${sqlList(xs)}], CAST(event_id % ${xs.size} AS INT) + 1)"

  /** The multi-label type system (F9 + SURVEY §1.1): 14 shot-style
    * flags + the complete 31-label per-family inventory (subtype AND
    * descriptor sourced, equality semantics like the reference's
    * FOREACH-SET rules) + FT attempt parsing — flags generated from the
    * same label tables [[graft.nba.Events]] uses, so query and engine
    * can't drift. */
  val q70LabelFlags: Q = {
    val styleFlags = graft.nba.Events.shotStyleLabels.map { case (flag, needle) =>
      s"(atype IN ('2pt', '3pt') AND contains(coalesce(dsc, ''), '$needle')) AS $flag"
    }
    val famFlags = graft.nba.Events.labelRules.map { r =>
      val conds =
        r.subEq.map(v => s"coalesce(sub, '') = '$v'") ++
          r.descEq.map(v => s"coalesce(dsc, '') = '$v'")
      s"(atype = '${r.family}' AND (${conds.mkString(" OR ")})) AS ${r.flag}"
    }
    Q.sql(
      "q70_label_flags",
      PRELUDE +
        s""", acts AS (
          |  SELECT game_id, event_id * 4 AS action_id,
          |         CASE WHEN event_type = 'click' THEN '2pt'
          |              WHEN event_type = 'purchase' THEN '3pt'
          |              WHEN event_type = 'error' AND value < 100 THEN 'rebound'
          |              WHEN event_type = 'error' AND value < 180 THEN 'violation'
          |              WHEN event_type = 'error' THEN 'jumpball'
          |              WHEN value < 80 THEN 'foul'
          |              WHEN value < 160 THEN 'turnover'
          |              ELSE 'timeout' END AS atype,
          |         CASE WHEN event_type IN ('click', 'purchase')
          |              THEN list_extract([${sqlList(GameFeed.shotStyles)}],
          |                                CAST(event_id % 14 AS INT) + 1)
          |              WHEN event_type = 'error' AND value >= 180 THEN
          |                ${cycSql(GameFeed.jumpballDescs)}
          |              WHEN event_type = 'view' AND value < 80 THEN
          |                ${cycSql(GameFeed.foulDescs)}
          |              WHEN event_type = 'view' AND value < 160 THEN
          |                ${cycSql(GameFeed.turnoverDescs)}
          |              END AS dsc,
          |         CASE WHEN event_type = 'error' AND value < 100 THEN
          |                CASE WHEN event_id % 2 = 0 THEN 'defensive' ELSE 'offensive' END
          |              WHEN event_type = 'error' AND value < 180 THEN
          |                ${cycSql(GameFeed.violationSubs)}
          |              WHEN event_type = 'error' THEN 'recovered'
          |              WHEN event_type = 'view' AND value < 80 THEN
          |                ${cycSql(GameFeed.foulSubs)}
          |              WHEN event_type = 'view' AND value < 160 THEN
          |                ${cycSql(GameFeed.turnoverSubs)}
          |              WHEN event_type = 'view' THEN
          |                CASE WHEN event_id % 2 = 0 THEN 'full' ELSE 'short' END
          |              END AS sub,
          |         CAST(NULL AS INT) AS att
          |  FROM base WHERE event_type <> 'signup'
          |  UNION ALL
          |  SELECT game_id, event_id * 4 + a.i, 'freethrow', NULL,
          |         CAST(a.i AS VARCHAR) || ' of 2', a.i
          |  FROM base CROSS JOIN (SELECT unnest([1, 2]) AS i) a
          |  WHERE event_type = 'view' AND value < 80.0
          |)
          |SELECT game_id, action_id, atype AS action_type,
          |  ${(styleFlags ++ famFlags).mkString(",\n          |  ")},
          |  CAST(att AS BIGINT) AS ft_attempt,
          |  CAST(CASE WHEN att IS NOT NULL THEN 2 END AS BIGINT) AS ft_total,
          |  coalesce(atype = 'freethrow' AND att = 2, false) AS is_last_ft
          |FROM acts""".stripMargin,
      "multi-label type system: 14 shot styles + 31 family labels + FT parse") { (s, dir) =>
      val p = pipeline(s, dir)
      val flags = (graft.nba.Events.shotStyleLabels.map(_._1) ++
        graft.nba.Events.labelRules.map(_.flag)).map(col)
      p.attributedEvents.select(
        Seq(col("game_id"), col("action_id"), col("action_type")) ++ flags ++
          Seq(col("ft_attempt").cast("long").as("ft_attempt"),
            col("ft_total").cast("long").as("ft_total"),
            col("is_last_ft")): _*)
    }
  }

  /** Priority-ordered action timeline with NEXT links (W6 + W1,
    * reference MERGE_NEXT_ACTION game.py:744-769): every action of a
    * game sequenced by (order_clock, family priority, id). */
  val q71ActionTimeline: Q = Q.sql(
    "q71_action_timeline",
    PRELUDE +
      """, tl AS (
        |  SELECT game_id, event_id * 4 AS action_id,
        |         CASE WHEN event_type = 'click' THEN '2pt'
        |              WHEN event_type = 'purchase' THEN '3pt'
        |              WHEN event_type = 'error' AND value < 100 THEN 'rebound'
        |              WHEN event_type = 'error' AND value < 180 THEN 'violation'
        |              WHEN event_type = 'error' THEN 'jumpball'
        |              WHEN value < 80 THEN 'foul'
        |              WHEN value < 160 THEN 'turnover'
        |              ELSE 'timeout' END AS atype,
        |         clock AS oclock
        |  FROM base WHERE event_type <> 'signup'
        |  UNION ALL
        |  SELECT game_id, event_id * 4 + a.i, 'freethrow',
        |         clock + a.i * CAST(0.1 AS DOUBLE)
        |  FROM base CROSS JOIN (SELECT unnest([1, 2]) AS i) a
        |  WHERE event_type = 'view' AND value < 80.0
        |)
        |SELECT game_id, action_id, CAST(seq AS BIGINT) AS seq, next_action_id
        |FROM (
        |  SELECT game_id, action_id,
        |         row_number() OVER wt AS seq,
        |         lead(action_id) OVER wt AS next_action_id
        |  FROM (
        |    SELECT *,
        |           CASE WHEN atype = 'jumpball' THEN 1
        |                WHEN atype = 'foul' THEN 2
        |                WHEN atype = 'violation' THEN 3
        |                WHEN atype IN ('2pt', '3pt') THEN 4
        |                WHEN atype = 'freethrow' THEN 5
        |                WHEN atype = 'rebound' THEN 6
        |                WHEN atype = 'turnover' THEN 7
        |                WHEN atype = 'timeout' THEN 8
        |                ELSE 9 END AS prio
        |    FROM tl)
        |  WINDOW wt AS (PARTITION BY game_id ORDER BY oclock, prio, action_id)
        |)""".stripMargin,
    "priority-ordered per-game action timeline with NEXT links (W6+W1)") { (s, dir) =>
    pipeline(s, dir).timeline
      .select(col("game_id"), col("action_id"),
        col("seq").cast("long").as("seq"), col("next_action_id"))
  }

  /** Schedule-side static edges (reference team.py:12, season.py:8-16):
    * HOME_ARENA (team->arena, arena id = team id in the derived world),
    * IN_SEASON (game->season, season = the game's start year) and AT
    * (game->the home team's arena). */
  val q72ScheduleEdges: Q = Q.sql(
    "q72_schedule_edges",
    """WITH sched AS (
      |  SELECT user_id AS game_id, min(ts) AS game_time,
      |         user_id % 4 + 1 AS home_team_id
      |  FROM events GROUP BY 1, 3
      |)
      |SELECT 'IN_SEASON' AS rel_type, CAST(game_id AS VARCHAR) AS src_id,
      |       'season_' || CAST(year(game_time) AS VARCHAR) AS dst_id
      |FROM sched
      |UNION ALL
      |SELECT 'AT', CAST(game_id AS VARCHAR),
      |       'arena_' || CAST(home_team_id AS VARCHAR)
      |FROM sched
      |UNION ALL
      |SELECT DISTINCT 'HOME_ARENA', CAST(home_team_id AS VARCHAR),
      |       'arena_' || CAST(home_team_id AS VARCHAR)
      |FROM sched""".stripMargin,
    "IN_SEASON / AT / HOME_ARENA static schedule edges") { (s, dir) =>
    val sched = GameFeed.schedule(s, dir)
    val inSeason = sched.select(lit("IN_SEASON").as("rel_type"),
      col("game_id").cast("string").as("src_id"),
      concat(lit("season_"), year(col("game_time"))).as("dst_id"))
    val at = sched.select(lit("AT").as("rel_type"),
      col("game_id").cast("string").as("src_id"),
      concat(lit("arena_"), col("home_team_id")).as("dst_id"))
    val homeArena = sched.select(lit("HOME_ARENA").as("rel_type"),
      col("home_team_id").cast("string").as("src_id"),
      concat(lit("arena_"), col("home_team_id")).as("dst_id")).distinct()
    inSeason.unionByName(at).unionByName(homeArena)
  }

  /** Multi-source BFS over the exported heterogeneous graph (GraphX
    * Pregel, BASELINE.json "GraphX for analytics queries"): hop depth of
    * every node from the even-numbered game nodes, edges undirected. The
    * oracle unrolls level-synchronous BFS over the same edge set — each
    * level is a DISTINCT frontier minus the visited set, so no
    * path-explosion and cycles are safe in plain (non-recursive) SQL. */
  val q74GraphBfs: Q = {
    val levels = 8
    // every level CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    // reference, and v_k/l_k reference each other recursively — without
    // materialization the expansion (and its parquet scans) is
    // exponential in the level count
    val und =
      """, und AS MATERIALIZED (
        |  SELECT src_type AS at, src_id AS ai, dst_type AS bt, dst_id AS bi FROM rels
        |  UNION
        |  SELECT dst_type, dst_id, src_type, src_id FROM rels
        |),
        |l0 AS MATERIALIZED (
        |  SELECT 'game' AS t, node_id AS i FROM nodes
        |  WHERE node_type = 'game' AND CAST(node_id AS BIGINT) % 2 = 0
        |),
        |v0 AS MATERIALIZED (SELECT t, i FROM l0)""".stripMargin
    val levelCtes = (1 to levels).map { k =>
      s""",
        |l$k AS MATERIALIZED (
        |  SELECT DISTINCT u.bt AS t, u.bi AS i
        |  FROM und u JOIN l${k - 1} f ON u.at = f.t AND u.ai = f.i
        |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
        |                    WHERE v.t = u.bt AND v.i = u.bi)
        |),
        |v$k AS MATERIALIZED (
        |  SELECT t, i FROM v${k - 1} UNION ALL SELECT t, i FROM l$k)""".stripMargin
    }.mkString
    val select = (0 to levels).map(k =>
      s"SELECT t AS node_type, i AS node_id, CAST($k AS BIGINT) AS depth FROM l$k")
      .mkString("\n|", "\n|UNION ALL\n|", "")
    Q.sql(
      "q74_graph_bfs",
      PRELUDE + PYG + und + levelCtes + select.stripMargin,
      "multi-source BFS depth over the hetero graph (Pregel vs unrolled SQL)") { (s, dir) =>
      import org.apache.spark.graphx.{Edge, Graph}
      val (nodes, coo) = pyg(s, dir)
      val types = Seq("game", "team", "period", "lineup", "player",
        "lineup_stint", "player_stint", "foul", "shot", "freethrow")
      val ti = types.zipWithIndex.toMap
      // global vertex id = type index * 2^40 + dense id: types never collide
      val off = 1L << 40
      val vs = nodes.select(col("node_type"), col("node_id"), col("dense_id"))
        .rdd.map { r =>
          (ti(r.getString(0)).toLong * off + r.getLong(2)) ->
            ((r.getString(0), r.getString(1)))
        }
      // raw directed edges only — bfsDepth messages both ways per edge
      val es = coo
        .select(col("src_type"), col("src_idx"), col("dst_type"), col("dst_idx"))
        .rdd.map { r =>
          Edge(ti(r.getString(0)).toLong * off + r.getLong(1),
            ti(r.getString(2)).toLong * off + r.getLong(3), "")
        }
      val depths = graft.graph.Traversals.bfsDepth[(String, String)](
        Graph(vs, es), v => v._1 == "game" && v._2.toLong % 2 == 0)
      import s.implicits._
      depths.vertices
        .flatMap { case (_, ((t, id), d)) =>
          if (d == Long.MaxValue) None
          else {
            // the oracle unrolls exactly `levels` BFS rounds while Pregel
            // runs to convergence — a node deeper than the unroll bound
            // must fail loudly here, not as an unexplained hash mismatch
            require(d <= levels,
              s"BFS depth $d at ($t, $id) exceeds the oracle's $levels-level unroll")
            Some((t, id, d))
          }
        }
        .toDF("node_type", "node_id", "depth")
    }
  }

  /** Possession segmentation (the reference's DECLARED-but-never-created
    * `Possession` entity, setup.py:18,32-33 — implemented intent per
    * §2.11): possessions end at made shots / made last free throws /
    * turnovers / defensive rebounds and never cross periods. */
  val q77Possessions: Q = Q.sql(
    "q77_possessions",
    PRELUDE +
      s""", tp AS (
        |  SELECT game_id, event_id * 4 AS action_id, clock, clock AS oclock,
        |         CASE WHEN event_type = 'click' THEN '2pt'
        |              WHEN event_type = 'purchase' THEN '3pt'
        |              WHEN event_type = 'error' AND value < 100 THEN 'rebound'
        |              WHEN event_type = 'error' AND value < 180 THEN 'violation'
        |              WHEN event_type = 'error' THEN 'jumpball'
        |              WHEN value < 80 THEN 'foul'
        |              WHEN value < 160 THEN 'turnover'
        |              ELSE 'timeout' END AS atype,
        |         CASE WHEN event_type IN ('click', 'purchase') AND value >= 100.0 THEN TRUE
        |              WHEN event_type = 'error' AND value < 100.0 AND event_id % 2 = 0 THEN TRUE
        |              WHEN event_type NOT IN ('signup','click','purchase','error')
        |                   AND value >= 80.0 AND value < 160.0 THEN TRUE
        |              ELSE FALSE END AS endf,
        |         CASE WHEN event_type = 'click' AND value >= 100.0 THEN 2
        |              WHEN event_type = 'purchase' AND value >= 100.0 THEN 3
        |              ELSE 0 END AS pts,
        |         team_id AS tm
        |  FROM base WHERE event_type <> 'signup'
        |  UNION ALL
        |  SELECT game_id, event_id * 4 + a.i, clock,
        |         clock + a.i * CAST(0.1 AS DOUBLE), 'freethrow',
        |         a.i = 2 AND event_id % 2 = 0,
        |         CASE WHEN (event_id + a.i) % 2 = 0 THEN 1 ELSE 0 END,
        |         opp_id
        |  FROM base CROSS JOIN (SELECT unnest([1, 2]) AS i) a
        |  WHERE event_type = 'view' AND value < 80.0
        |),
        |tseq AS (
        |  SELECT *, ${pn("clock")} AS p,
        |         row_number() OVER wt AS seq
        |  FROM (
        |    SELECT *,
        |           CASE WHEN atype = 'jumpball' THEN 1 WHEN atype = 'foul' THEN 2
        |                WHEN atype = 'violation' THEN 3
        |                WHEN atype IN ('2pt', '3pt') THEN 4
        |                WHEN atype = 'freethrow' THEN 5 WHEN atype = 'rebound' THEN 6
        |                WHEN atype = 'turnover' THEN 7 WHEN atype = 'timeout' THEN 8
        |                ELSE 9 END AS prio
        |    FROM tp)
        |  WINDOW wt AS (PARTITION BY game_id ORDER BY oclock, prio, action_id)
        |),
        |tcut AS (
        |  SELECT *,
        |         CASE WHEN coalesce(lag(endf) OVER ws, FALSE)
        |                   OR p <> lag(p) OVER ws THEN 1 ELSE 0 END AS cut
        |  FROM tseq
        |  WINDOW ws AS (PARTITION BY game_id ORDER BY seq)
        |),
        |tpid AS (
        |  SELECT *, 1 + sum(cut) OVER (PARTITION BY game_id ORDER BY seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
        |  FROM tcut
        |)
        |SELECT game_id,
        |       CAST(game_id AS VARCHAR) || '_' || CAST(pid AS VARCHAR) AS possession_id,
        |       CAST(pid AS BIGINT) AS possession_index,
        |       CAST(min(p) AS BIGINT) AS period,
        |       min(oclock) AS start_clock, max(oclock) AS end_clock,
        |       count(*) AS n_events, CAST(sum(pts) AS BIGINT) AS points,
        |       CAST(arg_min(tm, seq) AS BIGINT) AS first_team_id
        |FROM tpid GROUP BY game_id, pid""".stripMargin,
    "possession segmentation — the reference's declared-but-dead entity") { (s, dir) =>
    graft.nba.Possessions.segments(pipeline(s, dir).timeline)
  }

  /** Fixed-point iterations the label propagation runs — unrolled
    * identically in the DuckDB oracle (both engines execute the same
    * synchronous recurrence). */
  val LpaIters = 4

  private def lpaOracle: String = {
    val steps = (1 to LpaIters).map { k =>
      s"""lp$k AS (
         |  SELECT v.id, coalesce(p.lbl, v.lbl) AS lbl
         |  FROM lp${k - 1} v LEFT JOIN (
         |    SELECT dst AS id, lbl FROM (
         |      SELECT c.dst, n.lbl, SUM(c.w) AS votes,
         |             row_number() OVER (PARTITION BY c.dst
         |               ORDER BY SUM(c.w) DESC, n.lbl) AS rn
         |      FROM co c JOIN lp${k - 1} n ON n.id = c.src
         |      GROUP BY c.dst, n.lbl)
         |    WHERE rn = 1) p ON p.id = v.id)""".stripMargin
    }.mkString(",\n")
    lpaCore(steps) +
      s""",
         |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM lp$LpaIters GROUP BY 1)
         |SELECT CAST(l.id AS BIGINT) AS person_id, l.lbl AS community,
         |       sz.n AS community_size
         |FROM lp$LpaIters l JOIN sz ON sz.lbl = l.lbl""".stripMargin
  }

  /** The shared LPA oracle chain (edge build + lp0 + the unrolled
    * rounds, ending at lp`LpaIters`) — q202 reads the labels off it,
    * q256 scores them. */
  private def lpaCore(steps: String): String =
    PRELUDE +
      s""", co AS MATERIALIZED (
         |  SELECT a.person_id AS src, b.person_id AS dst,
         |         CAST(COUNT(*) AS BIGINT) AS w
         |  FROM mem a JOIN mem b
         |    ON b.stint_id = a.stint_id AND b.person_id <> a.person_id
         |  GROUP BY 1, 2),
         |lp0 AS (
         |  SELECT DISTINCT person_id AS id, CAST(person_id AS BIGINT) AS lbl
         |  FROM mem),
         |$steps""".stripMargin

  /** The player co-occurrence graph that LPA (q202, q256) and PPR (q207)
    * iterate over, built once per (session, sf dir) by this one builder
    * so the cached layout does not depend on which query runs first:
    *
    *  - `mem` — (stint_id, person_id) lineup memberships;
    *  - `co` — weighted (src, dst, w) co-occurrence edges, cached AND
    *    hash-partitioned on `src` before the cache fill. Every round's
    *    edges⋈state join keys on `src`, and a cached plan replays from
    *    blocks already laid out on `src`, so the O(E) side never
    *    re-shuffles; only the O(V) state frame moves each round (the
    *    same idea as bucketing the big side of a repeated join). */
  private[graft] def coOccurrence(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val mem = graft.SessionCache.once(s, s"domain#$dir#lpa-mem") {
      pipeline(s, dir).lineupStints
        .select(col("stint_id"), explode(col("player_ids")).as("person_id"))
    }
    val co = graft.SessionCache.once(s, s"domain#$dir#lpa-co") {
      val a = mem.select(col("stint_id"), col("person_id").as("src"))
      val b = mem.select(col("stint_id"), col("person_id").as("dst"))
      // cached for the session: a string build key would pin a page
      LongKeyJoin(a, b, Seq("stint_id"), "inner", guard = "dst")
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
        .repartition(col("src"))
        .cache()
    }
    (mem, co)
  }

  /** The shared LPA state, built once per (session, sf dir) and reused
    * by q202 (reads the partition) and q256 (scores it): the edges and
    * `labels`, the folded fixed point. Both queries read the labels 2–3
    * times, so the fold is cached once as its checkpointed O(V) frame
    * and every use is a scan (JobCountPinSpec pins q256's steady state;
    * re-deriving it per reference made the pair the bench head at
    * 22/31 s). */
  private[graft] def lpaState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (mem, co) = coOccurrence(s, dir)
    val labels = graft.SessionCache.once(s, s"domain#$dir#lpa-labels") {
      lpaFold(co, mem.select(col("person_id").cast("long").as("id")).distinct())
    }
    (co, labels)
  }

  /** The synchronous LPA recurrence: `LpaIters` rounds of [[lpaRound]]
    * (one edges⋈labels equi-join + one partial-aggregated (dst, lbl)
    * vote sum + one per-dst `min(struct(−votes, lbl))` arg-min). The
    * initial labels are materialized because every round reads its
    * input twice (vote source and update side). */
  private[graft] def lpaFold(co: DataFrame, verts: DataFrame): DataFrame =
    Superstep.fold(verts.select(col("id"), col("id").as("lbl")).localCheckpoint(),
      LpaIters)(lpaRound(co, _))

  /** One synchronous LPA round, pre-checkpoint (PlanSpec pins its plan). */
  private[graft] def lpaRound(co: DataFrame, l: DataFrame): DataFrame = {
    val votes = co
      .join(l.select(col("id").as("src"), col("lbl")), Seq("src"))
      .groupBy(col("dst"), col("lbl"))
      .agg(sum(col("w")).as("votes"))
    val picked = votes
      .groupBy(col("dst"))
      .agg(min(struct((-col("votes")).as("nv"), col("lbl"))).as("m"))
      .select(col("dst").as("id"), col("m.lbl").as("new_lbl"))
    l.join(picked, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over the player co-occurrence graph — the one classic
    * GraphX analytics family (degrees/CC/BFS/PageRank/triangles/k-core/
    * SSSP/WL) that was still missing. Vertices are players, edge weight
    * = number of lineup stints the pair shared on court; each round
    * every player adopts the label carrying the highest co-occurrence
    * mass among its neighbours, ties broken by SMALLEST label — the
    * deterministic-tiebreak discipline (q78's integer playbook: weights
    * are exact stint counts, votes exact integer sums, so both engines
    * run the identical recurrence and the hash compares).
    *
    * Scale shape: the co-occurrence build explodes each stint's 5-player
    * array and self-joins on stint_id — per-stint fan-out is a constant
    * 20 ordered pairs, so the edge build is linear in stints and rides
    * equi-shuffles only. Each LPA round is one edges⋈labels equi-join +
    * one partial-aggregated (dst, lbl) vote sum + one per-dst arg-min —
    * the canonical distributed LPA step; the `min(struct(-votes, lbl))`
    * pick partial-aggregates map-side where a rank window would sort.
    * Edges are cached pre-partitioned on the join key and the folded
    * labels are cached, both shared with q256 ([[lpaState]]). */
  val q202LabelPropagation: Q = Q.sql(
    "q202_label_propagation",
    lpaOracle,
    "LPA communities over the player co-occurrence graph (4 sync rounds)") {
    (s, dir) =>
      val (_, labels) = lpaState(s, dir)
      val sz = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
      labels.join(sz, Seq("lbl"))
        .select(col("id").as("person_id"), col("lbl").as("community"),
          col("community_size"))
  }

  // ---------------------------------------------------------------- q256
  private def modularityOracle: String = {
    val steps = (1 to LpaIters).map { k =>
      s"""lp$k AS (
         |  SELECT v.id, coalesce(p.lbl, v.lbl) AS lbl
         |  FROM lp${k - 1} v LEFT JOIN (
         |    SELECT dst AS id, lbl FROM (
         |      SELECT c.dst, n.lbl, SUM(c.w) AS votes,
         |             row_number() OVER (PARTITION BY c.dst
         |               ORDER BY SUM(c.w) DESC, n.lbl) AS rn
         |      FROM co c JOIN lp${k - 1} n ON n.id = c.src
         |      GROUP BY c.dst, n.lbl)
         |    WHERE rn = 1) p ON p.id = v.id)""".stripMargin
    }.mkString(",\n")
    lpaCore(steps) +
      s""",
         |mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM co),
         |lbl AS MATERIALIZED (SELECT id, lbl FROM lp$LpaIters),
         |ec AS (
         |  SELECT a.lbl, CAST(SUM(c.w) AS BIGINT) AS intra_w
         |  FROM co c
         |  JOIN lbl a ON a.id = c.src
         |  JOIN lbl b ON b.id = c.dst AND b.lbl = a.lbl
         |  GROUP BY 1),
         |dc AS (
         |  SELECT a.lbl, CAST(SUM(c.w) AS BIGINT) AS degree_w
         |  FROM co c JOIN lbl a ON a.id = c.src GROUP BY 1),
         |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n FROM lbl
         |       GROUP BY 1)
         |SELECT CAST(sz.lbl AS BIGINT) AS community, sz.n AS n_members,
         |  CAST(COALESCE(ec.intra_w, 0) AS BIGINT) AS intra_w,
         |  CAST(COALESCE(dc.degree_w, 0) AS BIGINT) AS degree_w,
         |  CAST(COALESCE(ec.intra_w, 0) AS DOUBLE) / m2
         |    - (CAST(COALESCE(dc.degree_w, 0) AS DOUBLE) / m2)
         |      * (CAST(COALESCE(dc.degree_w, 0) AS DOUBLE) / m2)
         |    AS contribution
         |FROM sz
         |LEFT JOIN ec ON ec.lbl = sz.lbl
         |LEFT JOIN dc ON dc.lbl = sz.lbl
         |CROSS JOIN mm""".stripMargin
  }

  /** Modularity scoring of the q202 partition (Newman–Girvan Q) — the
    * number that says whether the detected communities are BETTER than
    * chance: per community, intra-edge weight e_c and total degree d_c
    * (exact bigints over the weighted co-occurrence edges, directed
    * convention so m2 = 2m), contribution e_c/m2 − (d_c/m2)² as a
    * fixed-parenthesization double tree; Q is the column's sum.
    * Detection without evaluation is half an operator — q202 finds,
    * q256 grades (the same measure LPA's own stopping heuristics and
    * Louvain's objective use).
    *
    * Scale shape: labels come pre-folded and cached from the shared
    * [[lpaState]] (one fold per session, not one per reference);
    * scoring is two keyed joins of the cached edge frame against the
    * O(V) label frame + bounded partial aggs. */
  val q256Modularity: Q = Q.sql(
    "q256_modularity",
    modularityOracle,
    "per-community Newman modularity contributions of the LPA partition") {
    (s, dir) =>
      val (co, labels) = lpaState(s, dir)
      val mm = co.agg(sum(col("w")).cast("long").as("m2"))
      val ls = labels.select(col("id").as("src"), col("lbl"))
      val ld = labels.select(col("id").as("dst"), col("lbl").as("lbl_d"))
      val ec = co.join(ls, Seq("src")).join(ld, Seq("dst"))
        .filter(col("lbl") === col("lbl_d"))
        .groupBy(col("lbl")).agg(sum(col("w")).cast("long").as("intra_w"))
      val dc = co.join(ls, Seq("src"))
        .groupBy(col("lbl")).agg(sum(col("w")).cast("long").as("degree_w"))
      val sz = labels.groupBy(col("lbl")).agg(count(lit(1)).cast("long")
        .as("n_members"))
      sz.join(ec, Seq("lbl"), "left")
        .join(dc, Seq("lbl"), "left")
        .crossJoin(broadcast(mm))
        .select(col("lbl").cast("long").as("community"), col("n_members"),
          coalesce(col("intra_w"), lit(0L)).cast("long").as("intra_w"),
          coalesce(col("degree_w"), lit(0L)).cast("long").as("degree_w"),
          (coalesce(col("intra_w"), lit(0L)).cast("double") / col("m2") -
            (coalesce(col("degree_w"), lit(0L)).cast("double") / col("m2")) *
              (coalesce(col("degree_w"), lit(0L)).cast("double") / col("m2")))
            .as("contribution"))
  }

  /** Power-iteration rounds for the personalized PageRank — unrolled
    * identically in the oracle. */
  val PprIters = 3

  /** Integer scale for PPR mass (q78's exact-integer discipline: both
    * engines run the identical truncating-division recurrence, so the
    * gate is exact — no float drift across iteration order). */
  private val PprScale = 1000000000000L

  /** Teleport mass re-injected at each of the 3 seeds per round. */
  private val PprRestart = PprScale * 15 / 100 / 3

  private def pprOracle: String = {
    val steps = (1 to PprIters).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |    CAST(CASE WHEN sd.id IS NOT NULL THEN $PprRestart ELSE 0 END
         |      + COALESCE(m.inc, 0) AS BIGINT) AS s
         |  FROM verts v LEFT JOIN seeds sd ON sd.id = v.id
         |  LEFT JOIN (
         |    SELECT c.dst AS id,
         |      CAST(SUM((p.s * 85 * c.w) // (100 * o.tw)) AS BIGINT) AS inc
         |    FROM co c JOIN pr${k - 1} p ON p.id = c.src
         |    JOIN outw o ON o.src = c.src
         |    GROUP BY 1) m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    PRELUDE +
      s""", co AS (
         |  SELECT a.person_id AS src, b.person_id AS dst,
         |         CAST(COUNT(*) AS BIGINT) AS w
         |  FROM mem a JOIN mem b
         |    ON b.stint_id = a.stint_id AND b.person_id <> a.person_id
         |  GROUP BY 1, 2),
         |verts AS (SELECT DISTINCT person_id AS id FROM mem),
         |seeds AS (SELECT id FROM verts ORDER BY id LIMIT 3),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM co GROUP BY 1),
         |pr0 AS (
         |  SELECT v.id,
         |    CAST(CASE WHEN sd.id IS NOT NULL THEN ${PprScale / 3} ELSE 0 END
         |      AS BIGINT) AS s
         |  FROM verts v LEFT JOIN seeds sd ON sd.id = v.id),
         |$steps
         |SELECT CAST(p.id AS BIGINT) AS person_id, p.s AS ppr,
         |  sd.id IS NOT NULL AS is_seed
         |FROM pr$PprIters p LEFT JOIN seeds sd ON sd.id = p.id""".stripMargin
  }

  /** Left-joins the 3-row seed frame, broadcast, as an `sd` flag. */
  private def pprWithSeed(v: DataFrame, seeds: DataFrame): DataFrame =
    v.join(broadcast(seeds.select(col("id"), lit(1).as("sd"))), Seq("id"), "left")

  /** One synchronous PPR round, pre-checkpoint: the edges⋈scores message
    * equi-join, the partial-aggregated per-dst message sum, and the
    * teleport re-injection at the seeds (the Pregelix superstep shape:
    * vertex ⋈ message, then a group-by combine). `edges` carries
    * (src, dst, w, tw), `scores` carries (id, s). PlanSpec pins its plan. */
  private[graft] def pprRound(edges: DataFrame, verts: DataFrame,
      seeds: DataFrame, scores: DataFrame): DataFrame = {
    val inc = edges
      .join(scores.select(col("id").as("src"), col("s")), Seq("src"))
      .select(col("dst"),
        expr("(s * 85 * w) div (100 * tw)").as("msg"))
      .groupBy(col("dst"))
      .agg(sum(col("msg")).cast("long").as("inc"))
    pprWithSeed(verts, seeds)
      .join(inc.select(col("dst").as("id"), col("inc")), Seq("id"), "left")
      .select(col("id"),
        (when(col("sd").isNotNull, lit(PprRestart)).otherwise(lit(0L))
          + coalesce(col("inc"), lit(0L))).cast("long").as("s"))
  }

  // ---------------------------------------------------------------- q207
  /** Personalized PageRank from a 3-seed restart set over the player
    * co-occurrence graph — the "who is structurally close to THESE
    * nodes" primitive behind contrastive example mining and
    * graph-feature generation, beside the global PageRank (q78) and
    * LPA communities (q202).
    *
    * Exact-integer discipline: mass is integer-scaled (1e12), walk
    * contributions use truncating integer division per edge, and the
    * teleport re-injects a fixed integer share at the seeds, so the
    * synchronous recurrence is bit-identical across engines and
    * partitionings — hash-gateable, like q78/q202. (Truncation leaks
    * ≤1 unit per edge per round — a defined property of the operator,
    * not drift.)
    *
    * Scale shape: each round ([[pprRound]]) is ONE equi-join of the edge
    * frame against the O(V) score frame plus a partial-agg sum on dst;
    * the edge frame and out-weights build once and cache, and the
    * composed plan is a scan of the last round's checkpointed scores
    * plus the broadcast seed join. No windows, nothing quadratic:
    * exactly GraphX Pregel's cost model expressed in DataFrames. */
  val q207PersonalizedPagerank: Q = Q.sql(
    "q207_personalized_pagerank",
    pprOracle,
    "3-seed personalized PageRank, exact-integer, over player co-occurrence") {
    (s, dir) =>
      // verts, seeds and the weighted edges are read by every round
      // (verts twice), so each is materialized once instead of being
      // re-derived from `co` per round
      val (mem, co) = coOccurrence(s, dir)
      val verts = mem.select(col("person_id").cast("long").as("id"))
        .distinct().localCheckpoint()
      val seeds = verts.orderBy(col("id")).limit(3).localCheckpoint()
      val outw = co.groupBy(col("src")).agg(sum(col("w")).as("tw"))
      val edges = co.join(outw, Seq("src")).localCheckpoint()
      val scores = Superstep.fold(pprWithSeed(verts, seeds)
        .select(col("id"),
          when(col("sd").isNotNull, lit(PprScale / 3)).otherwise(lit(0L))
            .cast("long").as("s")), PprIters)(pprRound(edges, verts, seeds, _))
      pprWithSeed(scores, seeds)
        .select(col("id").as("person_id"), col("s").as("ppr"),
          col("sd").isNotNull.as("is_seed"))
  }

  val all: Seq[Q] =
    Seq(q60StintPlusMinus, q61ScoreChain, q62PlayerStints, q63SeasonInvariant,
      q64GraphExport, q65SeasonChain, q66Periods, q67ActorEdges, q68CausalLinks,
      q69PygNodes, q70LabelFlags, q71ActionTimeline, q72ScheduleEdges,
      q74GraphBfs, q77Possessions, q202LabelPropagation, q256Modularity,
      q207PersonalizedPagerank)
}
