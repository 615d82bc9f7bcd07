package graft.nba

import graft.nba.Model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic game feed derived from the driver's `events.parquet`
  * table: each user's event stream becomes one game's play-by-play. This
  * is what puts the WHOLE domain engine (stint fold → as-of attribution →
  * score chain → plus-minus → export) behind the DuckDB oracle gate: the
  * mapping below is closed-form relational algebra, so an independent SQL
  * engine can re-derive every pipeline output from the same parquet (see
  * the oracle SQL in [[graft.queries.Domain]]).
  *
  * Mapping (mirrored EXACTLY by the oracle SQL — change both or neither):
  *   - game_id = user_id; event order = (ts, event_id); the n-th event of
  *     a game happens at global_clock = n * 45.0 seconds (long games run
  *     into OT tiles).
  *   - teams are shared across games (so season NEXT chains exist):
  *     home = game_id%4 + 1, away = (game_id+1)%4 + 1; an event acts for
  *     home when event_id is even, away when odd.
  *   - each team fields 10 players: person = team_id*100 + i, i in 0..9;
  *     starters are i = 0..4.
  *   - 'signup' → a substitution PAIR at one clock (the same-clock batch
  *     rule): the k-th signup of (game, team) swaps OUT person (k-1)%10
  *     and IN person (k+4)%10 — a rotation whose invariant (out always on
  *     court, in always off) keeps every lineup at exactly 5 and makes
  *     on-court membership closed-form: after k swaps the lineup is
  *     {k%10 .. (k+4)%10}.
  *   - 'click' → 2pt shot, 'purchase' → 3pt shot; made iff value >= 100;
  *     shooter i = event_id%10; assists on made shots when event_id%3=0
  *     (i = (event_id+1)%10); blocks by the opponent on missed shots when
  *     event_id%5=0 (i = (event_id+2)%10); style descriptor =
  *     shotStyles(event_id%14); coords x = event_id%50 - 25,
  *     y = event_id%35, dist = sqrt(x^2 + y^2).
  *   - 'error' → rebound (value < 100; defensive iff event_id even;
  *     clock shifted -40 s so it falls 5 s after the previous event,
  *     inside the reference's 10 s rebound window), violation
  *     (100 <= value < 180; sub_type = violationSubs(event_id%7)), or
  *     jumpball (value >= 180; won i = event_id%10, lost opponent
  *     i = (event_id+1)%10, recovered i = (event_id+7)%10;
  *     descriptor = jumpballDescs(event_id%3)).
  *   - 'view' → foul + two drawn free throws (value < 80; committer
  *     i = event_id%10, drawn opponent i = (event_id+3)%10, sub_type =
  *     foulSubs(event_id%4), descriptor = foulDescs(event_id%5),
  *     attempt a made iff (event_id+a)%2 = 0), turnover (value < 160;
  *     sub_type = turnoverSubs(event_id%6), descriptor =
  *     turnoverDescs(event_id%3), stolen when event_id%4=0 by opponent
  *     i = (event_id+5)%10), else timeout (full iff event_id even).
  *   - action ids: main row = event_id*4, extra rows (sub-IN / FT1 / FT2)
  *     = event_id*4 + 1 or 2; period bracket rows use the negative
  *     per-game keyspace -2p (start) / -2p-1 (end) — structurally
  *     disjoint from event rows at any volume.
  *   - periods tile the clock per [[graft.ops.TimeKernel]] (720 s
  *     regulation quarters, 300 s OT); the last period ends at
  *     game_end = max event clock + 45.
  *
  * Scale shape: the numbering is one window pass over events partitioned
  * by game, the expansion a single generator explode, the period rows one
  * per-game aggregate — no joins, no driver loops.
  */
object GameFeed {

  /** Reference shot-style descriptor vocabulary (F9,
    * `/root/reference/src/queries/game.py:378-397` — exact needle set,
    * incl. the hyphenated 'alley-oop' and 'bank'). */
  val shotStyles: Seq[String] = Seq(
    "driving", "pullup", "fadeaway", "step back", "alley-oop", "reverse",
    "turnaround", "bank", "floating", "finger roll", "putback", "tip",
    "cutting", "running")

  /** Per-family subtype/descriptor vocabularies (the reference's full
    * FOREACH-SET label inventory, game.py:221-586), cycled by event id
    * so every label is exercised at every scale factor. */
  val foulSubs: Seq[String] = Seq("personal", "offensive", "technical", "flagrant")
  val foulDescs: Seq[String] =
    Seq("shooting", "loose ball", "take", "defensive-3-second", "charge")
  val violationSubs: Seq[String] = Seq(
    "kicked ball", "delay-of-game", "lane", "goaltending",
    "defensive goaltending", "double dribble", "jump ball")
  val turnoverSubs: Seq[String] = Seq(
    "bad pass", "lost ball", "traveling", "out-of-bounds",
    "offensive foul", "shot clock")
  val turnoverDescs: Seq[String] = Seq("lost ball", "bad pass", "step")
  val jumpballDescs: Seq[String] = Seq("startperiod", "heldball", "unclearpass")

  private val nulL = lit(null).cast("long")
  private val nulS = lit(null).cast("string")
  private val nulD = lit(null).cast("double")

  private def person(team: Column, i: Column): Column = team * 100 + i

  /** The numbering: one row per raw event with its 1-based ordinal `n`
    * within the game in (ts, event_id) order and its swap ordinal `k`,
    * the running count (inclusive) of signups by the event's team. Each
    * game has exactly two teams (home = even event ids), so the
    * per-(game, team) count rides the per-GAME window as two conditional
    * running sums instead of a second full shuffle of the events table
    * on (game_id, team_id). All three window functions share one window
    * spec, so the numbering is a single Exchange + Sort + WindowExec at
    * any scale (PlanSpec). */
  private def numbered(events: DataFrame): DataFrame = {
    val wGame = Window.partitionBy(col("game_id")).orderBy(col("ts"), col("event_id"))
    val home = col("event_id") % 2 === 0
    def signups(side: Column): Column =
      sum(when(col("event_type") === "signup" && side, 1L).otherwise(0L)).over(wGame)
    events.select(col("game_id"), col("event_id"), col("event_type"), col("value"),
      row_number().over(wGame).cast("long").as("n"),
      when(home, signups(home)).otherwise(signups(!home)).as("k"))
  }

  /** The clock of the `n`-th event: 45 s steps put long games (>64
    * events) past the 2880 s regulation horizon, so the OT tiling is
    * exercised at every scale factor; rebounds land 5 s after the
    * previous event (clock - 40) so the reference's 10 s
    * rebound->missed-shot window has real matches. Each step adds at
    * least 5 s, so clocks rise strictly with `n`. */
  private def clockOf(n: Column, eventType: Column, value: Column): Column =
    n.cast("double") * 45.0 -
      when(eventType === "error" && value < 100.0, 40.0).otherwise(0.0)

  private def periodOf(clock: Column): Column =
    graft.ops.TimeKernel.periodOfClock(clock)

  /** The expansion: numbered events (`game_id`, `event_id`,
    * `event_type`, `value`, `n`, `k`, as [[numbered]] gives them) to
    * their play-by-play rows, the 20 [[PbpAction]] columns (see the
    * object doc for the mapping). One projection plus one explode, so
    * the batch feed and its streaming twin
    * ([[graft.streaming.StreamingFeed.actions]]) run the same program. */
  def expand(numbered: DataFrame): DataFrame = {
    val e = col("event_id")
    val aid = e * 4
    val team = col("team_id")
    val opp = col("opp_id")
    val made = col("value") >= 100.0
    val shooter = person(team, e % 10)

    def st(a: Column, typ: Column, sub: Column, desc: Column, res: Column,
        tm: Column, p: Column, assist: Column, block: Column, steal: Column,
        drawn: Column, jbWon: Column = nulL, jbLost: Column = nulL,
        jbRec: Column = nulL, sx: Column = nulD, sy: Column = nulD): Column =
      struct(a.cast("long").as("action_id"), typ.as("action_type"),
        sub.as("sub_type"), desc.as("descriptor"), res.as("shot_result"),
        tm.cast("long").as("team_id"), p.cast("long").as("person_id"),
        assist.cast("long").as("assist_person_id"),
        block.cast("long").as("block_person_id"),
        steal.cast("long").as("steal_person_id"),
        drawn.cast("long").as("foul_drawn_person_id"),
        jbWon.cast("long").as("jumpball_won_person_id"),
        jbLost.cast("long").as("jumpball_lost_person_id"),
        jbRec.cast("long").as("jumpball_recovered_person_id"),
        sx.cast("double").as("x"), sy.cast("double").as("y"),
        sqrt(sx.cast("double") * sx + sy.cast("double") * sy).as("dist"))

    val subOut = st(aid, lit("substitution"), lit("out"), nulS, nulS, team,
      person(team, (col("k") - 1) % 10), nulL, nulL, nulL, nulL)
    val subIn = st(aid + 1, lit("substitution"), lit("in"), nulS, nulS, team,
      person(team, (col("k") + 4) % 10), nulL, nulL, nulL, nulL)
    def shot(typ: String) = st(aid, lit(typ), nulS,
      element_at(typedLit(shotStyles), (e % 14).cast("int") + 1),
      when(made, "Made").otherwise("Missed"), team, shooter,
      when(made && e % 3 === 0, person(team, (e + 1) % 10)).otherwise(nulL),
      when(!made && e % 5 === 0, person(opp, (e + 2) % 10)).otherwise(nulL),
      nulL, nulL,
      sx = (e % 50 - 25).cast("double"), sy = (e % 35).cast("double"))
    def cyc(vocab: Seq[String]): Column =
      element_at(typedLit(vocab), (e % vocab.size).cast("int") + 1)

    val rebound = st(aid, lit("rebound"),
      when(e % 2 === 0, "defensive").otherwise("offensive"), nulS, nulS,
      team, shooter, nulL, nulL, nulL, nulL)
    val violation = st(aid, lit("violation"), cyc(violationSubs), nulS, nulS,
      team, shooter, nulL, nulL, nulL, nulL)
    val jumpball = st(aid, lit("jumpball"), lit("recovered"),
      cyc(jumpballDescs), nulS,
      team, person(team, e % 10), nulL, nulL, nulL, nulL,
      jbWon = person(team, e % 10), jbLost = person(opp, (e + 1) % 10),
      jbRec = person(team, (e + 7) % 10))
    val foul = st(aid, lit("foul"), cyc(foulSubs), cyc(foulDescs), nulS,
      team, shooter, nulL, nulL, nulL, person(opp, (e + 3) % 10))
    def ft(a: Int) = st(aid + a, lit("freethrow"), lit(s"$a of 2"), nulS,
      when((e + a) % 2 === 0, "Made").otherwise("Missed"), opp,
      person(opp, (e + 3) % 10), nulL, nulL, nulL, nulL)
    val turnover = st(aid, lit("turnover"), cyc(turnoverSubs),
      cyc(turnoverDescs), nulS, team, shooter,
      nulL, nulL,
      when(e % 4 === 0, person(opp, (e + 5) % 10)).otherwise(nulL), nulL)
    val timeout = st(aid, lit("timeout"),
      when(e % 2 === 0, "full").otherwise("short"), nulS, nulS, team,
      nulL, nulL, nulL, nulL, nulL)

    val rows =
      when(col("event_type") === "signup", array(subOut, subIn))
        .when(col("event_type") === "click", array(shot("2pt")))
        .when(col("event_type") === "purchase", array(shot("3pt")))
        .when(col("event_type") === "error",
          when(col("value") < 100.0, array(rebound))
            .when(col("value") < 180.0, array(violation))
            .otherwise(array(jumpball)))
        .when(col("value") < 80.0, array(foul, ft(1), ft(2)))
        .when(col("value") < 160.0, array(turnover))
        .otherwise(array(timeout))

    val home = col("game_id") % 4 + 1
    val away = (col("game_id") + 1) % 4 + 1
    numbered
      .withColumn("team_id", when(e % 2 === 0, home).otherwise(away))
      .withColumn("opp_id", when(e % 2 === 0, away).otherwise(home))
      .select(col("game_id"),
        clockOf(col("n"), col("event_type"), col("value")).as("clock"),
        explode(rows).as("r"))
      .select(
        col("game_id"), col("r.action_id"),
        periodOf(col("clock")).as("period"),
        col("clock").as("global_clock"),
        col("r.action_type"), col("r.sub_type"), col("r.descriptor"),
        col("r.shot_result"), col("r.team_id"), col("r.person_id"),
        col("r.assist_person_id"), col("r.block_person_id"),
        col("r.steal_person_id"), col("r.foul_drawn_person_id"),
        col("r.jumpball_won_person_id"), col("r.jumpball_lost_person_id"),
        col("r.jumpball_recovered_person_id"),
        col("r.x"), col("r.y"), col("r.dist"))
  }

  /** The derived play-by-play stream (see object doc for the mapping):
    * the expansion of the numbered events, plus two period bracket rows
    * per period. */
  def pbp(spark: SparkSession, sfDir: String): Dataset[PbpAction] = {
    import spark.implicits._
    val events = graft.Tables(spark, sfDir, "events")
      .select(col("user_id").as("game_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))

    // period bracket rows: two per period (start/end), last ends at
    // game_end = max clock + 45 — Periods.fromPbp derives bounds from these.
    // The max clock is the last event's, so a per-game aggregate (count +
    // last event) finds it without a second pass of the numbering window
    val tileStart = graft.ops.TimeKernel.periodStartOffset(col("p"))
    val tileEnd = graft.ops.TimeKernel.periodStartOffset(col("p") + 1)
    val periodRows = events.groupBy(col("game_id"))
      .agg(count(lit(1)).as("n"),
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value")))
          .as("last"))
      .select(col("game_id"),
        clockOf(col("n"), col("last.event_type"), col("last.value")).as("max_clock"))
      .withColumn("game_end", col("max_clock") + 45.0)
      .withColumn("n_periods", periodOf(col("max_clock")))
      .withColumn("p", explode(sequence(lit(1), col("n_periods"))))
      // structurally disjoint keyspace: period bracket rows get NEGATIVE,
      // per-game action ids (start = -2p, end = -2p-1). Event rows are
      // always non-negative (event_id*4 + j), so no event volume can ever
      // collide — the stream's key is the (game_id, action_id) composite,
      // same as every other row kind
      .withColumn("pid", -(col("p") * 2).cast("long"))
      .withColumn("start_clock", tileStart)
      .withColumn("end_clock",
        when(col("p") < col("n_periods"), tileEnd).otherwise(col("game_end")))
      .withColumn("r", explode(array(
        struct(col("pid").as("action_id"), lit("start").as("sub_type"),
          col("start_clock").as("global_clock")),
        struct((col("pid") - 1).as("action_id"), lit("end").as("sub_type"),
          col("end_clock").as("global_clock")))))
      .select(
        col("game_id"), col("r.action_id"), col("p").as("period"),
        col("r.global_clock"), lit("period").as("action_type"),
        col("r.sub_type"), nulS.as("descriptor"), nulS.as("shot_result"),
        nulL.as("team_id"), nulL.as("person_id"),
        nulL.as("assist_person_id"), nulL.as("block_person_id"),
        nulL.as("steal_person_id"), nulL.as("foul_drawn_person_id"),
        nulL.as("jumpball_won_person_id"), nulL.as("jumpball_lost_person_id"),
        nulL.as("jumpball_recovered_person_id"),
        nulD.as("x"), nulD.as("y"), nulD.as("dist"))

    expand(numbered(events)).unionByName(periodRows).as[PbpAction]
  }

  /** (game_id, home_team_id, away_team_id) for every derived game. */
  def gameTeams(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables(spark, sfDir, "events")
      .select(col("user_id").as("game_id")).distinct()
      .withColumn("home_team_id", col("game_id") % 4 + 1)
      .withColumn("away_team_id", (col("game_id") + 1) % 4 + 1)

  /** Starters: players i = 0..4 of each side. */
  def starters(spark: SparkSession, sfDir: String): Dataset[Starter] = {
    import spark.implicits._
    gameTeams(spark, sfDir)
      .select(col("game_id"),
        explode(array(col("home_team_id"), col("away_team_id"))).as("team_id"))
      .select(col("game_id"), col("team_id"),
        explode(sequence(lit(0L), lit(4L))).as("i"))
      .select(col("game_id"), col("team_id"),
        person(col("team_id"), col("i")).as("person_id"))
      .as[Starter]
  }

  /** Schedule view of the feed (reference §3.1): one row per game with
    * its start wall-clock (the game's first event ts). */
  def schedule(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables(spark, sfDir, "events")
      .groupBy(col("user_id").as("game_id"))
      .agg(min(col("ts")).as("game_time"))
      .withColumn("home_team_id", col("game_id") % 4 + 1)
      .withColumn("away_team_id", (col("game_id") + 1) % 4 + 1)
}
