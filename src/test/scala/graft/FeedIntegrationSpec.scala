package graft

import graft.nba.{Fixture, GamePipeline, Model}
import graft.ops.TimeKernel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Raw-feed integration: serialize the fixture game into the reference's
  * wire shape — one JSON document with nested `game.actions`, ISO-8601
  * count-down clock strings (`"PT11M32.00S"`), periods — then parse it
  * with `from_json` + `explode`, reconstruct global clocks with `TimeKernel`
  * (the reference's OT-aware clock math), and run the full pipeline.
  * The stints must equal those computed from the typed fixture directly:
  * the whole ingestion path (S6 + C7 + W4/W2/W3) is closed end-to-end.
  */
class FeedIntegrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Fixture clocks are seconds-since-game-start over 720s periods;
    * render the reference's count-down clock string. */
  private def clockString(period: Int, globalClock: Double): String = {
    val remaining = period * 720.0 - globalClock
    val m = (remaining / 60).toInt
    val sec = remaining - m * 60
    f"PT${m}M$sec%05.2fS"
  }

  test("JSON feed -> TimeKernel clocks -> pipeline == typed fixture pipeline") {
    import spark.implicits._
    val actions = Fixture.pbp(spark).collect().toSeq
    val json = {
      val items = actions.map { a =>
        def q(v: Option[_]): String = v.map {
          case s: String => "\"" + s + "\""
          case x => x.toString
        }.getOrElse("null")
        s"""{"actionNumber": ${a.action_id}, "period": ${a.period},
           | "clock": "${clockString(a.period, a.global_clock)}",
           | "actionType": "${a.action_type}",
           | "subType": ${q(a.sub_type)}, "shotResult": ${q(a.shot_result)},
           | "teamId": ${q(a.team_id)}, "personId": ${q(a.person_id)}}""".stripMargin
      }
      s"""{"game": {"actions": [${items.mkString(",")}]}}"""
    }

    val schema = new StructType()
      .add("actionNumber", LongType).add("period", IntegerType)
      .add("clock", StringType).add("actionType", StringType)
      .add("subType", StringType).add("shotResult", StringType)
      .add("teamId", LongType).add("personId", LongType)

    val docSchema = new StructType()
      .add("game", new StructType().add("actions", ArrayType(schema)))
    val parsed = Seq(json).toDF("json")
      .select(explode(from_json(col("json"), docSchema)("game")("actions")).as("a"))
      .select(col("a.*"))
      .withColumn("global_clock",
        TimeKernel.globalClock(col("period"), col("clock")))

    val typed = parsed.select(
      lit(Fixture.gameId).as("game_id"),
      col("actionNumber").as("action_id"),
      col("period"),
      col("global_clock"),
      col("actionType").as("action_type"),
      col("subType").as("sub_type"),
      lit(null).cast("string").as("descriptor"),
      col("shotResult").as("shot_result"),
      col("teamId").as("team_id"),
      col("personId").as("person_id"),
      lit(null).cast("long").as("assist_person_id"),
      lit(null).cast("long").as("block_person_id"),
      lit(null).cast("long").as("steal_person_id"),
      lit(null).cast("long").as("foul_drawn_person_id"),
      lit(null).cast("long").as("jumpball_won_person_id"),
      lit(null).cast("long").as("jumpball_lost_person_id"),
      lit(null).cast("long").as("jumpball_recovered_person_id"),
      lit(null).cast("double").as("x"),
      lit(null).cast("double").as("y"),
      lit(null).cast("double").as("dist")
    ).as[Model.PbpAction]

    val fromFeed = GamePipeline.run(spark, typed, Fixture.starters(spark),
      Fixture.gameTeams(spark))
    val direct = GamePipeline.run(spark, Fixture.pbp(spark), Fixture.starters(spark),
      Fixture.gameTeams(spark))

    def stintSet(r: GamePipeline.Result) = r.lineupStints
      .select("team_id", "lineup_id", "start_clock", "end_clock")
      .collect().map(_.toSeq).toSet
    assert(stintSet(fromFeed) == stintSet(direct))

    def pmSet(r: GamePipeline.Result) = r.stintPlusMinus
      .select("stint_id", "plus_minus").collect().map(_.toSeq).toSet
    assert(pmSet(fromFeed) == pmSet(direct))
  }
}
