package graft.nba

import graft.SparkTestSession
import graft.nba.Model._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests of the stint fold on generated substitution
  * streams (SURVEY §5.2.3 invariants): every emitted lineup has 5
  * players; stints tile the game exactly; lineup identity is
  * order-insensitive. Streams are generated as random legal single swaps
  * from a seeded RNG (deterministic across runs).
  */
class StintPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def randomGame(seed: Long, gameId: Long): (Seq[Starter], Seq[SubEvent]) = {
    val rnd = new scala.util.Random(seed)
    val teams = Seq(100L, 200L)
    val starters = teams.flatMap { t =>
      (1L to 5L).map(p => Starter(gameId, t, t * 100 + p))
    }
    val subs = teams.flatMap { t =>
      var onCourt = (1L to 5L).map(p => t * 100 + p).toSet
      var bench = (6L to 9L).map(p => t * 100 + p).toSet
      var clock = 0.0
      val out = Seq.newBuilder[SubEvent]
      for (_ <- 0 until 20) {
        clock += 10.0 + rnd.nextInt(100)
        if (clock < 1440.0) {
          val outP = onCourt.toSeq.sorted(Ordering[Long])(rnd.nextInt(5))
          val inP = bench.toSeq.sorted(Ordering[Long])(rnd.nextInt(bench.size))
          onCourt = onCourt - outP + inP
          bench = bench - inP + outP
          out += SubEvent(gameId, t, outP, clock, is_in = false)
          out += SubEvent(gameId, t, inP, clock, is_in = true)
        }
      }
      out.result()
    }
    (starters, subs)
  }

  test("fold invariants hold across random legal games") {
    import spark.implicits._
    val games = (1 to 5).map(i => randomGame(seed = 42L + i, gameId = i.toLong))
    val starters = games.flatMap(_._1).toDS()
    val subs = games.flatMap(_._2).toDS()
    val gameEnd = games.indices.map(i => ((i + 1).toLong, 1440.0))
      .toDF("game_id", "game_end_clock")

    val snaps = Stints.lineupSnapshots(spark, starters, subs)
    val stints = Stints.lineupStints(snaps, gameEnd)
    val rows = stints
      .select("game_id", "team_id", "player_ids", "lineup_id", "start_clock", "end_clock")
      .collect()

    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getSeq[Long](2)
      assert(ids.size == 5, s"non-5-man lineup: $r")
      assert(ids.sorted.mkString("_") == r.getString(3))
    }
    // tiling per (game, team): gap-free cover of [0, 1440]
    rows.groupBy(r => (r.getLong(0), r.getLong(1))).foreach { case (k, g) =>
      val sorted = g.sortBy(_.getDouble(4))
      assert(sorted.head.getDouble(4) == 0.0, s"$k does not start at 0")
      assert(sorted.last.getDouble(5) == 1440.0, s"$k does not end at game end")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(5) == b.getDouble(4), s"gap in $k")
        case _ =>
      }
    }
  }

  test("a same-clock batch applies its outs, then its ins, whatever the row order") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (g, t) = (1L, 100L)
    def player(i: Long): Long = t * 100 + i
    val starters = (1L to 5L).map(i => Starter(g, t, player(i)))
    // at 50 s player 5 goes out and back in while player 1 makes way for
    // player 6; applied row by row, the in-then-out order would bench 5
    val batch = Seq(
      SubEvent(g, t, player(5), 50.0, is_in = false),
      SubEvent(g, t, player(5), 50.0, is_in = true),
      SubEvent(g, t, player(1), 50.0, is_in = false),
      SubEvent(g, t, player(6), 50.0, is_in = true))
    val want = Seq(0.0 -> (1L to 5L).map(player), 50.0 -> (2L to 6L).map(player))
    def snaps(ds: org.apache.spark.sql.Dataset[LineupSnapshot]) =
      ds.collect().map(s => s.global_clock -> s.player_ids).toSeq.sortBy(_._1)

    for (rows <- Seq(batch, batch.reverse)) {
      assert(snaps(Stints.lineupSnapshots(spark, starters.toDS(), rows.toDS())) == want,
        s"batch fold on $rows")
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SubEvent]
      val q = graft.streaming.StreamingStints(input.toDS(), Map((g, t) -> (1L to 5L).map(player)))
        .writeStream.outputMode("append").format("memory")
        .queryName("stint_same_clock").start()
      try {
        input.addData(rows); q.processAllAvailable()
        // a later clock flushes the buffered batch
        input.addData(SubEvent(g, t, 99L, 99999.0, is_in = true)); q.processAllAvailable()
        assert(snaps(spark.table("stint_same_clock").as[LineupSnapshot]
          .filter(_.global_clock < 99999.0)) == want, s"streaming fold on $rows")
      } finally q.stop()
    }
  }
}
