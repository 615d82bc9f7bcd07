package graft

import graft.ops.{AsOf, LongKeyJoin, Sessionize, TimeKernel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests of the generic operator library on tiny in-memory frames —
  * semantics pinned independently of the oracle gate, including the
  * reference's tie rules (state at T attributes events at T; half-open
  * intervals).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("AsOf.join picks latest state at-or-before, ties go to state") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 00:00:05")),
      (1L, 11L, ts("2024-01-01 00:00:10")), // exactly at state change
      (1L, 12L, ts("2023-12-31 23:59:59")), // before any state
      (2L, 20L, ts("2024-01-01 00:00:30"))
    ).toDF("k", "ev_id", "t")
    val state = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00")),
      (1L, 101L, ts("2024-01-01 00:00:10")),
      (2L, 200L, ts("2024-01-01 00:00:31")) // after the event
    ).toDF("k", "st_id", "st_t")

    val got = AsOf.join(events, state, Seq("k"), "t", "st_t",
        payload = Seq("st_id"), tieBreak = Seq("st_id"))
      .select("ev_id", "st_id").as[(Long, Option[Long])].collect().toMap
    assert(got(10L).contains(100L))
    assert(got(11L).contains(101L)) // tie: state at T applies to event at T
    assert(got(12L).isEmpty)        // no prior state -> null
    assert(got(20L).isEmpty)
  }

  test("AsOf.join tolerance nulls out stale state") {
    val events = Seq((1L, 10L, ts("2024-01-01 01:00:00"))).toDF("k", "ev_id", "t")
    val state = Seq((1L, 100L, ts("2024-01-01 00:00:00"))).toDF("k", "st_id", "st_t")
    val got = AsOf.join(events, state, Seq("k"), "t", "st_t",
        payload = Seq("st_id"), tolerance = Some(60.0))
      .select("st_id").as[Option[Long]].collect()
    assert(got.head.isEmpty)
  }

  test("AsOf.join agrees with the equi+range interval join") {
    // state rows tile time per key: as-of == interval containment
    val state = Seq(
      (1L, 100L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")),
      (1L, 101L, ts("2024-01-01 00:10:00"), ts("2024-01-01 00:20:00")),
      (2L, 200L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:20:00"))
    ).toDF("k", "st_id", "start_t", "end_t")
    val events = Seq(
      (1L, 1L, ts("2024-01-01 00:05:00")),
      (1L, 2L, ts("2024-01-01 00:10:00")),
      (1L, 3L, ts("2024-01-01 00:15:00")),
      (2L, 4L, ts("2024-01-01 00:19:59"))
    ).toDF("k", "ev_id", "t")

    val viaAsOf = AsOf.join(events, state.drop("end_t"), Seq("k"), "t", "start_t",
        payload = Seq("st_id"), tieBreak = Seq("st_id"))
      .select("ev_id", "st_id").as[(Long, Long)].collect().toMap
    val viaInterval = OpsSpec.intervalJoin(events, state, Seq("k"), "t", "start_t", "end_t")
      .select("ev_id", "st_id").as[(Long, Long)].collect().toMap
    assert(viaAsOf == viaInterval)
    assert(viaAsOf == Map(1L -> 100L, 2L -> 101L, 3L -> 101L, 4L -> 200L))
  }

  test("Sessionize splits on gap strictly greater than threshold") {
    val df = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00")),
      (1L, 2L, ts("2024-01-01 00:00:30")), // gap 30s == threshold -> same
      (1L, 3L, ts("2024-01-01 00:01:01")), // gap 31s -> new session
      (2L, 4L, ts("2024-01-01 00:00:00"))
    ).toDF("k", "id", "t")
    val got = Sessionize(df, Seq("k"), "t", gapMicros = 30L * 1000000, tieBreak = Seq("id"))
      .select("id", "session_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("TimeKernel parses ISO clocks and OT math") {
    val df = Seq(("PT11M32.00S", 1), ("PT0M05.50S", 5), ("PT12M00.00S", 4))
      .toDF("clock", "period")
    val got = df.select(
      TimeKernel.clockSeconds(col("clock")).as("secs"),
      TimeKernel.periodLength(col("period")).as("len"),
      TimeKernel.globalClock(col("period"), col("clock")).as("g"))
      .as[(Double, Double, Double)].collect()
    assert(got(0) == ((692.0, 720.0, 28.0)))            // Q1: 720-692 elapsed
    assert(got(1) == ((5.5, 300.0, 2880.0 + 294.5)))    // OT1
    assert(got(2) == ((720.0, 720.0, 3 * 720.0 + 0.0))) // Q4 start
  }

  test("TimeKernel composite and set keys") {
    val df = Seq((Seq(5L, 3L, 9L), 7L)).toDF("ids", "n")
    val got = df.select(
      TimeKernel.setKey(col("ids")).as("sk"),
      TimeKernel.compositeKey(col("n"), lit("x")).as("ck"))
      .as[(String, String)].collect().head
    assert(got == (("3_5_9", "7_x")))
  }

  test("LongKeyJoin joins two sides that share attributes, as a self-join does") {
    // a dotted name must not read as a struct field
    val l = Seq(("a", 1L, 1), ("a", 2L, 2), ("b", 1L, 3), ("c", 9L, 4)).toDF("s", "n", "l.v")
    // both sides carry l's `s` and `n`: Spark re-instances the right one
    val r = l.filter(col("`l.v`") < 4).select(col("s"), col("n"), (col("`l.v`") * 10).as("rv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (keys <- Seq(Seq("s"), Seq("s", "n")); how <- Seq("inner", "left_outer")) {
      val got = LongKeyJoin(l, r, keys, how, guard = "rv")
      val want = l.join(r, keys, how)
      assert(got.columns.toSeq == want.columns.toSeq, s"$keys $how")
      assert(rows(got) == rows(want), s"$keys $how")
    }
  }

  test("LongKeyJoin equals the === join; its build side keys on one bigint") {
    val l = Seq[(Option[String], Option[Long], Int)](
      (Some("a"), Some(1L), 1), (Some("a"), Some(2L), 2), (Some("b"), Some(1L), 3),
      (None, Some(1L), 4), (Some("a"), None, 5), (Some("c"), Some(9L), 6))
      .toDF("s", "n", "lv")
    val r = Seq[(Option[String], Option[Long], String)](
      (Some("a"), Some(1L), "x"), (Some("a"), Some(1L), "y"), (Some("b"), Some(1L), "z"),
      (Some("a"), Some(2L), "w"), (None, Some(1L), "null s"), (Some("a"), None, "null n"))
      .toDF("s", "n", "rv")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (keys <- Seq(Seq("s"), Seq("s", "n")); how <- Seq("inner", "left_outer")) {
      val got = LongKeyJoin(l, r, keys, how, guard = "rv")
      val want = l.join(r, keys, how)
      assert(got.columns.toSeq == want.columns.toSeq, s"$keys $how")
      assert(rows(got) == rows(want), s"$keys $how")
      assert(rows(got).nonEmpty)

      Force(got)
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.optimizer.BuildLeft
      object walk extends AdaptiveSparkPlanHelper
      val builds = walk.collect(got.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec =>
          (if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys)
            .map(_.dataType.simpleString)
      }
      assert(builds == Seq(Seq("bigint")), s"$keys $how build keys: $builds")
    }
  }
}

object OpsSpec {

  /** The direct equi+range interval join (J5 as literally written in the
    * reference): events matched to state intervals `[start, end)` on equal
    * keys. Catalyst plans it as a hash/sort-merge join on `keys` with the
    * band as a post-join filter — correct when intervals tile time (each
    * event matches exactly one interval), which makes it the reference
    * `AsOf.join` is checked against.
    */
  def intervalJoin(
      events: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      eventTime: String,
      startCol: String,
      endCol: String): DataFrame = {
    val renamed = keys.foldLeft(intervals)((d, k) => d.withColumnRenamed(k, s"__ik_$k"))
    val cond = keys
      .map(k => events(k) === renamed(s"__ik_$k"))
      .reduce(_ && _) &&
      events(eventTime) >= renamed(startCol) &&
      events(eventTime) < renamed(endCol)
    events.join(renamed, cond, "inner").drop(keys.map(k => s"__ik_$k"): _*)
  }
}
