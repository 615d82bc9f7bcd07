package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of ("latest state at-or-before event time") join — the reference's
  * workhorse attribution pattern: every event is attributed to the lineup
  * stint live at event time (interval join J5,
  * `/root/reference/src/queries/game.py:233-235` and 8 sibling sites).
  *
  * Instead of an equi+range join (which Catalyst plans as a hash join with
  * a post-filter, and which explodes when intervals are wide relative to
  * key cardinality), we use the union+window formulation: state rows and
  * event rows are unioned, sorted by time within each key partition, and
  * the most recent state is propagated onto each event with
  * `last(_, ignoreNulls = true)`. Cost is one shuffle on the key and an
  * O(n log n) per-partition sort — linear scaling to 100 TB, no range
  * explosion, and the shuffle key (`keys`) is the same partitioning later
  * stages reuse.
  */
object AsOf {

  /** Left-as-of join: for every row of `events`, attach `payload` columns
    * from the latest `state` row with the same `keys` whose `stateTime` is
    * <= the event's `eventTime` (ties: state applies to events at the same
    * instant, matching the reference's half-open `[start, end)` stint
    * intervals, game.py:233-235). Events with no prior state keep nulls.
    *
    * @param tieBreak  extra state-side ordering columns so that two state
    *                  rows at the same instant resolve deterministically
    *                  (the later one in this ordering wins).
    * @param tolerance if set, a matched state older than this many
    *                  seconds before the event is nulled out (reference
    *                  J10's "within 10 s" rebound window,
    *                  game.py:506-513). The time axis may be a timestamp
    *                  column or a plain numeric seconds column — detected
    *                  from the event-time column's type.
    */
  def join(
      events: DataFrame,
      state: DataFrame,
      keys: Seq[String],
      eventTime: String,
      stateTime: String,
      payload: Seq[String],
      tieBreak: Seq[String] = Nil,
      tolerance: Option[Double] = None): DataFrame = {

    require(payload.nonEmpty, "payload columns required")
    val evStruct = struct(events.columns.toIndexedSeq.map(events(_)): _*)

    // Two aligned sides: (keys..., __t, __is_ev, __tb..., __ev, payload...)
    val ev = events.select(
      keys.map(col) ++
        Seq(col(eventTime).as("__t"), lit(1).as("__is_ev")) ++
        tieBreak.zipWithIndex.map { case (c, i) =>
          lit(null).cast(state.schema(c).dataType).as(s"__tb$i")
        } ++
        Seq(evStruct.as("__ev")) ++
        payload.map(c => lit(null).cast(state.schema(c).dataType).as(s"__p_$c")): _*)
    val evType = ev.schema("__ev").dataType

    val st = state.select(
      keys.map(col) ++
        Seq(col(stateTime).as("__t"), lit(0).as("__is_ev")) ++
        tieBreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") } ++
        Seq(lit(null).cast(evType).as("__ev")) ++
        payload.map(c => col(c).as(s"__p_$c")): _*)

    // State rows sort before events at equal __t (is_ev 0 < 1) so state at
    // instant T attributes events at T. Among equal-time state rows the
    // tieBreak ordering decides; `last` then picks the winner.
    val ordering: Seq[Column] =
      col("__t") +: col("__is_ev") +: tieBreak.indices.map(i => col(s"__tb$i"))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = ev.unionByName(st).select(
      col("__is_ev") +: col("__ev") +: col("__t").as("__ev_t") +:
        payload.map(c => last(col(s"__p_$c"), ignoreNulls = true).over(w).as(s"__f_$c")) :+
        last(when(col("__is_ev") === 0, col("__t")), ignoreNulls = true).over(w).as("__st_t"): _*)

    val isTimestamp = events.schema(eventTime).dataType
      .isInstanceOf[org.apache.spark.sql.types.TimestampType]
    val inTol: Column = tolerance match {
      case Some(tol) if isTimestamp =>
        unix_micros(col("__ev_t")) - unix_micros(col("__st_t")) <= (tol * 1e6).toLong
      case Some(tol) =>
        col("__ev_t") - col("__st_t") <= tol
      case None => lit(true)
    }

    filled
      .where(col("__is_ev") === 1)
      .select(col("__ev.*") +:
        payload.map(c => when(inTol, col(s"__f_$c")).as(c)): _*)
  }
}
