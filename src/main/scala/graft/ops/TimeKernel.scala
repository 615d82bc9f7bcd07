package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar time/clock kernel (reference §2.8): ISO-8601 game-clock parsing
  * and OT-aware clock math, as pure column expressions —
  * fully codegen'd by Catalyst, zero UDFs.
  */
object TimeKernel {

  /** Parse an ISO-8601 duration clock string like `"PT11M32.00S"` into
    * seconds (double). Reference C7: `duration(lineup.clock)` at
    * `/root/reference/src/queries/game.py:88` and
    * `pd.Timedelta(clock).total_seconds()` at
    * `/root/reference/src/managers/game.py:174`.
    */
  def clockSeconds(clock: Column): Column =
    coalesce(regexp_extract(clock, "PT(\\d+)M", 1).cast("double"), lit(0.0)) * 60.0 +
      coalesce(regexp_extract(clock, "(\\d+(?:\\.\\d+)?)S", 1).cast("double"), lit(0.0))

  /** Period length in seconds: 720 for regulation (Q1-Q4), 300 for OT.
    * Reference constants at `/root/reference/src/managers/game.py:150-152`.
    */
  def periodLength(period: Column): Column =
    when(period <= 4, 720.0).otherwise(300.0)

  /** Seconds elapsed from game start to the start of `period`
    * (`2880 + (p-5)*300` for OT; `/root/reference/src/managers/game.py:207-212`). */
  def periodStartOffset(period: Column): Column =
    when(period <= 4, (period - 1).cast("double") * 720.0)
      .otherwise(lit(2880.0) + (period - 5).cast("double") * 300.0)

  /** Global game clock (seconds since game start) from a period number and
    * a count-down clock string. */
  def globalClock(period: Column, clock: Column): Column =
    periodStartOffset(period) + (periodLength(period) - clockSeconds(clock))

  /** Inverse of [[periodStartOffset]]: the period containing a global
    * clock instant (regulation tiles of 720 s, OT tiles of 300 s). */
  def periodOfClock(clock: Column): Column =
    when(clock < 2880.0, floor(clock / 720.0).cast("int") + 1)
      .otherwise(lit(5) + floor((clock - 2880.0) / 300.0).cast("int"))

  /** Seconds into the containing period (the reference's `local_clock`). */
  def localClock(clock: Column): Column =
    clock - periodStartOffset(periodOfClock(clock))

  /** Composite string key by `_`-concatenation (reference §1.4 id builders,
    * e.g. `game.py:17`, `game.py:213-215`). */
  def compositeKey(parts: Column*): Column = concat_ws("_", parts: _*)

  /** Canonical set id: sorted elements joined by `_` — the reference's
    * lineup identity (sorted player ids, `game.py:69-70`,
    * `src/managers/game.py:169`). Same 5 players ⇒ same id, any order. */
  def setKey(arr: Column): Column =
    array_join(transform(sort_array(arr), _.cast("string")), "_")
}
