package graft.streaming

import graft.nba.GameFeed
import graft.nba.Model.PbpAction

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming feed ingestion — the reference's poll-fetch-normalize loop
  * (`/root/reference/src/fetcher.py:12,100-115`) as a real Structured
  * Streaming source: event files land in a directory, `readStream` picks
  * them up, a stateful per-game fold numbers each event, and the batch
  * feed's own expansion ([[GameFeed.expand]]) turns the numbered events
  * into typed play-by-play actions — the incremental twin of
  * [[GameFeed.pbp]] (period bracket rows excluded: they need end-of-game
  * knowledge a live stream doesn't have).
  *
  * State per game is O(1) — the event ordinal plus one substitution
  * counter per side — so the operator shards to any game cardinality the
  * state store holds. Ordering contract (same as the reference's append-
  * only poll loop): files must arrive so that each game's events are
  * monotone in (ts, event_id) across micro-batches; within a batch the
  * group iterator is sorted before folding.
  */
object StreamingFeed {

  /** One raw feed event (the driver `events` schema, ts normalized). */
  case class RawEvent(
      user_id: Long, event_id: Long, event_type: String,
      value: Double, ts: java.sql.Timestamp)

  /** Per-game fold state: events seen, substitutions per side. */
  case class FeedState(n: Long, kHome: Long, kAway: Long)

  /** A raw event with its ordinals, the input columns of
    * [[GameFeed.expand]]: `n` is the 1-based event ordinal within the
    * game, `k` the running count (inclusive) of signups by the event's
    * team. */
  case class NumberedEvent(
      game_id: Long, event_id: Long, event_type: String, value: Double,
      n: Long, k: Long)

  private def us(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  /** Streaming entry: raw events in, typed pbp actions out. The fold
    * only numbers events; the expansion runs after it as a stateless
    * projection. */
  def actions(events: Dataset[RawEvent]): Dataset[PbpAction] = {
    val spark = events.sparkSession
    import spark.implicits._
    val numbered = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FeedState, NumberedEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (gameId: Long, it: Iterator[RawEvent], state: GroupState[FeedState]) =>
          var st = state.getOption.getOrElse(FeedState(0L, 0L, 0L))
          val out = Seq.newBuilder[NumberedEvent]
          for (e <- it.toSeq.sortBy(e => (us(e.ts), e.event_id))) {
            val home = e.event_id % 2 == 0
            val sub = if (e.event_type == "signup") 1L else 0L
            st = if (home) FeedState(st.n + 1, st.kHome + sub, st.kAway)
              else FeedState(st.n + 1, st.kHome, st.kAway + sub)
            out += NumberedEvent(gameId, e.event_id, e.event_type, e.value,
              st.n, if (home) st.kHome else st.kAway)
          }
          state.update(st)
          out.result().iterator
      }
    GameFeed.expand(numbered.toDF()).as[PbpAction]
  }

  /** Streaming scan of a directory of driver-schema event parquet files —
    * same ts normalization as the batch reader [[graft.Tables]]. The
    * reference schema is probed from the files already present; `glob`
    * restricts which files count as feed input (e.g. `events.parquet`
    * when the watched directory holds other tables too). */
  def eventsStream(
      spark: SparkSession, dir: String,
      glob: String = "*.parquet"): Dataset[RawEvent] = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeTs(fileSource(spark, dir, glob))
      .select("user_id", "event_id", "event_type", "value", "ts")
      .as[RawEvent]
  }

  /** Schema-probed file-source stream over one parquet table of the sf
    * directory (`readStream` requires an explicit schema; the batch read
    * supplies it) — the single source-construction path every streaming
    * query shares. */
  def fileSource(spark: SparkSession, dir: String,
      glob: String): org.apache.spark.sql.DataFrame = {
    // footer probe memoized per (session, dir, glob): ~40 drains share a
    // handful of (dir, glob) shapes, and each probe is a driver-side
    // file listing + footer read that never changes within a session
    val refSchema = graft.SessionCache.onceStrong(
      spark, s"streamschema#$dir#$glob") {
      spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    }
    spark.readStream.schema(refSchema)
      .option("pathGlobFilter", glob).parquet(dir)
  }
}
