package graft.queries

import graft.Q
import graft.streaming.StreamingFeed

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming queries under the oracle gate: the Structured Streaming feed
  * ingestion (§2.9) is driven to completion over the sf directory with
  * `Trigger.AvailableNow`, its parquet sink read back, and the result
  * hash-compared against a closed-form DuckDB recomputation — the same
  * feed-oracle architecture the batch domain queries use, now proving the
  * incremental engine end to end (source → stateful fold → sink).
  */
object StreamingQ {

  /** Session-conf overlay applied to EVERY one-shot drain (round-11
    * optimization, guide §1.1/§6). Both keys drop a safeguard durable
    * checkpoints want, which is only right because each drain writes
    * JVM-scoped tmpfs scratch, deleted on exit ([[graft.Scratch.tempDir]]),
    * from one query at a time; production checkpoints on shared storage
    * keep Spark's defaults, so the overlay is set for drains only.
    *
    * `fileChecksum.enabled=false`: Spark 4.1's checkpoint file-checksum
    * layer writes one `.checksum` sidecar per checkpoint file (state
    * deltas, offset/commit log entries, sink manifests) — measured at
    * ~HALF of every state-store commit at drain scale
    * (tools.StreamCostProbe: commitMs 13.6k → 6.3k summed over 32
    * stores, both batches) while adding nothing a drain consumes: the
    * restart gates recover through the offset/commit logs with or
    * without sidecars (Spark 4.0 semantics — the pre-change log was
    * already full of "No checksum file found" warnings because mixed
    * versions tolerate absence by design).
    *
    * `checkpointFileManagerClass`: without Hadoop's native library the
    * local filesystem starts a process for each permission call, and
    * Spark's default `FileContext` manager makes ten per checkpoint file
    * and its `.crc` (`chmod` on each create, `readlink` four times on
    * each rename): ~45 ms per offset, commit, sink-log and state-store
    * file. [[graft.streaming.LocalCheckpointFileManager]] writes the same
    * files through `java.nio.file` with no fork. (Spark's `FileSystem`
    * manager skips the `readlink`s but still forks `chmod`, and on the
    * local filesystem it keeps the old file when asked to overwrite one,
    * which state-store deltas and changelogs do on a replayed batch.)
    * The Hadoop conf carries the setting to the stream thread's logs and
    * to the executors' state stores (HDFS-backed deltas and RocksDB
    * changelogs alike). */
  private val drainConfs = Map(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** State-store fan-out of the one-shot drains (r12, guide §2.2/§1.2):
    * every stateful operator commits ONE state store per shuffle
    * partition per micro-batch, and at drain scale (≤ a few thousand rows
    * of state) the per-store commit cost — creating and renaming its
    * checkpoint files — dominates the actual state bytes, so 32 stores
    * cost ~4× the commit wall of 8 for identical results. Results are
    * partition-count-invariant by construction AND by test: Verify has
    * always driven these same drains at 4 partitions (local[4],
    * shuffle=4) while Bench used 32, with every oracle green. Production
    * sizes state fan-out to key cardinality × state bytes, not cores. */
  private val DrainShufflePartitions = 8

  /** The session a drain is built and started on: a CLONE of `spark`
    * (`newSession()`: same context, shared state, and injected
    * extensions; fresh conf) carrying [[drainConfs]], `extraConfs` and
    * `shufflePartitions`, which sizes the state-store count. The shared
    * session's conf is never mutated, so a concurrent query build
    * elsewhere in the JVM can't race a set/restore window and pin the
    * wrong state-store count into a checkpoint. */
  private[graft] def drainSession(spark: SparkSession,
      shufflePartitions: Int = DrainShufflePartitions,
      extraConfs: Map[String, String] = Map.empty): SparkSession = {
    val sess = spark.newSession()
    (drainConfs ++ extraConfs +
      ("spark.sql.shuffle.partitions" -> shufflePartitions.toString))
      .foreach { case (k, v) => sess.conf.set(k, v) }
    sess
  }

  /** What a drain's builder is handed: the drain session and the events
    * feed the scaffold drains. The scaffold decides where the feed lives,
    * so a builder is one frame for the one-shot drain and the restart
    * alike. `events` opens a fresh file-source stream on every call (a
    * join reads one per side). Document streams and static reads use
    * `sess` with the sf directory of their query. */
  private[graft] trait Feed {
    def sess: SparkSession
    def events: Dataset[StreamingFeed.RawEvent]
  }

  private[graft] object Feed {
    private def over(s: SparkSession, dir: String, glob: String): Feed =
      new Feed {
        val sess = s
        def events = StreamingFeed.eventsStream(s, dir, glob)
      }

    /** The sf directory's `events.parquet`: the whole feed in one go. */
    def oneShot(sess: SparkSession, dir: String): Feed =
      over(sess, dir, "events.parquet")

    /** Every slice published into a restart scaffold's watch directory. */
    def watched(sess: SparkSession, watch: String): Feed =
      over(sess, watch, "*.parquet")
  }

  /** Drive a streaming frame to completion once per (session, sfDir,
    * tag) on a [[drainSession]]: parquet sink + checkpoint live in
    * JVM-scoped scratch ([[graft.Scratch.tempDir]]), `Trigger.AvailableNow`
    * plus the trailing no-data batch drain the source AND any
    * watermark-dependent state, and the sink is read back as a batch
    * frame. The builder's [[Feed]] reads `events.parquet` of `dir`
    * ([[Feed.oneShot]]). The tag keys the cache and names the scratch
    * dir.
    *
    * Memoization lives in [[graft.SessionCache]] (memoized-future shape,
    * weak session keying). The cached value is the sink PATH — a string
    * that doesn't reference the session — held strongly (`onceStrong`):
    * a weakly-held path could be GC-cleared between two specs and silently
    * re-run a whole stream, while the strong path pins only bytes. */
  private def streamOnce(tag: String, spark: SparkSession, dir: String,
      shufflePartitions: Int = DrainShufflePartitions,
      extraConfs: Map[String, String] = Map.empty)(
      build: Feed => DataFrame): DataFrame = {
    val path = graft.SessionCache.onceStrong(spark, s"stream#$dir#$tag") {
      val tmp = graft.Scratch.tempDir(s"graft-$tag-").toString
      drainTo(tmp, build(
        Feed.oneShot(drainSession(spark, shufflePartitions, extraConfs), dir)))
      s"$tmp/out"
    }
    spark.read.parquet(path)
  }

  /** Runs the streaming frame `df` to completion under
    * `Trigger.AvailableNow`: parquet sink at `$tmp/out`, checkpoint at
    * `$tmp/ckpt`. Returns the finished query, whose progress stays
    * readable (tools.StreamCostProbe). */
  private[graft] def drainTo(tmp: String, df: DataFrame): StreamingQuery = {
    val q = df.writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The feed ingestion: the events streamed through the stateful
    * per-game fold (see [[StreamingFeed.actions]]). */
  private def feedActions(feed: Feed): DataFrame =
    StreamingFeed.actions(feed.events).toDF()

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString(", ")
  private def cycSql(xs: Seq[String]): String =
    s"list_extract([${sqlList(xs)}], CAST(e % ${xs.size} AS INT) + 1)"
  private val styleList = sqlList(graft.nba.GameFeed.shotStyles)
  private val gf = graft.nba.GameFeed

  /** The one-shot feed oracle, shared VERBATIM by q73 (single query
    * incarnation drains everything) and q117 (a checkpoint restart in
    * the middle): recovery has to be invisible in the output, so both
    * queries gate against the identical closed-form recomputation. */
  private val feedIngestSql: String =
    s"""WITH base AS (
      |  SELECT user_id AS game_id, event_id AS e, event_type, value,
      |         CAST(45.0 * row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           - CASE WHEN event_type = 'error' AND value < 100.0 THEN 40.0 ELSE 0.0 END
      |           AS DOUBLE) AS clock,
      |         CASE WHEN event_id % 2 = 0 THEN user_id % 4 + 1
      |              ELSE (user_id + 1) % 4 + 1 END AS tm,
      |         CASE WHEN event_id % 2 = 0 THEN (user_id + 1) % 4 + 1
      |              ELSE user_id % 4 + 1 END AS op
      |  FROM events
      |),
      |subk AS (
      |  SELECT *, row_number() OVER (PARTITION BY game_id, tm ORDER BY clock) AS k
      |  FROM base WHERE event_type = 'signup'
      |),
      |acts AS (
      |  SELECT game_id, e*4 + u.i AS action_id, clock,
      |         'substitution' AS atype,
      |         CASE WHEN u.i = 0 THEN 'out' ELSE 'in' END AS stype,
      |         CAST(NULL AS VARCHAR) AS descr, CAST(NULL AS VARCHAR) AS result,
      |         tm AS team_id,
      |         CASE WHEN u.i = 0 THEN tm*100 + (k-1)%10
      |              ELSE tm*100 + (k+4)%10 END AS person_id,
      |         CAST(NULL AS BIGINT) AS assist_pid, CAST(NULL AS BIGINT) AS block_pid,
      |         CAST(NULL AS BIGINT) AS steal_pid, CAST(NULL AS BIGINT) AS drawn_pid,
      |         CAST(NULL AS BIGINT) AS jw_pid, CAST(NULL AS BIGINT) AS jl_pid,
      |         CAST(NULL AS BIGINT) AS jr_pid,
      |         CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS y
      |  FROM subk CROSS JOIN (SELECT unnest([0, 1]) AS i) u
      |  UNION ALL
      |  SELECT game_id, e*4, clock,
      |         CASE WHEN event_type = 'click' THEN '2pt' ELSE '3pt' END,
      |         NULL,
      |         list_extract([$styleList], CAST(e % 14 AS INT) + 1),
      |         CASE WHEN value >= 100.0 THEN 'Made' ELSE 'Missed' END,
      |         tm, tm*100 + e%10,
      |         CASE WHEN value >= 100.0 AND e%3 = 0 THEN tm*100 + (e+1)%10 END,
      |         CASE WHEN value < 100.0 AND e%5 = 0 THEN op*100 + (e+2)%10 END,
      |         NULL, NULL, NULL, NULL, NULL,
      |         CAST(e%50 - 25 AS DOUBLE), CAST(e%35 AS DOUBLE)
      |  FROM base WHERE event_type IN ('click', 'purchase')
      |  UNION ALL
      |  SELECT game_id, e*4, clock,
      |         CASE WHEN value < 100.0 THEN 'rebound'
      |              WHEN value < 180.0 THEN 'violation' ELSE 'jumpball' END,
      |         CASE WHEN value < 100.0 THEN
      |                CASE WHEN e%2 = 0 THEN 'defensive' ELSE 'offensive' END
      |              WHEN value < 180.0 THEN ${cycSql(gf.violationSubs)}
      |              ELSE 'recovered' END,
      |         CASE WHEN value >= 180.0 THEN ${cycSql(gf.jumpballDescs)} END,
      |         NULL, tm, tm*100 + e%10,
      |         NULL, NULL, NULL, NULL,
      |         CASE WHEN value >= 180.0 THEN tm*100 + e%10 END,
      |         CASE WHEN value >= 180.0 THEN op*100 + (e+1)%10 END,
      |         CASE WHEN value >= 180.0 THEN tm*100 + (e+7)%10 END,
      |         NULL, NULL
      |  FROM base WHERE event_type = 'error'
      |  UNION ALL
      |  SELECT game_id, e*4, clock, 'foul',
      |         ${cycSql(gf.foulSubs)},
      |         ${cycSql(gf.foulDescs)},
      |         NULL, tm, tm*100 + e%10,
      |         NULL, NULL, NULL, op*100 + (e+3)%10,
      |         NULL, NULL, NULL, NULL, NULL
      |  FROM base
      |  WHERE event_type NOT IN ('signup','click','purchase','error')
      |    AND value < 80.0
      |  UNION ALL
      |  SELECT game_id, e*4 + a.i, clock, 'freethrow',
      |         CAST(a.i AS VARCHAR) || ' of 2', NULL,
      |         CASE WHEN (e + a.i) % 2 = 0 THEN 'Made' ELSE 'Missed' END,
      |         op, op*100 + (e+3)%10,
      |         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      |  FROM base CROSS JOIN (SELECT unnest([1, 2]) AS i) a
      |  WHERE event_type NOT IN ('signup','click','purchase','error')
      |    AND value < 80.0
      |  UNION ALL
      |  SELECT game_id, e*4, clock, 'turnover',
      |         ${cycSql(gf.turnoverSubs)},
      |         ${cycSql(gf.turnoverDescs)},
      |         NULL, tm, tm*100 + e%10,
      |         NULL, NULL,
      |         CASE WHEN e%4 = 0 THEN op*100 + (e+5)%10 END,
      |         NULL, NULL, NULL, NULL, NULL, NULL
      |  FROM base
      |  WHERE event_type NOT IN ('signup','click','purchase','error')
      |    AND value >= 80.0 AND value < 160.0
      |  UNION ALL
      |  SELECT game_id, e*4, clock, 'timeout',
      |         CASE WHEN e%2 = 0 THEN 'full' ELSE 'short' END,
      |         NULL, NULL, tm, CAST(NULL AS BIGINT),
      |         NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL
      |  FROM base
      |  WHERE event_type NOT IN ('signup','click','purchase','error')
      |    AND value >= 160.0
      |)
      |SELECT game_id,
      |       CAST(action_id AS BIGINT) AS action_id,
      |       CAST(CASE WHEN clock < 2880 THEN floor(clock/720) + 1
      |                 ELSE 5 + floor((clock - 2880)/300) END AS INT) AS period,
      |       clock AS global_clock, atype AS action_type, stype AS sub_type,
      |       descr AS descriptor, result AS shot_result,
      |       CAST(team_id AS BIGINT) AS team_id,
      |       CAST(person_id AS BIGINT) AS person_id,
      |       CAST(assist_pid AS BIGINT) AS assist_person_id,
      |       CAST(block_pid AS BIGINT) AS block_person_id,
      |       CAST(steal_pid AS BIGINT) AS steal_person_id,
      |       CAST(drawn_pid AS BIGINT) AS foul_drawn_person_id,
      |       CAST(jw_pid AS BIGINT) AS jumpball_won_person_id,
      |       CAST(jl_pid AS BIGINT) AS jumpball_lost_person_id,
      |       CAST(jr_pid AS BIGINT) AS jumpball_recovered_person_id,
      |       x, y, CASE WHEN x IS NOT NULL THEN sqrt(x*x + y*y) END AS dist
      |FROM acts""".stripMargin

  private def pbpCols(df: DataFrame): DataFrame =
    df.select(
      col("game_id"), col("action_id"), col("period"), col("global_clock"),
      col("action_type"), col("sub_type"), col("descriptor"),
      col("shot_result"), col("team_id"), col("person_id"),
      col("assist_person_id"), col("block_person_id"),
      col("steal_person_id"), col("foul_drawn_person_id"),
      col("jumpball_won_person_id"), col("jumpball_lost_person_id"),
      col("jumpball_recovered_person_id"), col("x"), col("y"), col("dist"))

  /** Streaming ingestion parity: the full per-event pbp expansion (every
    * family, actor ids, coordinates) as produced INCREMENTALLY by the
    * file-source stream — period bracket rows excluded (they need
    * end-of-game knowledge a live stream doesn't have). */
  val q73StreamIngest: Q = Q.sql(
    "q73_stream_ingest",
    feedIngestSql,
    "streaming file-source feed ingestion driven to completion (§2.9)") {
    (s, dir) => pbpCols(streamOnce("feed-ingest", s, dir)(feedActions))
  }

  /** The two staged feed halves every restart scaffold publishes, built
    * ONCE per (session, sf dir, split predicate) — round-11 optimization
    * (guide §2.4, remove repeated work): 12 of the 13 restart gates use
    * the identical default (ts, event_id)-ranked half split, but each
    * previously re-ran the count + global rank window + two coalesce(1)
    * parquet writes inside its own build (~1.5 s × 12 of pure staging
    * repetition in the bench's session-build total). The staged part
    * FILES are shared; each scaffold still copies them into its own
    * watch dir, so stream inputs stay per-query and checkpoints never
    * collide. Returns (slice1Path, slice2Path). */
  private def stagedHalves(spark: SparkSession, dir: String,
      splitPred: Option[org.apache.spark.sql.Column]): (String, String) =
    graft.SessionCache.onceStrong(spark,
      s"stream#$dir#restart-stage#${splitPred.map(_.toString).getOrElse("half")}") {
      import org.apache.spark.sql.expressions.Window
      val stagePath = graft.Scratch.tempDir("graft-restart-stage-")
      val ev = graft.Tables(spark, dir, "events")
      val n = ev.count()
      val ranked = ev.withColumn("__rn",
        row_number().over(Window.orderBy(col("ts"), col("event_id"))))
      val firstHalf = splitPred.getOrElse(col("__rn") <= n / 2)
      def stage(df: DataFrame, name: String): String = {
        val out = s"$stagePath/$name"
        df.coalesce(1).write.parquet(out)
        new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getPath
      }
      (stage(ranked.filter(firstHalf).drop("__rn"), "slice1"),
        stage(ranked.filter(!firstHalf).drop("__rn"), "slice2"))
    }

  /** Two-incarnation restart scaffold shared by q117 (stateful fold) and
    * q118 (full-outer join state): publishes the front half of the feed
    * in (ts, event_id) arrival order, drains it with a query that is then
    * DISCARDED, publishes the back half, and drains with a brand-new
    * query connected to the first only through the sink and checkpoint
    * paths. Both incarnations run on one [[drainSession]]. The staging
    * split (a global window over the fixture) is harness work, never
    * part of the measured streaming plan. The builder's [[Feed]] reads
    * every parquet file of the scaffold's watch directory
    * ([[Feed.watched]]), where the two halves are published.
    *
    * `tearSinkCommit = true` simulates the worst crash point of the
    * exactly-once file-sink protocol: after incarnation 1 finishes, the
    * checkpoint's LAST `commits/<batchId>` marker is deleted — exactly
    * the on-disk state left by a kill that landed AFTER the sink wrote
    * its data files and `_spark_metadata/<batchId>` manifest but BEFORE
    * the commit log recorded the batch. Incarnation 2 must then REPLAY
    * that batch from the offset log, and the sink's manifest check is
    * the only thing standing between the replay and duplicate output
    * files; the re-read (which honors `_spark_metadata`) and the
    * unchanged one-shot oracle prove neither a duplicate nor a lost row
    * survived. */
  private def streamRestart(tag: String, spark: SparkSession, dir: String,
      shufflePartitions: Int = DrainShufflePartitions,
      extraConfs: Map[String, String] = Map.empty,
      tearSinkCommit: Boolean = false,
      splitPred: Option[org.apache.spark.sql.Column] = None)(
      build: Feed => DataFrame): DataFrame = {
    val path = graft.SessionCache.onceStrong(spark, s"stream#$dir#$tag") {
      import java.nio.file.{Files, Paths}
      val tmp = graft.Scratch.tempDir(s"graft-$tag-").toString
      val watch = s"$tmp/watch"
      Files.createDirectories(Paths.get(watch))
      val feed = Feed.watched(
        drainSession(spark, shufflePartitions, extraConfs), watch)
      val (slice1, slice2) = stagedHalves(spark, dir, splitPred)
      def publish(src: String, name: String): Unit =
        Files.copy(Paths.get(src), Paths.get(s"$watch/$name.parquet"))
      def drainOnce(): Unit = drainTo(tmp, build(feed))
      publish(slice1, "slice1")
      drainOnce() // incarnation 1 drains the front half, then is GONE
      val torn: Option[java.io.File] =
        if (!tearSinkCommit) None
        else {
          // tear the crash window open: drop the newest commit marker so
          // incarnation 2 believes the last batch never committed
          val commits = new java.io.File(s"$tmp/ckpt/commits").listFiles()
            .filter(_.getName.forall(_.isDigit))
          require(commits.nonEmpty, "no committed batch to tear")
          val latest = commits.maxBy(_.getName.toLong)
          // the drain's checkpoint manager writes no `.crc` sidecar, so
          // the marker alone is the commit a crash would never have made
          require(latest.delete(), s"could not delete ${latest.getPath}")
          Some(latest)
        }
      publish(slice2, "slice2")
      drainOnce() // incarnation 2 resumes state + offsets from the ckpt
      // the torn batch must have been REPLAYED (commit marker rewritten),
      // not skipped — otherwise this gate would be testing nothing
      torn.foreach(f => require(f.exists(),
        s"torn commit ${f.getPath} was not replayed by incarnation 2"))
      s"$tmp/out"
    }
    spark.read.parquet(path)
  }

  /** Checkpoint-restart recovery, promoted from spec to the oracle gate:
    * the feed is drained by TWO query incarnations. The first sees only
    * the front half of the feed (published in (ts, event_id) arrival
    * order), drains it with `AvailableNow`, and is discarded. The back
    * half is then published and a BRAND-NEW query object — connected to
    * the first only through the sink and checkpoint paths — picks up the
    * per-game fold state and source offsets from the checkpoint and
    * drains the rest. The sink union gates against [[feedIngestSql]],
    * the UNCHANGED one-shot oracle: exactly-once recovery means no row
    * is replayed (the oracle's hash compare is a multiset — a duplicate
    * fails rows_match) and no mid-game state is lost (a reset fold would
    * mis-number every action after the cutoff). */
  val q117StreamRestart: Q = Q.sql(
    "q117_stream_restart",
    feedIngestSql,
    "checkpoint restart mid-feed: two query incarnations, one exact output") {
    (s, dir) => pbpCols(streamRestart("feed-restart", s, dir)(feedActions))
  }

  /** The watermarked tumbling-window aggregation: append mode, so only
    * FINALIZED windows (end past the watermark) reach the sink. */
  private def windowedAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    streamOnce("stream-window", spark, dir) { feed =>
      feed.events.toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).as("sv"))
        .select(
          unix_timestamp(col("window.start")).as("bucket_start"),
          col("event_type"), col("n_events"),
          col("sv").cast("double").as("sum_value"))
    }
  }

  /** Watermarked event-time tumbling-window aggregation — the canonical
    * Structured Streaming operator (§2.9: readStream → watermark →
    * windowed agg → append sink), under the oracle gate.
    *
    * Append mode emits a window only once its end has passed the
    * watermark (max event time − 10 min; Spark accumulates max event time
    * in MILLISECONDS, so the oracle truncates to ms before subtracting —
    * a µs-exact cutoff would keep windows Spark still holds back), so the
    * DuckDB oracle recomputes the same cutoff in closed form: hour
    * buckets over all events, restricted to buckets whose end ≤ final
    * watermark. Bucket keys are integer microseconds on both sides
    * (epoch_us // 3_600_000_000 vs Spark's `window()`), and the double
    * sum goes through DECIMAL(28,10) — exact, order-independent — per the
    * [[graft.Q]] determinism rules. Scale shape: the stream is one
    * partial-aggregated shuffle on (window, event_type) with O(#open
    * windows) state; late data past 10 minutes is dropped identically on
    * a 1000-executor cluster. */
  val q80StreamWindow: Q = Q.sql(
    "q80_stream_window",
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         event_type, value
      |  FROM events
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
      |FROM b
      |WHERE (bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)
      |GROUP BY 1, 2""".stripMargin,
    "streaming watermarked tumbling-window aggregation (§2.9)") { (s, dir) =>
    windowedAgg(s, dir).select(
      col("bucket_start"), col("event_type"), col("n_events"),
      col("sum_value"))
  }

  /** The streaming corpus dedup: `dropDuplicates` on the content hash
    * over a documents file-stream. */
  private def dedupStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    streamOnce("stream-dedup", spark, dir) { feed =>
      StreamingFeed.fileSource(feed.sess, dir, "documents.parquet")
        .select(md5(col("text")).as("content_hash"))
        .dropDuplicates("content_hash")
    }
  }

  /** Streaming exact corpus deduplication — the incremental twin of the
    * batch q22 exact dedup: documents arrive through a file-source
    * stream, `dropDuplicates` on md5(text) keeps state per content hash
    * across micro-batches, and only first occurrences reach the sink.
    *
    * Only the KEY column is emitted: which physical row survives a
    * same-batch collision is a partition race (the state store keeps the
    * first row it happens to see), but the surviving key SET is exact —
    * so the query projects to the hash and the oracle is the closed-form
    * DISTINCT. State is O(#distinct hashes), the exact-dedup cost by
    * definition; a 100 TB ingestion bounds it with
    * `dropDuplicatesWithinWatermark` once re-crawls carry event time
    * (accepting re-emission past the horizon). md5 is bit-identical
    * across engines ([[graft.ops.Text.baseHash]] rationale). */
  val q81StreamDedup: Q = Q.sql(
    "q81_stream_dedup",
    "SELECT DISTINCT md5(text) AS content_hash FROM documents",
    "streaming exact dedup on content hash (dedup family x §2.9)") { (s, dir) =>
    dedupStream(s, dir).select(col("content_hash"))
  }

  /** The stream-static enrichment: events decorated with nation⋈region
    * dimension attributes inside each micro-batch. */
  private def enrichStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    streamOnce("stream-enrich", spark, dir) { feed =>
      val nation = feed.sess.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long").as("nkey"),
          col("n_name"), col("n_regionkey"))
      val region = feed.sess.read.parquet(s"$dir/region.parquet")
        .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
      val dim = nation.join(region, Seq("n_regionkey"))
        .select(col("nkey"), col("n_name"), col("r_name"))
      feed.events.toDF()
        .withColumn("nkey", col("user_id") % 25)
        .join(dim, Seq("nkey"))
        .select(col("event_id"), col("user_id"), col("n_name"), col("r_name"))
    }
  }

  /** Stream-static broadcast join — the enrichment shape of a streaming
    * ingestion (every incoming event decorated with dimension attributes
    * before landing): the events stream joins the nation⋈region dimension
    * on a derived key. Stateless (no watermark, no state store): the
    * static side is planned as a broadcast hash join inside each
    * micro-batch, which is exactly the 1000-executor form — the dimension
    * ships once per executor, the stream never shuffles. Oracle is the
    * same join closed-form in DuckDB. */
  val q83StreamEnrich: Q = Q.sql(
    "q83_stream_enrich",
    """SELECT e.event_id, e.user_id, n.n_name, r.r_name
      |FROM events e
      |JOIN nation n ON n.n_nationkey = e.user_id % 25
      |JOIN region r ON r.r_regionkey = n.n_regionkey""".stripMargin,
    "stream-static broadcast enrichment join (§2.9)") { (s, dir) =>
    enrichStream(s, dir).select(
      col("event_id"), col("user_id"), col("n_name"), col("r_name"))
  }

  /** The watermarked merging-session-window aggregation (append mode),
    * shared by q86 (one-shot) and q121 (checkpoint restart). */
  private def sessionWindowPlan(feed: Feed): DataFrame = {
    import org.apache.spark.sql.functions._
    feed.events.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,10)")).as("sv"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("sv").cast("double").as("sum_value"))
  }

  /** Streaming sessionization with the BUILT-IN `session_window` (gap =
    * 1 hour) under the oracle gate — the merging-window stateful operator
    * (sessions extend while events keep arriving within the gap; state
    * merges adjacent windows) that complements the hand-rolled
    * `flatMapGroupsWithState` sessionizer of `StreamingSessionize`.
    *
    * Append mode emits a session once the watermark passes its end
    * (last event + gap), so the oracle recomputes the identical set
    * closed-form: per-user gap-and-island in integer microseconds (new
    * session when the gap to the previous event is ≥ 1 h — Spark merges
    * strictly-overlapping windows only), session end = last event + gap,
    * kept where end ≤ the ms-truncated watermark (same truncation rule
    * as q80: Spark tracks max event time in milliseconds). */
  /** The closed-form session oracle — shared VERBATIM by q86 and q121
    * (restart recovery must be invisible in the output). */
  private val sessionOracleSql: String =
    """WITH t AS (
      |  SELECT user_id, epoch_us(ts) AS tu, value FROM events
      |), s AS (
      |  SELECT *, CASE WHEN lag(tu) OVER w IS NULL
      |                   OR tu - lag(tu) OVER w >= 3600000000
      |                 THEN 1 ELSE 0 END AS new
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tu)
      |), g AS (
      |  SELECT *, SUM(new) OVER (PARTITION BY user_id ORDER BY tu
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s
      |), agg AS (
      |  SELECT user_id, MIN(tu) AS start_us, MAX(tu) + 3600000000 AS end_us,
      |         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(28,10))) AS sv
      |  FROM g GROUP BY user_id, sid
      |)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(start_us AS BIGINT) AS session_start_us,
      |  CAST(end_us AS BIGINT) AS session_end_us,
      |  CAST(n AS BIGINT) AS n_events,
      |  CAST(sv AS DOUBLE) AS sum_value
      |FROM agg
      |WHERE end_us <=
      |  (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin

  val q86StreamSessions: Q = Q.sql(
    "q86_stream_sessions",
    sessionOracleSql,
    "streaming session_window aggregation (§2.9 merging-window state)") { (s, dir) =>
    streamOnce("stream-session", s, dir)(sessionWindowPlan).select(
      col("user_id"), col("session_start_us"), col("session_end_us"),
      col("n_events"), col("sum_value"))
  }

  /** Checkpoint restart of the MERGING-window state — the third state
    * family after q117 (keyed flatMapGroupsWithState fold) and q118
    * (symmetric join buffers): `session_window` state holds open
    * sessions that must MERGE with events arriving after the restart.
    * The mid-feed cutoff lands inside open sessions by construction
    * (every user active at the split has one), so incarnation 2 must
    * restore them from the checkpoint and extend them rather than open
    * duplicates — a lost open session splits one row into two and fails
    * the hash against [[sessionOracleSql]], q86's UNCHANGED one-shot
    * oracle. */
  val q121StreamSessionRestart: Q = Q.sql(
    "q121_stream_session_restart",
    sessionOracleSql,
    "checkpoint restart mid-feed of merging session_window state") {
    (s, dir) =>
      streamRestart("session-restart", s, dir)(sessionWindowPlan)
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"), col("sum_value"))
  }

  /** The purchase–click interval join every stream-stream join query
    * shares (q90 inner, q99 left outer, q100/q118 full outer, q279 left
    * semi): two independent file-source streams over the events feed —
    * purchases on one side, clicks on the other, each watermarked 10
    * minutes — joined per user within a two-hour attribution band
    * (`p_ts − 2h ≤ c_ts ≤ p_ts`). `how` is the join type. Columns:
    * p_event_id, user_id, p_value, p_ts from the purchase side,
    * c_event_id, c_user_id, c_value, c_ts from the click side. */
  private[graft] def purchaseClickJoin(feed: Feed, how: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val purchases = feed.events.toDF()
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("value").as("p_value"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = feed.events.toDF()
      .filter(col("event_type") === "click")
      .select(col("event_id").as("c_event_id"),
        col("user_id").as("c_user_id"),
        col("value").as("c_value"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS") &&
        col("c_ts") <= col("p_ts"),
      how)
  }

  /** [[purchaseClickJoin]] as the 7-column pair rows q90, q99, q100 and
    * q118 emit. `user_id` is the purchase's user, or the click's on a
    * click-only full-outer row (on inner and left-outer rows the two
    * agree or the click side is null). */
  private def bandPairs(how: String)(feed: Feed): DataFrame = {
    import org.apache.spark.sql.functions._
    purchaseClickJoin(feed, how)
      .select(coalesce(col("user_id"), col("c_user_id")).as("user_id"),
        col("p_event_id"), col("c_event_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("c_ts")).as("c_ts_us"),
        col("p_value"), col("c_value"))
  }

  /** Watermarked stream-stream interval join (§2.9's last canonical
    * shape: two unbounded sides, symmetric hash-join state, time-range
    * condition): every purchase joined to the same user's clicks from the
    * preceding two hours — the classic streaming attribution join.
    *
    * Semantics under the gate: an INNER stream-stream join emits a pair
    * the moment both rows are present — the watermark bounds the JOIN
    * STATE (each side holds only rows still inside the other side's
    * reachable band: state watermark = global watermark − 2 h on the
    * purchase side), never the output, so unlike the append-mode
    * aggregations (q80/q86) no rows are held back at drain time and the
    * closed-form oracle is the full interval join with no watermark
    * cutoff term. The sf directory's events land as one file = one
    * micro-batch under `Trigger.AvailableNow`, so no pair can be lost to
    * cross-batch eviction either (the batch≡stream pin in StreamJoinSpec
    * drives the same join through multiple chronologically-ordered
    * micro-batches, where matching survives because arrival order is
    * monotone — the append-only poll-loop contract the feed already
    * documents). Band arithmetic compares at integer MICROSECONDS on
    * both engines: Spark normalizes the nanos-parquet ts to µs on read
    * ([[graft.Tables]]), so the oracle joins on `epoch_us(ts)` rather
    * than raw TIMESTAMP_NS arithmetic — at ns precision DuckDB would
    * disagree about pairs sitting exactly on the band edge. Scale shape:
    * one shuffle per side on user_id, per-key state bounded by the
    * two-hour band × arrival rate, eviction driven by the watermark —
    * the 1000-executor form of a streaming attribution pipeline. */
  val q90StreamJoin: Q = Q.sql(
    "q90_stream_join",
    """SELECT CAST(p.user_id AS BIGINT) AS user_id,
      |  CAST(p.event_id AS BIGINT) AS p_event_id,
      |  CAST(c.event_id AS BIGINT) AS c_event_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS p_ts_us,
      |  CAST(epoch_us(c.ts) AS BIGINT) AS c_ts_us,
      |  p.value AS p_value, c.value AS c_value
      |FROM events p JOIN events c
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      | AND epoch_us(c.ts) <= epoch_us(p.ts)""".stripMargin,
    "watermarked stream-stream interval join (§2.9 attribution band)") { (s, dir) =>
    streamOnce("stream-join", s, dir)(bandPairs("inner")).select(
      col("user_id"), col("p_event_id"), col("c_event_id"),
      col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  /** The windowed KMV sketch stream: per tumbling hour, the k=16-minimum-
    * values distinct-user estimate via the native mergeable aggregate. */
  private def kmvStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    streamOnce("stream-kmv", spark, dir) { feed =>
      feed.events.toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          graft.functions.KmvSketch.estimate(
            graft.ops.Text.baseHash(col("user_id").cast("string")), 16)
            .as("kmv_users"))
        .select(unix_timestamp(col("window.start")).as("bucket_start"),
          col("n_events"), col("kmv_users"))
    }
  }

  /** Streaming distinct-count sketch: tumbling-hour KMV estimate of
    * distinct users — the sketch family (q44) composed with the
    * watermarked-window family (q80), through the native
    * [[graft.functions.KmvSketch]] `TypedImperativeAggregate`. Exact
    * distinct aggregation is disallowed/unbounded on streams; the
    * mergeable k-element sketch is the at-scale answer, with O(k) state
    * per window, and because KMV is a deterministic function of the md5
    * hash SET (unlike HLL) the DuckDB oracle recomputes the ESTIMATE
    * itself in closed form — same rn=16 spelling as q44, same
    * ms-truncated watermark cutoff as q80. */
  val q96StreamKmv: Q = Q.sql(
    "q96_stream_kmv",
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events
      |), d AS (
      |  SELECT DISTINCT bucket_start, h FROM b
      |), r AS (
      |  SELECT bucket_start, h,
      |         row_number() OVER (PARTITION BY bucket_start ORDER BY h) AS rn,
      |         count(*) OVER (PARTITION BY bucket_start) AS nd
      |  FROM d
      |), e AS (
      |  SELECT bucket_start,
      |    coalesce(15 * CAST(1152921504606846976 AS DOUBLE)
      |               / max(CASE WHEN rn = 16 THEN h END),
      |             CAST(max(nd) AS DOUBLE)) AS kmv_users
      |  FROM r GROUP BY 1
      |), n AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1
      |)
      |SELECT CAST(e.bucket_start AS BIGINT) AS bucket_start,
      |  CAST(n.n_events AS BIGINT) AS n_events, e.kmv_users
      |FROM e JOIN n USING (bucket_start)
      |WHERE (e.bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin,
    "streaming tumbling-window KMV distinct sketch (native mergeable agg)") { (s, dir) =>
    kmvStream(s, dir).select(
      col("bucket_start"), col("n_events"), col("kmv_users"))
  }

  /** The tumbling-hour HLL register stream shared by q167 (one-shot)
    * and q184 (checkpoint restart): exact-integer S-sum, zero-register
    * count and the fixed-order raw estimate off each closed window's
    * register array. */
  private def hllFrame(feed: Feed): DataFrame = {
    import org.apache.spark.sql.functions._
    feed.events.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Hll.registers(
          graft.ops.Text.baseHash(col("user_id").cast("string")), 10)
          .as("regs"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("n_events"),
        expr("cast(size(filter(regs, r -> r = 0)) as bigint)").as("v_zero"),
        expr("aggregate(regs, cast(0 as bigint)," +
          " (acc, r) -> acc + shiftleft(cast(1 as bigint), 51 - r))")
          .as("s_sum"),
        ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0)))
          * (lit(1048576.0) * lit(2.251799813685248e15))
          / col("s_sum")).as("hll_raw"))
  }

  /** Shared by q167 (one-shot) and q184 (checkpoint restart): DuckDB
    * recomputes the per-bucket register array closed-form, so ONE lost
    * or replayed row across a restart moves a register max and fails
    * the hash via s_sum. */
  private val hllOracleSql: String =
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events
      |), rg AS (
      |  SELECT bucket_start, h // 1125899906842624 AS idx,
      |    MAX(CASE WHEN h % 1125899906842624 = 0 THEN 51
      |             ELSE 51 - length(bin(h % 1125899906842624)) END) AS reg
      |  FROM b GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.bucket_start, g.idx
      |  FROM (SELECT DISTINCT bucket_start FROM b) d
      |  CROSS JOIN (SELECT unnest(range(0, 1024)) AS idx) g
      |), regs AS (
      |  SELECT g.bucket_start, COALESCE(r.reg, 0) AS reg
      |  FROM grid g LEFT JOIN rg r
      |    ON r.bucket_start = g.bucket_start AND r.idx = g.idx
      |), agg AS (
      |  SELECT bucket_start,
      |    CAST(SUM(CAST(1 AS BIGINT) << (51 - reg)) AS BIGINT) AS s_sum,
      |    CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
      |  FROM regs GROUP BY 1
      |), n AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1
      |)
      |SELECT CAST(a.bucket_start AS BIGINT) AS bucket_start,
      |  CAST(n.n_events AS BIGINT) AS n_events, a.v_zero, a.s_sum,
      |  (CAST(0.7213 AS DOUBLE) / (1.0 + CAST(1.079 AS DOUBLE) / 1024.0))
      |    * (CAST(1048576 AS DOUBLE) * 2251799813685248) / a.s_sum AS hll_raw
      |FROM agg a JOIN n ON n.bucket_start = a.bucket_start
      |WHERE (a.bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin

  /** Streaming HLL distinct sketch — q166's register aggregate composed
    * with the watermarked tumbling window (q96's shape with the other
    * house sketch): per closed hour the native mergeable
    * [[graft.functions.HllRegisters]] state (1 KiB per window, register
    * max absorbs duplicate users with no DISTINCT state) emits the
    * exact-integer S = Σ 2^(51−M), the zero-register count and the raw
    * estimate. Per-hour cardinality here sits in the small-range regime
    * (v_zero > 0) where production applies linear counting — the gate
    * pins the raw arithmetic and the registers themselves (via S), which
    * is the engine's contract; the correction is a consumer-side CASE.
    * Oracle: identical register recomputation per bucket in DuckDB,
    * q80's ms-truncated watermark cutoff. */
  val q167StreamHll: Q = Q.sql(
    "q167_stream_hll",
    hllOracleSql,
    "streaming tumbling-window HLL registers + raw estimate (native mergeable agg)") {
    (s, dir) =>
      streamOnce("stream-hll", s, dir)(hllFrame)
        .select(col("bucket_start"), col("n_events"),
          col("v_zero"), col("s_sum"), col("hll_raw"))
  }

  /** Checkpoint restart of the HLL register buffer — closing the
    * sketch×restart matrix q127 opened: CMS and HLL share the
    * TypedImperativeAggregate state-store path but not the buffer
    * layout (counter matrix vs register-max array), so this gate
    * exercises the HllRegisters serialize/deserialize round trip across
    * a kill specifically. The q167 stream is cut mid-feed (q117's
    * two-incarnation scaffold: first incarnation drains the front half
    * of the ranked feed and dies, the second resumes from the
    * checkpoint over the back half); open hours' 1 KiB register arrays
    * must come back EXACTLY — a single lost or replayed row moves a
    * register max, shifts s_sum, and fails the hash against q167's
    * UNCHANGED oracle. Recovery has to be invisible. */
  val q184StreamHllRestart: Q = Q.sql(
    "q184_stream_hll_restart",
    hllOracleSql,
    "checkpoint restart mid-feed of HLL register sketch state") {
    (s, dir) =>
      streamRestart("hll-restart", s, dir)(hllFrame)
        .select(col("bucket_start"), col("n_events"),
          col("v_zero"), col("s_sum"), col("hll_raw"))
  }

  /** Watermarked stream-stream LEFT OUTER interval join — the eviction-
    * driven half of the streaming join family. Matched pairs emit
    * immediately like q90's inner join; a purchase with NO click in its
    * band emits its null-extended row only when the watermark EVICTS it
    * (no future click with `c_ts <= p_ts` can still arrive once the
    * watermark passes `p_ts`). The GLOBAL watermark is the MIN over both
    * watermarked inputs — each side contributes max(its own ts) − 10 min,
    * ms-truncated — NOT max over all events: the newest event overall may
    * be a type neither stream selects (root-caused on this data: the
    * single diverging row was the newest purchase itself, which can never
    * be evicted by a watermark derived from its own stream). So the
    * closed-form oracle is: the full interval join UNION unmatched
    * purchases with `p_ts < least(max purchase ts, max click ts) − 10
    * min` — unmatched purchases inside that horizon are correctly ABSENT
    * (their state is still live when the stream stops). That asymmetry is
    * the semantics under test; a plain batch outer join would overclaim
    * those rows. */
  val q99StreamOuterJoin: Q = Q.sql(
    "q99_stream_outer_join",
    """WITH pr AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |cl AS (SELECT * FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT p.user_id, p.event_id AS p_event_id, c.event_id AS c_event_id,
      |         epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us,
      |         p.value AS p_value, c.value AS c_value
      |  FROM pr p JOIN cl c
      |    ON c.user_id = p.user_id
      |   AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |   AND epoch_us(c.ts) <= epoch_us(p.ts)
      |)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(p_event_id AS BIGINT) AS p_event_id,
      |  CAST(c_event_id AS BIGINT) AS c_event_id,
      |  CAST(p_ts_us AS BIGINT) AS p_ts_us, CAST(c_ts_us AS BIGINT) AS c_ts_us,
      |  p_value, c_value
      |FROM j
      |UNION ALL
      |SELECT CAST(p.user_id AS BIGINT), CAST(p.event_id AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(epoch_us(p.ts) AS BIGINT),
      |  CAST(NULL AS BIGINT), p.value, CAST(NULL AS DOUBLE)
      |FROM pr p
      |WHERE epoch_us(p.ts) <
      |      -- min-of-both-streams watermark; explicitly NULL (=> no
      |      -- eviction rows, matching Spark's epoch-0 global watermark)
      |      -- when EITHER side is empty — DuckDB's LEAST skips NULLs
      |      (SELECT CASE WHEN pm.m IS NULL OR cm.m IS NULL THEN NULL
      |              ELSE LEAST(pm.m, cm.m) - 600000000 END
      |       FROM (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 AS m FROM pr) pm,
      |            (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 AS m FROM cl) cm)
      |  AND NOT EXISTS (SELECT 1 FROM cl c
      |        WHERE c.user_id = p.user_id
      |          AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |          AND epoch_us(c.ts) <= epoch_us(p.ts))""".stripMargin,
    "watermarked stream-stream LEFT OUTER interval join (eviction-time nulls)") { (s, dir) =>
    streamOnce("stream-outer-join", s, dir)(bandPairs("leftOuter")).select(
      col("user_id"), col("p_event_id"), col("c_event_id"),
      col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  /** q99's join with FULL OUTER semantics — unmatched rows surface from
    * BOTH sides at their respective eviction times, over the FULL user
    * population. Round-4 gated a 1/8 cohort (a full-outer join cannot
    * evict by key — both stores are value-scanned and rewritten on every
    * watermark advance — and an early 32-partition run measured 52 s at
    * sf0.1); the round-5 experiment (`graft.tools.StateStoreExperiment`)
    * re-measured after the 8-partition right-sizing and tmpfs scratch:
    * full cohort ≈ 7.1 s HDFS-backed / 6.2 s RocksDB vs 6.4 s for the
    * 1/8 slice — the fixed per-(partition, store, batch) cost dominates
    * and the cohort saved nothing, so the restriction is dropped. The
    * join runs on the RocksDB state-store provider: for a store whose
    * maintenance is a full value scan, the off-heap LSM with changelog
    * checkpointing is the configuration that survives state ≫ heap at
    * 100 TB, and pinning it here keeps both bundled providers exercised
    * (every other streaming query uses the default HDFS-backed store). */
  private[graft] val RocksDbConf = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // r12: commit uploads the per-batch changelog instead of a full
    // snapshot (snapshots move to async maintenance) — the documented
    // low-latency commit mode for RocksDB state; recovery replays
    // changelogs over the last snapshot, which q118's restart gate
    // exercises end to end
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Watermarked stream-stream FULL OUTER interval join — both eviction
    * directions under one gate. Purchases evict (and null-emit if
    * unmatched) once the watermark passes `p_ts` exactly as in q99; the
    * CLICK side exercises the interval OFFSET: a click at `c_ts` can
    * still match future purchases up to `c_ts + 2h`, so its state lives
    * 2 hours PAST its event time and its null row emits only when
    * `c_ts + 2h < watermark`. The oracle therefore carries two different
    * cutoffs — `p_ts < wm` and `c_ts < wm − 2h` — against the same
    * min-of-both-streams watermark q99 pinned. Getting either offset
    * wrong (the classic off-by-interval in hand-rolled streaming joins)
    * flips rows in or out of the result and fails the hash. */
  /** The closed-form full-outer-join oracle — shared VERBATIM by q100
    * and q118 (restart recovery must be invisible in the output). */
  private val fullJoinOracleSql: String =
    """WITH pr AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |cl AS (SELECT * FROM events WHERE event_type = 'click'),
      |-- min-of-both-streams watermark; explicitly NULL (=> no eviction
      |-- rows, matching Spark's epoch-0 global watermark) when EITHER
      |-- side is empty — DuckDB's LEAST skips NULLs
      |wm AS (SELECT CASE WHEN pm.m IS NULL OR cm.m IS NULL THEN NULL
      |              ELSE LEAST(pm.m, cm.m) - 600000000 END AS w
      |       FROM (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 AS m FROM pr) pm,
      |            (SELECT (MAX(epoch_us(ts)) // 1000) * 1000 AS m FROM cl) cm),
      |j AS (
      |  SELECT p.user_id, p.event_id AS p_event_id, c.event_id AS c_event_id,
      |         epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us,
      |         p.value AS p_value, c.value AS c_value
      |  FROM pr p JOIN cl c
      |    ON c.user_id = p.user_id
      |   AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |   AND epoch_us(c.ts) <= epoch_us(p.ts)
      |)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(p_event_id AS BIGINT) AS p_event_id,
      |  CAST(c_event_id AS BIGINT) AS c_event_id,
      |  CAST(p_ts_us AS BIGINT) AS p_ts_us, CAST(c_ts_us AS BIGINT) AS c_ts_us,
      |  p_value, c_value
      |FROM j
      |UNION ALL
      |SELECT CAST(p.user_id AS BIGINT), CAST(p.event_id AS BIGINT),
      |  CAST(NULL AS BIGINT), CAST(epoch_us(p.ts) AS BIGINT),
      |  CAST(NULL AS BIGINT), p.value, CAST(NULL AS DOUBLE)
      |FROM pr p
      |WHERE epoch_us(p.ts) < (SELECT w FROM wm)
      |  AND NOT EXISTS (SELECT 1 FROM cl c
      |        WHERE c.user_id = p.user_id
      |          AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |          AND epoch_us(c.ts) <= epoch_us(p.ts))
      |UNION ALL
      |SELECT CAST(c.user_id AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(c.event_id AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(epoch_us(c.ts) AS BIGINT), CAST(NULL AS DOUBLE), c.value
      |FROM cl c
      |WHERE epoch_us(c.ts) + 7200000000 < (SELECT w FROM wm)
      |  AND NOT EXISTS (SELECT 1 FROM pr p
      |        WHERE p.user_id = c.user_id
      |          AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |          AND epoch_us(c.ts) <= epoch_us(p.ts))""".stripMargin

  val q100StreamFullJoin: Q = Q.sql(
    "q100_stream_full_join",
    fullJoinOracleSql,
    "watermarked stream-stream FULL OUTER interval join (both eviction offsets)") { (s, dir) =>
    // state-store count sized to the state, not the CPU count (measured
    // at sf0.1: 32 partitions → 24 s fixed cost, 8 → ~1/4 of that)
    streamOnce("stream-full-join", s, dir, shufflePartitions = 4,
      extraConfs = RocksDbConf)(bandPairs("fullOuter")).select(
      col("user_id"), col("p_event_id"), col("c_event_id"),
      col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  /** Checkpoint restart on the HARDEST state path: the RocksDB-backed
    * symmetric full-outer interval-join state, killed mid-feed and
    * resumed by a brand-new query incarnation. Unlike q117's keyed fold,
    * this state is value-scanned and rewritten on every watermark
    * advance, and correctness under restart requires that (a) rows
    * null-emitted as unmatched before the kill are never re-emitted or
    * retro-matched — sound because the watermark contract already
    * guarantees an evicted row cannot match anything later than the
    * watermark, and the restart restores exactly that watermark — and
    * (b) state still buffered at the kill (everything within the 10 min
    * delay + 2 h interval of the cutoff) survives into incarnation 2 to
    * meet its back-half matches. Gates against [[fullJoinOracleSql]],
    * q100's UNCHANGED one-shot oracle: a duplicate null-emission, a lost
    * buffered row, or a watermark regression each flips rows and fails
    * the hash compare. */
  val q118StreamJoinRestart: Q = Q.sql(
    "q118_stream_join_restart",
    fullJoinOracleSql,
    "checkpoint restart mid-feed of the RocksDB full-outer join state") {
    (s, dir) =>
      streamRestart("full-join-restart", s, dir, shufflePartitions = 4,
        extraConfs = RocksDbConf)(bandPairs("fullOuter"))
        .select(col("user_id"), col("p_event_id"), col("c_event_id"),
          col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  /** Streaming NEAR-dup collapse at ingest — the q24 MinHash machinery
    * applied to the document stream: word-3-gram shingles built as pure
    * array expressions (no window, so the whole signature is map-side on
    * a stream), 31-bit shingle hashes, the 12-slot Carter–Wegman
    * signature, and `dropDuplicates` on the full-signature key.
    * Full-signature equality collapses documents whose shingle sets agree
    * on every permutation minimum — Jaccard ≈ 1 near-dups caught before
    * they ever land in the corpus (the at-ingest twin of the batch LSH
    * family; band-level candidate generation stays batch-side, where a
    * verification join can follow).
    *
    * Emits the surviving signature SET, q81's rationale: which physical
    * document survives a same-batch collision is a partition race, but
    * the signature set is exact, so the oracle is the closed-form
    * DISTINCT over the same signature pipeline. State is O(#distinct
    * signatures) — strictly smaller than exact-dedup state since
    * near-dups share one entry; bound it with
    * `dropDuplicatesWithinWatermark` once the feed carries event time. */
  val q101StreamSigDedup: Q = Q.sql(
    "q101_stream_sig_dedup",
    """WITH shb AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |      [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)],
      |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647)) AS hs
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |        FROM documents)
      |  WHERE len(t) >= 3
      |), sig AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 12), sd -> list_min(list_transform(hs,
      |      hv -> ((sd*2+1)*hv + (sd*1000003+12345)) % 2147483647))) AS sg
      |  FROM shb
      |)
      |SELECT DISTINCT md5(array_to_string(sg, '|')) AS sig_key FROM sig""".stripMargin,
    "streaming MinHash-signature near-dup collapse at ingest (dedup family x §2.9)") { (s, dir) =>
    import org.apache.spark.sql.functions._
    import graft.ops.Text
    streamOnce("stream-sig-dedup", s, dir) { feed =>
      StreamingFeed.fileSource(feed.sess, dir, "documents.parquet")
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(Text.signatureKey(col("t"), 3, 12).as("sig_key"))
        .dropDuplicates("sig_key")
    }.select(col("sig_key"))
  }

  /** Streaming audience-overlap monitor — the sketch-family matrix
    * completed: [[graft.functions.KmvValues]] (q102's composable k-min
    * sketch) carried in STREAMING aggregation state the way
    * [[graft.functions.KmvSketch]] is in q96. Per tumbling day and
    * event_type, the k=16 min-values sketch of the distinct-user hash
    * set accumulates in O(k) state and emits when the watermark closes
    * the window; the Beyer et al. union/intersection/Jaccard algebra
    * (q102's exact spelling at k=16) then runs BATCH-side over the
    * emitted sketch rows — sketches to the sink, algebra at read time,
    * which is how a real overlap dashboard consumes them. Day windows
    * (not q96's hours) so every fixture group saturates k and the
    * estimator path — not the exact-count fallback — is what the oracle
    * gates; the below-k path is unit-pinned in KmvSketchSpec. Same
    * ms-truncated 10-minute watermark cutoff as q96/q80. */
  val q103StreamKmvOverlap: Q = {
    val k = 16
    Q.sql(
      "q103_stream_kmv_overlap",
      s"""WITH b AS (
        |  SELECT (epoch_us(ts) // 86400000000) * 86400 AS bucket_start,
        |         event_type,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events
        |), kv AS (
        |  SELECT bucket_start, event_type, list_sort(list(DISTINCT h))[1:$k] AS kvs
        |  FROM b GROUP BY 1, 2
        |), p AS (
        |  SELECT a.bucket_start, a.event_type AS type_a, b.event_type AS type_b,
        |    a.kvs AS ka, b.kvs AS kb,
        |    list_sort(list_distinct(list_concat(a.kvs, b.kvs)))[1:$k] AS ku
        |  FROM kv a JOIN kv b
        |    ON a.bucket_start = b.bucket_start AND a.event_type < b.event_type
        |)
        |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, type_a, type_b,
        |  CASE WHEN len(ku) >= $k
        |    THEN CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |      / CAST(ku[$k] AS DOUBLE)
        |    ELSE CAST(len(ku) AS DOUBLE) END AS est_union,
        |  CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |    / CAST(least($k, len(ku)) AS DOUBLE) AS jaccard_est,
        |  (CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |    / CAST(least($k, len(ku)) AS DOUBLE))
        |  * (CASE WHEN len(ku) >= $k
        |      THEN CAST(${k - 1} AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |        / CAST(ku[$k] AS DOUBLE)
        |      ELSE CAST(len(ku) AS DOUBLE) END) AS est_intersection
        |FROM p
        |WHERE (bucket_start + 86400) * 1000000 <=
        |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin,
      "streaming per-window KMV-values sketches + batch overlap algebra (q102 x q96)") {
      (s, dir) =>
        import org.apache.spark.sql.functions._
        val sketches = streamOnce("stream-kmv-overlap", s, dir) { feed =>
          feed.events.toDF()
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(graft.functions.KmvValues.values(
              graft.ops.Text.baseHash(col("user_id").cast("string")), k).as("kvs"))
            .select(unix_timestamp(col("window.start")).as("bucket_start"),
              col("event_type"), col("kvs"))
        }
        val a = sketches.as("a")
        val b = sketches.as("b")
        val ku = slice(array_sort(array_union(col("a.kvs"), col("b.kvs"))), 1, k)
        val pairs = a.join(broadcast(b),
            col("a.bucket_start") === col("b.bucket_start") &&
              col("a.event_type") < col("b.event_type"))
          .select(col("a.bucket_start").as("bucket_start"),
            col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
            col("a.kvs").as("ka"), col("b.kvs").as("kb"), ku.as("ku"))
        val estUnion = when(size(col("ku")) >= k,
          lit((k - 1).toDouble) * lit(1.152921504606846976e18)
            / element_at(col("ku"), k).cast("double"))
          .otherwise(size(col("ku")).cast("double"))
        val jaccard = size(array_intersect(array_intersect(col("ku"), col("ka")),
            col("kb"))).cast("double") /
          least(lit(k), size(col("ku"))).cast("double")
        pairs.select(col("bucket_start"), col("type_a"), col("type_b"),
          estUnion.as("est_union"), jaccard.as("jaccard_est"),
          (jaccard * estUnion).as("est_intersection"))
    }
  }

  /** Tumbling-hour CMS sketches folded incrementally by the stream:
    * per closed window, one depth-4 × width-256 counter matrix. Shared
    * by q112 (one-shot) and q127 (checkpoint restart). */
  private def cmsFrame(feed: Feed): DataFrame = {
    import org.apache.spark.sql.functions._
    feed.events.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.CmsCounts.counts(col("user_id"), 4, 256).as("cms"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("n_events"), col("cms"))
  }

  /** Streaming per-window frequency sketch: the Count-Min family (q108)
    * composed with the watermarked-window family (q96's sibling for
    * point frequencies). Exact per-(window, key) counts carry O(#keys)
    * state per open window; the CMS folds the same stream into 8 KiB
    * per window, mergeable across partial aggregates and batches. Each
    * closed window's sketch is then probed OFFLINE for every key that
    * hour (the at-scale discipline: sketch online, probe offline), and
    * the exact batch count rides along so the one-sided CMS guarantee
    * (estimate ≥ exact) is visible per row. The DuckDB oracle
    * recomputes the identical sketch per window as a (bucket, depth,
    * hash-cell) GROUP BY — deterministic MinHash-family hashes, q108's
    * spelling — and applies q96's ms-truncated watermark cutoff to
    * keep only windows the stream actually closed. */
  /** Shared by q112 (one-shot) and q127 (checkpoint restart): the oracle
    * recomputes the IDENTICAL counter matrix closed-form, so a single
    * double-counted or dropped row across a restart flips a counter and
    * fails the hash. */
  private val cmsOracleSql: String =
    """WITH p(i, a, b) AS (
      |  VALUES (0, 1, 12345), (1, 3, 1012348), (2, 5, 2012351), (3, 7, 3012354)
      |), e AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         user_id, user_id % 2147483647 AS v
      |  FROM events
      |), cells AS (
      |  SELECT bucket_start, i, ((a * v + b) % 2147483647) % 256 AS bucket,
      |         COUNT(*) AS c
      |  FROM e CROSS JOIN p GROUP BY 1, 2, 3
      |), keys AS (
      |  SELECT bucket_start, user_id, v, COUNT(*) AS n_exact
      |  FROM e GROUP BY 1, 2, 3
      |)
      |SELECT CAST(k.bucket_start AS BIGINT) AS bucket_start, k.user_id,
      |  CAST(k.n_exact AS BIGINT) AS n_exact,
      |  CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
      |  CAST(MIN(c.c) - k.n_exact AS BIGINT) AS overcount
      |FROM keys k
      |JOIN p ON TRUE
      |JOIN cells c
      |  ON c.bucket_start = k.bucket_start AND c.i = p.i
      |  AND c.bucket = ((p.a * k.v + p.b) % 2147483647) % 256
      |WHERE (k.bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)
      |GROUP BY k.bucket_start, k.user_id, k.n_exact""".stripMargin

  /** The offline probe over an emitted sketch frame `sk`: every exact
    * per-(window, key) count alongside its CMS estimate. */
  private def cmsProbe(s: SparkSession, dir: String,
      sk: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = graft.Tables(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("user_id"), col("n_exact"))
    val est = graft.functions.CmsCounts.estimate(
      col("cms"), col("user_id"), 4, 256)
    keys.join(broadcast(sk), Seq("bucket_start"))
      .select(col("bucket_start"), col("user_id"), col("n_exact"),
        est.as("cms_estimate"),
        (est - col("n_exact")).as("overcount"))
  }

  val q112StreamCms: Q = Q.sql(
    "q112_stream_cms",
    cmsOracleSql,
    "streaming tumbling-window Count-Min sketch, probed offline per key") {
    (s, dir) => cmsProbe(s, dir, streamOnce("stream-cms", s, dir)(cmsFrame))
  }

  private def mgStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    streamOnce("stream-mg", spark, dir) { feed =>
      feed.events.toDF()
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_window"),
          graft.functions.MgCandidates
            .candidates(graft.ops.Text.baseHash(col("event_type")), 4)
            .as("cands"))
        .select(unix_timestamp(col("window.start")).as("bucket_start"),
          col("n_window"), col("cands"))
    }
  }

  /** Streaming heavy hitters — the last cell of the sketch x streaming
    * matrix (KMV: q44/q96, CMS: q108/q112, Misra-Gries: q105/THIS): per
    * tumbling hour, the k=4 MG candidate sketch folds in STREAMING
    * aggregation state — at most 4 counters per open window however many
    * distinct keys the hour sees, mergeable across partial aggregates
    * and micro-batches (Agarwal et al., PODS'12) — and each closed
    * window's candidates are then confirmed exactly batch-side, q105's
    * two-pass discipline: explode the <= 4 candidate hashes,
    * broadcast-join them to the exact per-(window, key) counts, and keep
    * keys with cnt * 5 > n_window. The MG guarantee (k + 1 >= 1/phi,
    * here 5 = 5) makes the candidate set a superset of every such key
    * under ANY partition/batch order, so the confirmed output is
    * deterministic and hash-gateable against the plain GROUP BY/HAVING
    * oracle even though the raw sketch contents are not — the candidate
    * hash itself never reaches the output. Key = event_type (5 live
    * keys against 4 counters, so the sketch genuinely decrements every
    * window, and the >20% bar stays non-degenerate at every SF — a
    * user_id key at sf0.1's ~139 events/hour x 150 uniform users has no
    * heavy hitters at all). Same ms-truncated 10-minute watermark
    * cutoff as q96/q112. */
  val q123StreamHeavyHitters: Q = Q.sql(
    "q123_stream_heavy_hitters",
    """WITH e AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start, event_type
      |  FROM events
      |), n AS (
      |  SELECT bucket_start, COUNT(*) AS n_window FROM e GROUP BY 1
      |), u AS (
      |  SELECT bucket_start, event_type, COUNT(*) AS cnt FROM e GROUP BY 1, 2
      |)
      |SELECT CAST(u.bucket_start AS BIGINT) AS bucket_start, u.event_type,
      |  CAST(u.cnt AS BIGINT) AS cnt, CAST(n.n_window AS BIGINT) AS n_window
      |FROM u JOIN n USING (bucket_start)
      |WHERE u.cnt * 5 > n.n_window
      |  AND (u.bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin,
    "streaming per-window Misra-Gries candidates + exact batch confirm (q105 x §2.9)") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      val cand = mgStream(s, dir).select(col("bucket_start"), col("n_window"),
        explode(col("cands")).as("h"))
      graft.Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("window.start")).as("bucket_start"),
          col("event_type"), col("cnt"),
          graft.ops.Text.baseHash(col("event_type")).as("h"))
        .join(broadcast(cand), Seq("bucket_start", "h"))
        .filter(col("cnt") * 5 > col("n_window"))
        .select(col("bucket_start"), col("event_type"), col("cnt"),
          col("n_window"))
  }

  /** Checkpoint restart of SKETCH state — the fourth and last state
    * kind under the restart gate (q117: keyed typed fold, q118: RocksDB
    * symmetric join, q121: merging session windows, THIS: a
    * TypedImperativeAggregate buffer, whose serialize/deserialize round
    * trip through the state store only runs across a kill). The q112
    * CMS stream is cut mid-feed and resumed by a new incarnation; open
    * windows' 8 KiB counter matrices must come back from the checkpoint
    * EXACTLY — the counter matrix is order-independent and the oracle
    * recomputes it closed-form, so one replayed or lost row across the
    * boundary flips a cell and fails the hash compare. Gates against
    * [[cmsOracleSql]], q112's UNCHANGED one-shot oracle: recovery has
    * to be invisible. */
  val q127StreamCmsRestart: Q = Q.sql(
    "q127_stream_cms_restart",
    cmsOracleSql,
    "checkpoint restart mid-feed of TypedImperativeAggregate sketch state") {
    (s, dir) =>
      cmsProbe(s, dir, streamRestart("cms-restart", s, dir)(cmsFrame))
  }

  /** Ingest-time corpus gate — the streaming twin of q116's front half,
    * split the way production curation splits: CHEAP rules run online,
    * expensive corpus-wide passes run offline over what survived.
    * Online (this stream): q116's quality rule (>= 5 tokens, punct <=
    * 20% of chars) as a map-side filter, then exact content dedup via
    * `dropDuplicates` on md5(text) — admission state is one key per
    * distinct surviving content. Offline (batch post-pass over the
    * sink): q106's Bloom-prefiltered 20-gram decontamination and the
    * test-split exclusion, both content-keyed equi-joins.
    *
    * Determinism despite the dedup survivor race (q81/q101's rationale):
    * WHICH physical document survives a same-batch content collision is
    * a partition race, so every emitted column is a function of the
    * text alone (content key, token count) or a deterministic batch
    * aggregate over ALL bearers of that content (test_only,
    * contaminated) — never an attribute of the racy survivor row. */
  val q128StreamIngestGate: Q = Q.sql(
    "q128_stream_ingest_gate",
    """WITH t0 AS (
      |  SELECT doc_id, text, md5(text) AS content_key,
      |         string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents
      |), ql AS (
      |  SELECT * FROM t0
      |  WHERE len(toks) >= 5
      |    AND length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 5 <= length(text)
      |), con AS (
      |  SELECT content_key, MIN(len(toks)) AS n_tokens FROM ql GROUP BY 1
      |), hh AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 100 < 5 AS is_test
      |  FROM documents
      |), tonly AS (
      |  SELECT t0.content_key,
      |    MIN(CASE WHEN hh.is_test THEN 1 ELSE 0 END) = 1 AS test_only
      |  FROM t0 JOIN hh USING (doc_id) GROUP BY 1
      |), g20 AS (
      |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g
      |  FROM (SELECT doc_id,
      |          unnest(list_distinct([substr(text, i, 20)
      |            for i in range(1, length(text) - 18)])) AS gram
      |        FROM documents WHERE length(text) >= 20)
      |), te AS (
      |  SELECT DISTINCT g FROM g20 JOIN hh USING (doc_id) WHERE hh.is_test
      |), tr AS (
      |  SELECT g20.doc_id AS train_doc, g FROM g20 JOIN hh USING (doc_id)
      |  WHERE NOT hh.is_test
      |), bad AS (
      |  SELECT train_doc FROM tr JOIN te USING (g)
      |  GROUP BY 1 HAVING COUNT(*) >= 3
      |), cc AS (
      |  SELECT DISTINCT t0.content_key
      |  FROM t0 JOIN bad ON bad.train_doc = t0.doc_id
      |)
      |SELECT c.content_key, CAST(c.n_tokens AS BIGINT) AS n_tokens,
      |  t.test_only,
      |  cc.content_key IS NOT NULL AS contaminated,
      |  (NOT t.test_only AND cc.content_key IS NULL) AS kept
      |FROM con c
      |JOIN tonly t USING (content_key)
      |LEFT JOIN cc USING (content_key)""".stripMargin,
    "ingest-time corpus gate: stream quality filter + content dedup, batch decontamination") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.ops.Text
      val admitted = streamOnce("stream-ingest-gate", s, dir) { feed =>
        StreamingFeed.fileSource(feed.sess, dir, "documents.parquet")
          .select(col("text"), Text.tokens(col("text")).as("toks"),
            length(regexp_replace(col("text"), "[^.,!?;:]", "")).as("np"))
          .filter(size(col("toks")) >= 5 &&
            col("np") * 5 <= length(col("text")))
          .select(md5(col("text")).as("content_key"),
            size(col("toks")).cast("long").as("n_tokens"))
          .dropDuplicates("content_key")
      }
      val isTest =
        Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string"))) % 100 < 5
      val bearers = graft.Tables(s, dir, "documents")
        .select(md5(col("text")).as("content_key"), col("doc_id"),
          isTest.as("is_test"))
      val testOnly = bearers.groupBy(col("content_key"))
        .agg((min(when(col("is_test"), 1L).otherwise(0L)) === 1L)
          .as("test_only"))
      val contaminated = bearers
        .join(TextPipeline.q106BloomDecontaminate.run(s, dir)
            .select(col("train_doc").as("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("content_key")).distinct()
        .withColumn("contaminated", lit(true))
      admitted
        .join(testOnly, Seq("content_key"))
        .join(contaminated, Seq("content_key"), "left")
        .select(col("content_key"), col("n_tokens"), col("test_only"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"),
          (!col("test_only") && col("contaminated").isNull).as("kept"))
  }

  /** The streaming anomaly scorer: custom ring-buffer state on
    * flatMapGroupsWithState (see [[graft.streaming.StreamingAnomaly]]).
    * Shared by q145 (one-shot) and q159 (checkpoint restart). */
  private def anomalyFrame(feed: Feed): DataFrame =
    graft.streaming.StreamingAnomaly(feed.events).toDF()

  /** Streaming trailing-window z-score anomaly detection — q133's
    * incremental twin on CUSTOM state (where q80 is the built-in windowed
    * agg): per event_type a bounded ring buffer of the last 24 closed
    * hourly buckets scores each newly closed bucket the moment the
    * watermark strictly passes its end. The oracle is q133's exact
    * expression tree restricted to buckets the final watermark closed —
    * the q80 cutoff discipline, with `<` rather than `≤` because Spark
    * fires event-time timeouts only when the watermark STRICTLY exceeds
    * the armed timestamp, and the operator's close comparison mirrors
    * that. State per key is O(1): ≤ (delay/1h + 1) open buckets + 24
    * history entries — shardable to any key cardinality. */
  val q145StreamAnomaly: Q = Q.sql(
    "q145_stream_anomaly",
    """WITH hourly AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |), w AS (
      |  SELECT bucket_start, event_type, n,
      |    SUM(n) OVER tw AS s, COUNT(n) OVER tw AS c, SUM(n * n) OVER tw AS sq
      |  FROM hourly
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY bucket_start
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |), m AS (
      |  SELECT *, CAST(s AS DOUBLE) / c AS mean FROM w WHERE c = 24
      |), v AS (
      |  SELECT *, GREATEST(CAST(sq AS DOUBLE) / c - mean * mean, 0.0) AS vr
      |  FROM m
      |), sd AS (
      |  SELECT *, sqrt(vr) AS std FROM v
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, event_type,
      |  CAST(n AS BIGINT) AS n, mean, std,
      |  CASE WHEN std > 0 THEN (CAST(n AS DOUBLE) - mean) / std END AS z,
      |  CASE WHEN std > 0 THEN abs((CAST(n AS DOUBLE) - mean) / std) > 3
      |       ELSE FALSE END AS is_anomaly
      |FROM sd
      |WHERE (bucket_start + 3600) * 1000000 <
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin,
    "streaming z-score anomaly detection on ring-buffer state (§2.9 x q133)") {
    (s, dir) =>
      streamOnce("stream-anomaly", s, dir)(anomalyFrame).select(
        col("bucket_start"), col("event_type"), col("n"),
        col("mean"), col("std"), col("z"), col("is_anomaly"))
  }

  /** The per-key infinite-history EWMA fold (custom buffered-fold state,
    * see [[graft.streaming.StreamingEwma]]). Shared by q188 (one-shot)
    * and q191 (checkpoint restart). */
  private def ewmaFrame(feed: Feed): DataFrame =
    graft.streaming.StreamingEwma(feed.events).toDF()

  /** Streaming infinite-history EWMA — the stateful twin of the batch
    * q187, and the inverse trade: the batch spelling truncates at 32
    * terms because EWMA is a sequential recurrence no batch engine
    * parallelizes, while the stream folds the EXACT untruncated
    * e_t = (x_t + e_{t−1})/2 with two numbers of permanent state per
    * key — the operator class that is structurally easier streaming
    * than batch. Events buffer until the watermark strictly passes
    * their ts (order is load-bearing for a recurrence), bounded by one
    * delay window per key; emission uses the repo's standard strict
    * ms cutoff. The oracle replays the identical recurrence with a
    * RECURSIVE CTE — both sides perform the same IEEE add + exact
    * halving per step in the same chronological order, so every double
    * is bit-identical with NO truncation tolerance. */
  val q188StreamEwma: Q = Q.sql(
    "q188_stream_ewma",
    """WITH RECURSIVE o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_id, ts_us, value, rn, value AS ewma
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.event_id, o.ts_us, o.value, o.rn,
      |    (o.value + r.ewma) / 2 AS ewma
      |  FROM o JOIN r ON r.user_id = o.user_id AND o.rn = r.rn + 1
      |)
      |SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn, value, ewma
      |FROM r
      |WHERE ts_us // 1000 <
      |      (SELECT (MAX(epoch_us(ts)) // 1000) - 600000 FROM events)""".stripMargin,
    "streaming exact infinite-history EWMA on buffered-fold state (q187's twin)") {
    (s, dir) =>
      streamOnce("stream-ewma", s, dir)(ewmaFrame).select(
        col("user_id"), col("event_id"), col("rn"), col("value"), col("ewma"))
  }

  /** Checkpoint restart of the buffered-fold EWMA state — the sixth
    * state shape under the restart gate, and the one the others don't
    * cover: q188's state is an ORDERED open-event buffer plus a folded
    * (count, prev) pair, so a restart must restore not just values but
    * the ORDER CONTRACT — if the checkpoint lost or replayed one open
    * event, or resumed the fold with a stale prev, every downstream
    * EWMA in that key shifts and the bit-exact recursive-CTE oracle
    * fails on the first affected row. Cut mid-feed, q117's scaffold,
    * against q188's UNCHANGED oracle. */
  val q191StreamEwmaRestart: Q = Q.sql(
    "q191_stream_ewma_restart",
    q188StreamEwma.oracle,
    "checkpoint restart mid-feed of the buffered-fold EWMA state") {
    (s, dir) =>
      streamRestart("ewma-restart", s, dir)(ewmaFrame).select(
        col("user_id"), col("event_id"), col("rn"), col("value"), col("ewma"))
  }

  /** Checkpoint restart of the ring-buffer anomaly state — the subtle
    * restart case the four existing restart gates don't cover: q145's
    * state carries an ARMED EVENT-TIME TIMEOUT, and a restart must
    * restore not just the open-bucket counts and 24-entry history but
    * the timeout registration, or the final no-data flush silently
    * skips every key that saw no post-restart events. Same discipline
    * as q117/q118/q121/q127: two query incarnations over a mid-feed
    * split, one oracle (q145's, verbatim) — recovery has to be
    * invisible in the output. */
  val q159StreamAnomalyRestart: Q = Q.sql(
    "q159_stream_anomaly_restart",
    q145StreamAnomaly.oracle,
    "checkpoint restart of ring-buffer + armed-timeout anomaly state") {
    (s, dir) =>
      streamRestart("anomaly-restart", s, dir)(anomalyFrame)
        .select(col("bucket_start"), col("event_type"), col("n"),
          col("mean"), col("std"), col("z"), col("is_anomaly"))
  }

  /** The stream-static PIT enrichment plan: purchases stream against the
    * batch-built SCD2 dimension with the validity range as a residual. */
  private def pitEnrichStream(spark: SparkSession, dir: String): DataFrame =
    streamOnce("stream-pit", spark, dir) { feed =>
      import org.apache.spark.sql.functions._
      // the dimension is q162's SCD2 output, built batch-side once at
      // stream start (the standard stream-static shape: the static plan
      // re-executes per micro-batch; AvailableNow here runs one batch)
      val dim = Relational.q162Scd2.run(feed.sess, dir)
        .select(col("user_id").as("d_user"), col("state"),
          col("valid_from_us"), col("valid_to_us"), col("version"))
      feed.events.toDF()
        .filter(col("event_type") === "purchase")
        .withColumn("tus", unix_micros(col("ts")))
        .join(dim,
          col("user_id") === col("d_user") &&
            col("tus") >= col("valid_from_us") &&
            (col("valid_to_us").isNull || col("tus") < col("valid_to_us")))
        .select(col("event_id"), col("user_id"), col("value"),
          col("state"), col("version"), col("valid_from_us"))
    }

  // ---------------------------------------------------------------- q200
  /** Streaming point-in-time enrichment — q168's AS-OF dimension lookup
    * moved to ingest time: the purchases STREAM joins the SCD2
    * dimension version valid at each event's timestamp (user equi-key +
    * validity-range residual), the warehouse pattern for decorating a
    * live fact feed with slowly-changing attributes before landing.
    * Stateless on the stream side (no watermark, no state store): the
    * static dimension plans into each micro-batch — at 1000 executors
    * the compacted changelog broadcasts or co-partitions per batch and
    * the stream never shuffles twice.
    *
    * The oracle is q168's batch SQL VERBATIM (one WHERE added): the
    * gate proves streaming enrichment ≡ batch PIT join — ingest-time
    * decoration loses nothing vs the warehouse replay. */
  val q200StreamPitEnrich: Q = Q.sql(
    "q200_stream_pit_enrich",
    """WITH e AS (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS tus, event_id,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events
      |), ch AS (
      |  SELECT user_id, state, tus, event_id FROM e
      |  WHERE prev IS NULL OR prev <> state
      |), dim AS (
      |  SELECT user_id, state, tus AS valid_from_us,
      |    LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS valid_to_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id)
      |      AS BIGINT) AS version
      |  FROM ch
      |), p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tus, value
      |  FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.value, d.state, d.version,
      |  d.valid_from_us
      |FROM p JOIN dim d ON d.user_id = p.user_id
      |  AND p.tus >= d.valid_from_us
      |  AND (d.valid_to_us IS NULL OR p.tus < d.valid_to_us)""".stripMargin,
    "streaming PIT enrich: purchases stream x SCD2 dim; oracle is q168's batch replay") {
    (s, dir) =>
      pitEnrichStream(s, dir).select(
        col("event_id"), col("user_id"), col("value"),
        col("state"), col("version"), col("valid_from_us"))
  }

  /** The skew-safe spelling of q100 (round-7 zipf finding, promoted from
    * BASELINE.md prose to a gated row): per-(user, hour) cap of
    * [[graft.streaming.StreamingCappedJoin.CapPerHour]] deterministic
    * representatives on EACH side before any matching, so state and
    * output per (user, hour) are O(K²) at ANY hot-key rate — the whole
    * query stays linear on the zipf fixture where q100's exact banded
    * output is quadratic by construction. Kept set = K smallest event
    * ids per (user, hour, side); a purchase bucket emits at
    * `wm ≥ end(B)`, a click's unmatched row at `wm ≥ end(B) + 2h` —
    * both closed-form in the final watermark, so the oracle reproduces
    * the exact row set with two QUALIFY caps and the two finalization
    * predicates. Single source, single watermark (both sides ride one
    * scan — unlike q100's two-reader min-watermark). */
  /** Shared by q201 (one-shot) and q213 (checkpoint restart): the
    * closed-form capped-join replay. The cap is BY EVENT ID, not
    * arrival order, so the result is a pure function of the input set —
    * which is exactly what makes the restart gate meaningful: a lost
    * buffered row, a replayed row, or a cap counter restored wrong in
    * incarnation 2 each flips the hash. */
  private val cappedJoinOracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us, event_type
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |wm AS (SELECT (MAX(ts_us) // 1000) * 1000 - 600000000 AS w FROM ev),
      |pr AS (SELECT user_id, event_id, value, ts_us, ts_us // 3600000000 AS b
      |       FROM ev WHERE event_type = 'purchase'
      |       QUALIFY row_number() OVER (PARTITION BY user_id, ts_us // 3600000000
      |                                  ORDER BY event_id) <= 8),
      |cl AS (SELECT user_id, event_id, value, ts_us, ts_us // 3600000000 AS b
      |       FROM ev WHERE event_type = 'click'
      |       QUALIFY row_number() OVER (PARTITION BY user_id, ts_us // 3600000000
      |                                  ORDER BY event_id) <= 8),
      |prf AS (SELECT * FROM pr
      |        WHERE (b + 1) * 3600000000 <= (SELECT w FROM wm)),
      |clf AS (SELECT * FROM cl
      |        WHERE (b + 1) * 3600000000 + 7200000000 <= (SELECT w FROM wm))
      |SELECT CAST(p.user_id AS BIGINT) AS user_id,
      |       CAST(p.event_id AS BIGINT) AS p_event_id,
      |       CAST(c.event_id AS BIGINT) AS c_event_id,
      |       CAST(p.ts_us AS BIGINT) AS p_ts_us,
      |       CAST(c.ts_us AS BIGINT) AS c_ts_us,
      |       p.value AS p_value, c.value AS c_value
      |FROM prf p JOIN cl c ON c.user_id = p.user_id
      |  AND c.ts_us >= p.ts_us - 7200000000 AND c.ts_us <= p.ts_us
      |UNION ALL
      |SELECT CAST(p.user_id AS BIGINT), CAST(p.event_id AS BIGINT),
      |       CAST(NULL AS BIGINT), CAST(p.ts_us AS BIGINT),
      |       CAST(NULL AS BIGINT), p.value, CAST(NULL AS DOUBLE)
      |FROM prf p WHERE NOT EXISTS (SELECT 1 FROM cl c
      |  WHERE c.user_id = p.user_id
      |    AND c.ts_us >= p.ts_us - 7200000000 AND c.ts_us <= p.ts_us)
      |UNION ALL
      |SELECT CAST(c.user_id AS BIGINT), CAST(NULL AS BIGINT),
      |       CAST(c.event_id AS BIGINT), CAST(NULL AS BIGINT),
      |       CAST(c.ts_us AS BIGINT), CAST(NULL AS DOUBLE), c.value
      |FROM clf c WHERE NOT EXISTS (SELECT 1 FROM prf p
      |  WHERE p.user_id = c.user_id
      |    AND c.ts_us >= p.ts_us - 7200000000 AND c.ts_us <= p.ts_us)""".stripMargin

  /** The capped join ([[graft.streaming.StreamingCappedJoin]]), shared
    * by q201 (one-shot) and q213 (checkpoint restart). */
  private def cappedJoinFrame(feed: Feed): DataFrame =
    graft.streaming.StreamingCappedJoin(feed.events)

  val q201CappedStreamJoin: Q = Q.sql(
    "q201_capped_stream_join",
    cappedJoinOracle,
    "per-(user,hour)-capped stream-stream interval join: skew-safe q100") {
    (s, dir) =>
      streamOnce("stream-capped-join", s, dir)(cappedJoinFrame)
        .select(col("user_id"), col("p_event_id"), col("c_event_id"),
          col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  // ---------------------------------------------------------------- q213
  /** The capped join's state under CHECKPOINT RESTART — the eighth
    * state shape in the restart matrix (fold, join, session, CMS, HLL,
    * EWMA buffer, anomaly): per-(user, hour) admission counters plus
    * the banded row buffers inside the custom
    * flatMapGroupsWithState. Incarnation 1 drains half the feed and
    * dies; incarnation 2 resumes from the checkpoint and drains the
    * rest. Because the cap admits BY EVENT ID (not arrival), the
    * one-shot q201 oracle is unchanged — a counter restored one low
    * would re-admit a 9th row, one high would drop an 8th, and a lost
    * buffered click kills a matched pair: each flips the hash. */
  val q213CappedJoinRestart: Q = Q.sql(
    "q213_capped_join_restart",
    cappedJoinOracle,
    "q201's capped-join state recovered across a mid-feed restart") {
    (s, dir) =>
      streamRestart("capped-join-restart", s, dir)(cappedJoinFrame)
        .select(col("user_id"), col("p_event_id"), col("c_event_id"),
          col("p_ts_us"), col("c_ts_us"), col("p_value"), col("c_value"))
  }

  /** Exactly-once FILE-SINK semantics under restart — the sink-side
    * complement of the state-recovery restart matrix (q117/q118/q121/
    * q127/q159/q184/q191 prove state; none proved the sink). The
    * two-incarnation scaffold tears the checkpoint open at the worst
    * crash point — after the sink wrote data files + its
    * `_spark_metadata/<batch>` manifest entry, before the commit log
    * recorded the batch (see [[streamRestart]]'s `tearSinkCommit`) — so
    * incarnation 2 REPLAYS the batch (the harness asserts the commit
    * marker is rewritten) and only the sink's manifest check stands
    * between the replay and duplicate output. The sink re-read honors
    * `_spark_metadata`, and the gate hashes it against the plain batch
    * oracle: a duplicated replay row, a lost row, or a reader that
    * listed orphan files raw would each flip the hash. The plan is a
    * deliberately stateless map-only enrich — any divergence is the
    * sink/commit protocol's, not an operator's. */
  val q203SinkExactlyOnce: Q = Q.sql(
    "q203_sink_exactly_once",
    """SELECT CAST(event_id AS BIGINT) AS event_id,
      |       CAST(user_id AS BIGINT) AS user_id,
      |       event_type, value, value * 1.5 AS boosted,
      |       CAST(epoch_us(ts) AS BIGINT) AS ts_us
      |FROM events WHERE value >= 20.0""".stripMargin,
    "exactly-once file sink: torn commit forces a replay; manifest dedupes") {
    (s, dir) =>
      streamRestart("sink-exactly-once", s, dir, tearSinkCommit = true) {
        feed =>
          feed.events.toDF()
            .filter(col("value") >= 20.0)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), (col("value") * 1.5).as("boosted"),
              org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts_us"))
      }.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("boosted"), col("ts_us"))
  }

  // ---------------------------------------------------------------- q208
  /** Streaming per-window quantiles through the deterministic bottom-k
    * sample ([[graft.functions.BottomKSample]], q204's batch form):
    * tumbling-hour p50/p90 of `value` from the k=64 rows whose md5
    * event-id hash is smallest. Exact per-window sorts are unbounded on
    * streams; the mergeable O(k) sample is the at-scale answer — and
    * unlike GK/KLL streaming percentiles the result is a pure function
    * of the window's row SET, so arrival order, micro-batch boundaries,
    * and state-store merges cannot move it: the DuckDB oracle recomputes
    * the identical closed form (q96's discipline, with values instead
    * of a distinct-count). */
  val q208StreamQuantiles: Q = Q.sql(
    "q208_stream_quantiles",
    """WITH b AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start, value AS v,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM events
      |), r AS (
      |  SELECT bucket_start, v,
      |         row_number() OVER (PARTITION BY bucket_start ORDER BY h, v) AS rn
      |  FROM b
      |), s AS (
      |  SELECT bucket_start, v FROM r WHERE rn <= 64
      |), o AS (
      |  SELECT bucket_start, v,
      |         row_number() OVER (PARTITION BY bucket_start ORDER BY v) AS orn,
      |         count(*) OVER (PARTITION BY bucket_start) AS k
      |  FROM s
      |), q AS (
      |  SELECT bucket_start,
      |    MAX(CASE WHEN orn = CAST(ceil(0.5 * k) AS BIGINT) THEN v END) AS p50,
      |    MAX(CASE WHEN orn = CAST(ceil(0.9 * k) AS BIGINT) THEN v END) AS p90
      |  FROM o GROUP BY 1
      |), n AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1
      |)
      |SELECT CAST(q.bucket_start AS BIGINT) AS bucket_start,
      |  CAST(n.n_events AS BIGINT) AS n_events, q.p50, q.p90
      |FROM q JOIN n USING (bucket_start)
      |WHERE (q.bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM events)""".stripMargin,
    "streaming tumbling-window deterministic bottom-k quantiles (mergeable sample)") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      streamOnce("stream-bottomk", s, dir) { feed =>
        val agg = feed.events.toDF()
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"),
            graft.functions.BottomKSample.sample(
              graft.ops.Text.baseHash(col("event_id").cast("string")),
              col("value"), 64).as("sample"))
        agg
          .withColumn("sorted", array_sort(col("sample")))
          .withColumn("k", size(col("sorted")))
          .select(unix_timestamp(col("window.start")).as("bucket_start"),
            col("n_events"),
            element_at(col("sorted"), ceil(lit(0.5) * col("k")).cast("int")).as("p50"),
            element_at(col("sorted"), ceil(lit(0.9) * col("k")).cast("int")).as("p90"))
      }.select(col("bucket_start"), col("n_events"), col("p50"), col("p90"))
  }

  // ---------------------------------------------------------------- q232
  /** Streaming calibration monitoring — q218's reliability deciles
    * folded per tumbling hour in watermarked streaming state: the live
    * "is the model's score still calibrated" dashboard, which is the
    * first signal of upstream feature drift in a deployed scorer. Per
    * (closed hour, decile bin): exact n, positives, Σp_milli — the
    * acc/conf gap is derivable row-locally downstream, so the stream
    * emits only integer state (q218's quantized-score discipline is
    * what makes the streaming fold exact: every accumulator is a bigint,
    * merge-order-free across micro-batches by construction).
    *
    * The oracle recomputes the same hour buckets closed-form under
    * q80's watermark-cutoff rule — the stream filters to scored event
    * types BEFORE the watermark, so the cutoff derives from the max
    * event time of the FILTERED feed (asserted by matching the
    * subselect's WHERE). State is O(open windows × 10 bins). */
  val q232StreamCalibration: Q = Q.sql(
    "q232_stream_calibration",
    """WITH f AS (
      |  SELECT ts, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |  FROM events
      |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
      |), p AS (
      |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start, y,
      |    CAST(floor(1000 * CAST(floor(value * 100) AS BIGINT)
      |      / (CAST(floor(value * 100) AS BIGINT) + 5000)) AS BIGINT)
      |      AS p_milli
      |  FROM f
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start,
      |  CAST(floor(p_milli / 100) AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) AS BIGINT) AS n_pos,
      |  CAST(SUM(p_milli) AS BIGINT) AS sum_p_milli
      |FROM p
      |WHERE (bucket_start + 3600) * 1000000 <=
      |      (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM f)
      |GROUP BY 1, 2""".stripMargin,
    "per-hour streaming reliability-decile counters under the watermark") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      streamOnce("stream-calibration", s, dir) { feed =>
        val vc = floor(col("value") * 100).cast("long")
        val pm = floor(lit(1000) * vc / (vc + 5000)).cast("long")
        feed.events.toDF()
          .where(col("event_type").isin("purchase", "click") &&
            col("value").isNotNull)
          .withWatermark("ts", "10 minutes")
          .select(col("ts"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
            pm.as("p_milli"))
          .withColumn("bin", floor(col("p_milli") / 100).cast("long"))
          .groupBy(window(col("ts"), "1 hour"), col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
            sum(col("p_milli")).as("sum_p_milli"))
          .select(unix_timestamp(col("window.start")).as("bucket_start"),
            col("bin"), col("n").cast("long").as("n"),
            col("n_pos").cast("long").as("n_pos"),
            col("sum_p_milli").cast("long").as("sum_p_milli"))
      }
  }

  // ---------------------------------------------------------------- q245
  /** Streaming replica count (8 keeps state at 16 bigints per window;
    * the batch q241 runs 32 — the shape is identical). */
  val StreamBootstrapReplicas = 8

  private def streamBootstrapOracle: String = {
    def w(b: Int): String =
      s"""CASE WHEN ('0x' || substr(md5('boot|$b|' ||
         | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 37 THEN 0
         | WHEN ('0x' || substr(md5('boot|$b|' ||
         | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 74 THEN 1
         | WHEN ('0x' || substr(md5('boot|$b|' ||
         | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 92 THEN 2
         | WHEN ('0x' || substr(md5('boot|$b|' ||
         | CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 98 THEN 3
         | ELSE 4 END""".stripMargin.replace("\n", "")
    val reps = (0 until StreamBootstrapReplicas).map { b =>
      s"""SELECT bucket_start, CAST($b AS BIGINT) AS b,
         |  CAST(SUM(${w(b)}) AS BIGINT) AS n,
         |  CAST(SUM((${w(b)}) * cents) AS BIGINT) AS sum_cents
         |FROM p GROUP BY 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH f AS (
       |  SELECT ts, event_id, CAST(floor(value * 100) AS BIGINT) AS cents
       |  FROM events
       |  WHERE event_type = 'purchase' AND value IS NOT NULL
       |), p AS MATERIALIZED (
       |  SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_start,
       |    event_id, cents
       |  FROM f
       |  WHERE ((epoch_us(ts) // 3600000000) * 3600 + 3600) * 1000000 <=
       |        (SELECT ((MAX(epoch_us(ts)) // 1000) - 600000) * 1000 FROM f)
       |), r AS (
       |$reps
       |)
       |SELECT CAST(bucket_start AS BIGINT) AS bucket_start, b, n, sum_cents,
       |  CASE WHEN n > 0 THEN (CAST(sum_cents AS DOUBLE) / n) / 100 END
       |    AS mean_value
       |FROM r""".stripMargin
  }

  /** Streaming Poisson bootstrap — q241's one-pass uncertainty estimate
    * running LIVE: per tumbling hour, 8 bootstrap replicas of mean
    * purchase value folded in watermarked streaming state. The Poisson
    * trick is what makes a streaming bootstrap possible at all: each
    * replica is two conditional integer sums per window (state = 16
    * bigints), merge-order-free across micro-batches, where
    * resample-with-replacement has no incremental spelling. Replica
    * spread per closed hour is the live error bar on the dashboard
    * q80/q232 draw.
    *
    * Oracle: closed-form recomputation under q232's ms-truncated
    * 10-minute watermark cutoff derived from the FILTERED feed; the
    * per-replica md5 weights are pure functions of event_id, so stream
    * and oracle draw the identical "sample". Wide-row state is exploded
    * to (window, replica) rows batch-side after the sink read. */
  val q245StreamBootstrap: Q = Q.sql(
    "q245_stream_bootstrap",
    streamBootstrapOracle,
    "per-hour streaming Poisson-bootstrap replicas of mean purchase value") {
    (s, dir) =>
      explodeBootstrap(
        streamOnce("stream-bootstrap", s, dir)(bootstrapStreamFrame))
  }

  // ---------------------------------------------------------------- q252
  /** Streaming distribution-drift alarm — q163's categorical chi-square
    * running LIVE: per tumbling 6-hour window the event-type counts
    * fold in watermarked streaming state (exact bigints, merge-order-
    * free); batch-side the closed windows join the full-feed reference
    * distribution and each (window, type) cell emits its expected count
    * and chi-square term. Completes the live-monitoring triad: q232
    * watches calibration, q145 watches anomalies, this watches the
    * input distribution itself — the earliest upstream-breakage signal.
    *
    * Determinism: observed and reference counts are integers; e =
    * win_total·ref_t/ref_total and term = (o−e)²/e are fixed-
    * parenthesization double trees (one division each step). Oracle =
    * closed-form recomputation under q232's ms-truncated watermark
    * cutoff. State is O(open windows × 5 types). */
  val q252StreamDrift: Q = Q.sql(
    "q252_stream_drift",
    """WITH ref AS MATERIALIZED (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM events GROUP BY 1
      |), rt AS (SELECT CAST(SUM(r) AS BIGINT) AS r_tot FROM ref),
      |w AS MATERIALIZED (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600
      |      AS bucket_start,
      |    event_type, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events
      |  WHERE ((epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600
      |      + 21600) * 1000000 <=
      |    (SELECT ((MAX(epoch_us(CAST(ts AS TIMESTAMP))) // 1000)
      |      - 600000) * 1000 FROM events)
      |  GROUP BY 1, 2
      |), wt AS (
      |  SELECT bucket_start, CAST(SUM(o) AS BIGINT) AS w_tot
      |  FROM w GROUP BY 1
      |)
      |SELECT CAST(w.bucket_start AS BIGINT) AS bucket_start,
      |  w.event_type, o, w_tot,
      |  CAST(w_tot AS DOUBLE) * r / r_tot AS expected,
      |  (CAST(o AS DOUBLE) - CAST(w_tot AS DOUBLE) * r / r_tot)
      |    * (CAST(o AS DOUBLE) - CAST(w_tot AS DOUBLE) * r / r_tot)
      |    / (CAST(w_tot AS DOUBLE) * r / r_tot) AS chisq_term
      |FROM w
      |JOIN wt ON wt.bucket_start = w.bucket_start
      |JOIN ref ON ref.event_type = w.event_type
      |CROSS JOIN rt""".stripMargin,
    "per-window event-type counts vs the reference: live chi-square terms") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      val counts = streamOnce("stream-drift", s, dir) { feed =>
        feed.events.toDF()
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("o"))
          .select(unix_timestamp(col("window.start")).as("bucket_start"),
            col("event_type"), col("o").cast("long").as("o"))
      }
      val ref = graft.Tables(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("r"))
      val rt = ref.agg(sum(col("r")).cast("long").as("r_tot"))
      val wt = counts.groupBy(col("bucket_start"))
        .agg(sum(col("o")).cast("long").as("w_tot"))
      val e = col("w_tot").cast("double") * col("r") / col("r_tot")
      counts
        .join(wt, Seq("bucket_start"))
        .join(broadcast(ref), Seq("event_type"))
        .crossJoin(broadcast(rt))
        .select(col("bucket_start").cast("long").as("bucket_start"),
          col("event_type"), col("o"), col("w_tot"),
          e.as("expected"),
          ((col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
            .as("chisq_term"))
  }

  // ---------------------------------------------------------------- q255
  /** q245's streaming frame, shared with the restart gate q255 so both
    * run the IDENTICAL plan. */
  private def bootstrapStreamFrame(feed: Feed): DataFrame = {
    import org.apache.spark.sql.functions._
    def w(b: Int) = {
      val h = graft.ops.Text.baseHash(
        concat(lit(s"boot|$b|"), col("event_id").cast("string"))) % 100
      when(h < 37, 0L).when(h < 74, 1L).when(h < 92, 2L)
        .when(h < 98, 3L).otherwise(4L)
    }
    val aggs = (0 until StreamBootstrapReplicas).flatMap { b =>
      Seq(sum(w(b)).as(s"n_$b"), sum(w(b) * col("cents")).as(s"s_$b"))
    }
    feed.events.toDF()
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .withWatermark("ts", "10 minutes")
      .select(col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(unix_timestamp(col("window.start")).as("bucket_start")) ++
        (0 until StreamBootstrapReplicas).flatMap(b =>
          Seq(col(s"n_$b").cast("long").as(s"n_$b"),
            col(s"s_$b").cast("long").as(s"s_$b"))): _*)
  }

  private def explodeBootstrap(wide: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    wide.select(col("bucket_start"), explode(array(
        (0 until StreamBootstrapReplicas).map { b =>
          struct(lit(b.toLong).as("b"), col(s"n_$b").as("n"),
            col(s"s_$b").as("sum_cents"))
        }: _*)).as("r"))
      .select(col("bucket_start").cast("long").as("bucket_start"),
        col("r.b").as("b"), col("r.n").as("n"),
        col("r.sum_cents").as("sum_cents"),
        when(col("r.n") > 0,
          (col("r.sum_cents").cast("double") / col("r.n")) / 100)
          .as("mean_value"))
  }

  /** Checkpoint restart of the streaming-bootstrap state — the NINTH
    * state shape under the restart matrix (fold, joins, sessions, CMS,
    * HLL, EWMA buffers, capped-join counters… and now a WIDE windowed
    * aggregate: 16 independent conditional accumulators per window).
    * The q245 stream is cut mid-feed by the q117 two-incarnation
    * scaffold; a recovery bug in ANY of the 16 per-window sums (lost
    * partial, double-fold on replay, column transposition in the state
    * row) flips the hash against the UNCHANGED one-shot oracle. */
  val q255StreamBootstrapRestart: Q = Q.sql(
    "q255_stream_bootstrap_restart",
    streamBootstrapOracle,
    "checkpoint restart mid-feed of the 16-accumulator bootstrap state") {
    (s, dir) =>
      explodeBootstrap(
        streamRestart("bootstrap-restart", s, dir)(bootstrapStreamFrame))
  }

  // ---------------------------------------------------------------- q263
  /** Late-data DROP semantics, finally under the gate: every other
    * streaming query drains an arrival-ordered feed, so their
    * watermarks bound state but never actually discard a row — the
    * drop path was the one untested branch of the watermark contract.
    * Here the feed is split by USER PARITY (q117's two-incarnation
    * scaffold with a custom split): even users drain first and push
    * the watermark to feed-end − 10 min; odd users then arrive almost
    * entirely LATE, and the engine must drop exactly those whose hour
    * window has already been finalized (window_end ≤ the incarnation-1
    * watermark) while still admitting the tail that lands in open
    * windows. The oracle recomputes that rule closed-form: evens
    * always count, odds count iff window_end > wm₁, windows emit under
    * the q80 final-watermark cutoff. A drop-boundary off-by-one, a
    * watermark not restored from the checkpoint, or an undropped late
    * row each flips the hash. */
  val q263LateDropGate: Q = Q.sql(
    "q263_late_drop_gate",
    """WITH f AS MATERIALIZED (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tu, user_id
      |  FROM events
      |), wm1 AS (
      |  SELECT ((MAX(tu) // 1000) - 600000) * 1000 AS w
      |  FROM f WHERE user_id % 2 = 0
      |), wmf AS (
      |  SELECT ((MAX(tu) // 1000) - 600000) * 1000 AS w FROM f
      |), kept AS (
      |  SELECT (tu // 3600000000) * 3600 AS bucket_start
      |  FROM f, wm1
      |  WHERE user_id % 2 = 0
      |     OR ((tu // 3600000000) * 3600 + 3600) * 1000000 > wm1.w
      |)
      |SELECT CAST(bucket_start AS BIGINT) AS bucket_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM kept, wmf
      |WHERE (bucket_start + 3600) * 1000000 <= wmf.w
      |GROUP BY 1""".stripMargin,
    "per-hour counts after the engine drops genuinely late rows") {
    (s, dir) =>
      import org.apache.spark.sql.functions._
      streamRestart("late-drop", s, dir,
        splitPred = Some(pmod(col("user_id"), lit(2)) === 0)) {
        feed =>
          feed.events.toDF()
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(count(lit(1)).as("n_events"))
            .select(unix_timestamp(col("window.start")).as("bucket_start"),
              col("n_events").cast("long").as("n_events"))
      }
  }

  /** The token-bucket admission fold, shared by q269 (one-shot) and
    * q270 (checkpoint restart). */
  private def tokenBucketFrame(feed: Feed): DataFrame =
    graft.streaming.StreamingTokenBucket(feed.events).toDF()

  // ---------------------------------------------------------------- q269
  /** Streaming token-bucket rate limiting (see
    * [[graft.streaming.StreamingTokenBucket]]) — per-user admission
    * control whose transition depends on the inter-arrival GAP: a
    * genuine sequential state machine no batch window can spell, run
    * on buffered-fold state with TWO LONGS of permanent state per key.
    * The entire recurrence is integer min/add/subtract in micro-token
    * units (one token = 12h of refill = 4.32e10 units), so the oracle's
    * recursive-CTE replay matches bit-for-bit with no float anywhere —
    * the q188 discipline with even stronger exactness. */
  val q269TokenBucket: Q = Q.sql(
    "q269_token_bucket",
    """WITH RECURSIVE o AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rn
      |  FROM events
      |), r AS (
      |  SELECT user_id, event_id, ts_us, rn, TRUE AS allowed,
      |    CAST(86400000000 - 43200000000 AS BIGINT) AS tokens
      |  FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.event_id, o.ts_us, o.rn,
      |    LEAST(CAST(86400000000 AS BIGINT),
      |      r.tokens + (o.ts_us - r.ts_us)) >= 43200000000 AS allowed,
      |    CASE WHEN LEAST(CAST(86400000000 AS BIGINT),
      |        r.tokens + (o.ts_us - r.ts_us)) >= 43200000000
      |      THEN LEAST(CAST(86400000000 AS BIGINT),
      |        r.tokens + (o.ts_us - r.ts_us)) - 43200000000
      |      ELSE LEAST(CAST(86400000000 AS BIGINT),
      |        r.tokens + (o.ts_us - r.ts_us)) END AS tokens
      |  FROM o JOIN r ON r.user_id = o.user_id AND o.rn = r.rn + 1
      |)
      |SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn, allowed,
      |  tokens AS tokens_after
      |FROM r
      |WHERE ts_us // 1000 <
      |      (SELECT (MAX(epoch_us(ts)) // 1000) - 600000 FROM events)"""
      .stripMargin,
    "per-user token-bucket admission decisions on exact integer state") {
    (s, dir) =>
      streamOnce("stream-token-bucket", s, dir)(tokenBucketFrame)
        .select(col("user_id"), col("event_id"), col("rn"), col("allowed"),
          col("tokens_after"))
  }

  // ---------------------------------------------------------------- q270
  /** Checkpoint restart of the token-bucket state — the TENTH state
    * shape under the restart matrix, and the one with the longest
    * causal memory: q269's per-key (count, prev_ts, tokens) pair plus
    * the ordered open buffer. A recovery error here doesn't just shift
    * one output row — a lost or replayed event changes the bucket
    * level and flips admission decisions ARBITRARILY FAR downstream
    * (every later decision depends on every earlier gap), so the
    * bit-exact recursive-CTE oracle fails at the first divergence and
    * the gate cannot pass by luck. Cut mid-feed by q117's scaffold,
    * q269's oracle verbatim. */
  val q270TokenBucketRestart: Q = Q.sql(
    "q270_token_bucket_restart",
    q269TokenBucket.oracle,
    "checkpoint restart mid-feed of the token-bucket admission state") {
    (s, dir) =>
      streamRestart("token-bucket-restart", s, dir)(tokenBucketFrame)
        .select(col("user_id"), col("event_id"), col("rn"), col("allowed"),
          col("tokens_after"))
  }

  /** foreachBatch invocation ledger for [[q282MergeSinkRestart]] — the
    * gate must prove the torn batch was actually REPLAYED (invocation
    * ids [0, 0, 1]), otherwise it would pass vacuously on a run where
    * the tear never happened. Driver-side only (foreachBatch bodies run
    * on the driver); keyed by table dir so bench/verify re-runs in one
    * JVM don't cross-contaminate. */
  private val mergeSinkInvocations =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  /** The idempotent MERGE-sink pattern (Delta/Iceberg `foreachBatch`
    * upsert, spelled on plain parquet): an update-mode keyed aggregate
    * whose every micro-batch is written by DETERMINISTIC OVERWRITE to
    * `table/batch=<id>/`, read back latest-wins per key. Exactly-once
    * comes from idempotence, not atomicity: a replayed batch rewrites
    * the same partition byte-for-byte. Incarnation 1 CRASHES INSIDE THE
    * COMMIT WINDOW — after the sink write for its batch, before the
    * offset commit — so incarnation 2 must replay that batch (ledger
    * asserts ids [0, 0, 1]) and then drain the back half as batch 1.
    * Read = argmax-batch per key with a deterministic tiebreak. */
  private def mergeSinkTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val path = graft.SessionCache.onceStrong(spark, s"stream#$dir#merge-sink") {
      import java.nio.file.{Files, Paths}
      val tmp = graft.Scratch.tempDir("graft-merge-sink-").toString
      val watch = s"$tmp/watch"
      val tableDir = s"$tmp/table"
      Files.createDirectories(Paths.get(watch))
      val feed = Feed.watched(drainSession(spark), watch)
      val inv = mergeSinkInvocations.computeIfAbsent(tableDir,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
      val (slice1, slice2) = stagedHalves(spark, dir, None)
      def publish(src: String, name: String): Unit =
        Files.copy(Paths.get(src), Paths.get(s"$watch/$name.parquet"))
      def drain(tearAfterSinkWrite: Boolean): Unit = {
        @volatile var torn = false
        val agg = feed.events.toDF()
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).cast("long").as("n_purchases"),
            sum(floor(col("value") * 100).cast("long")).cast("long")
              .as("cents"))
        val q = agg.writeStream
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            inv.add(batchId)
            // deterministic layout: one file, rows carry their own key
            // order via the read-side tiebreak — byte-stable on replay
            batch.coalesce(1).write.mode("overwrite")
              .parquet(s"$tableDir/batch=$batchId")
            if (tearAfterSinkWrite && !torn) {
              torn = true
              // crash INSIDE the commit window: sink write done, offset
              // commit for this batch never happens
              throw new RuntimeException("graft: torn after sink write")
            }
          }
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        // incarnation 1 is EXPECTED to die on the injected tear — and
        // ONLY on it: an unrelated first-incarnation failure (bad
        // schema, state-store error) must surface here as itself, not
        // later as a confusing ledger mismatch, so the catch walks the
        // cause chain for the injected message and rethrows anything else
        def isInjectedTear(e: Throwable): Boolean =
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
            .exists(c => Option(c.getMessage)
              .exists(_.contains("graft: torn after sink write")))
        try q.awaitTermination()
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
            if tearAfterSinkWrite && isInjectedTear(e) =>
        }
      }
      publish(slice1, "slice1")
      drain(tearAfterSinkWrite = true) // incarnation 1 dies mid-commit
      publish(slice2, "slice2")
      drain(tearAfterSinkWrite = false) // incarnation 2 replays + drains
      val ids = {
        val it = inv.iterator(); val b = Seq.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result()
      }
      require(ids == Seq(0L, 0L, 1L),
        s"merge-sink gate needs a replayed batch [0,0,1], saw $ids")
      tableDir
    }
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("batch").desc, col("n_purchases").desc, col("cents").desc)
    spark.read.parquet(path)
      .withColumn("__pick", row_number().over(w))
      .filter(col("__pick") === 1)
      .select(col("user_id").cast("long").as("user_id"),
        col("n_purchases"), col("cents"))
  }

  // ---------------------------------------------------------------- q282
  /** Exactly-once-by-idempotence MERGE sink under a mid-commit crash —
    * the upsert-sink sibling of q203's file-sink manifest gate and the
    * streaming close of q161's batch CDC MERGE. q203 proves Spark's OWN
    * sink manifest dedupes a torn file commit; q282 proves the pattern
    * every lakehouse `foreachBatch` upsert relies on: batch-id-keyed
    * deterministic overwrite makes the replay invisible, and the
    * latest-wins read surfaces per-key state that must equal the plain
    * batch aggregate over the whole feed. A replay that appended
    * instead of overwriting, a lost update, a double fold in recovered
    * state, or a skipped (not replayed) torn batch each move the hash;
    * the invocation ledger separately proves the crash-and-replay
    * actually happened ([0, 0, 1]). */
  val q282MergeSinkRestart: Q = Q.sql(
    "q282_merge_sink_restart",
    """SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1""".stripMargin,
    "idempotent foreachBatch MERGE sink: torn commit, replay, latest-wins") {
    (s, dir) =>
      mergeSinkTable(s, dir)
        .select(col("user_id"), col("n_purchases"), col("cents"))
  }

  // ---------------------------------------------------------------- q288
  /** The skew-safe EXACT interval semi join
    * ([[graft.streaming.StreamingSemiBuckets]]): q279's semantics
    * re-spelled on per-(user, hour-bucket) click (min, max) envelopes —
    * existence in a 2 h band is exactly decidable from bucket
    * envelopes because the band always spans ≥ 2 buckets, so the hot
    * key's probe cost drops from a full state scan per row to
    * O(buckets), with NO cap and NO approximation (the fix for the
    * measured ~223× zipf blow-up of the built-in semi, BASELINE.md).
    * Emission is watermark-decided (a purchase closes once no click
    * `≤ p_ts` can still arrive), so unlike q279 the oracle carries the
    * single-feed watermark cutoff explicitly — the trailing 10 min of
    * purchases are honestly undecided when the stream ends. */
  private def semiBucketsFrame(feed: Feed): DataFrame =
    graft.streaming.StreamingSemiBuckets(feed.events).toDF()

  val q288SemiBuckets: Q = Q.sql(
    "q288_semi_buckets",
    """SELECT CAST(p.user_id AS BIGINT) AS user_id,
      |  CAST(p.event_id AS BIGINT) AS p_event_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS p_ts_us,
      |  p.value AS p_value
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |  AND EXISTS (SELECT 1 FROM events c
      |    WHERE c.event_type = 'click'
      |      AND c.user_id = p.user_id
      |      AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |      AND epoch_us(c.ts) <= epoch_us(p.ts))
      |  AND (epoch_us(p.ts) // 1000) <
      |      (SELECT (MAX(epoch_us(ts)) // 1000) - 600000
      |       FROM events WHERE event_type IN ('purchase', 'click'))""".stripMargin,
    "exact interval semi join on bucket envelopes: skew-safe by state shape") {
    (s, dir) =>
      streamOnce("stream-semi-buckets", s, dir)(semiBucketsFrame)
        .select(col("user_id"), col("p_event_id"), col("p_ts_us"),
          col("p_value"))
  }

  // ---------------------------------------------------------------- q289
  /** Checkpoint restart of the bucket-envelope semi join — the TWELFTH
    * restart state shape, and the first whose recovered state is a
    * variable-length map of interval ENVELOPES plus an event-time
    * buffer: a lost bucket flips a later purchase's existence decision
    * to false, a double-folded click can only widen an envelope (and
    * flip a decision to true), and a replayed purchase duplicates an
    * output row — each fails the hash against q288's UNCHANGED oracle.
    * q117's two-incarnation scaffold: the feed is cut at its ranked
    * midpoint, incarnation 1 drains the front half and dies,
    * incarnation 2 resumes envelopes + buffer from the checkpoint. */
  val q289SemiRestart: Q = Q.sql(
    "q289_semi_restart",
    q288SemiBuckets.oracle,
    "checkpoint restart mid-feed of the bucket-envelope semi join state") {
    (s, dir) =>
      streamRestart("semi-buckets-restart", s, dir)(semiBucketsFrame)
        .select(col("user_id"), col("p_event_id"), col("p_ts_us"),
          col("p_value"))
  }

  // ---------------------------------------------------------------- q279
  /** Watermarked stream-stream LEFT SEMI interval join — the EXISTENCE
    * member completing the streaming join family (inner q90, left
    * outer q99, full outer q100, capped q201): "purchases that HAD a
    * click in the trailing 2h band", each emitted at most ONCE no
    * matter how many clicks match. Semi is the semantics ingestion
    * dedup-gates and routing decisions want — multiplicity-free, so
    * state can drop a left row the moment its first match arrives
    * instead of buffering for potential further matches.
    *
    * Unlike q99/q100 there is NO eviction-time output: an unmatched
    * purchase simply never emits, so the closed-form oracle is the
    * clean batch EXISTS with no watermark-horizon asymmetry — the one
    * streaming join whose batch twin needs no eviction reasoning
    * (that property is itself under test: any duplicate emission per
    * extra click, or any eviction-time row, breaks the hash).
    *
    * DOCUMENTED-CONTRAST gate, not the recommended spelling: the
    * recorded semi-join operator is q288
    * ([[graft.streaming.StreamingSemiBuckets]]) — exact at any skew,
    * O(live buckets) state per key. This built-in twin stays in the
    * registry as the measured anti-pattern (BASELINE.md): semi
    * semantics bound the OUTPUT on a hot key (one row per purchase)
    * but not the probe — each arriving hot-key row value-scans that
    * key's buffered opposite-side state, so the zipf overlay measures
    * ~223× over uniform at 10× (1,162.5 s where q288 runs 10.4 s)
    * despite linear output. A user copying operators copies q288
    * first; copy this one only for unskewed corpora, or with q201's
    * per-(user, hour) cap in front. */
  private[graft] def semiJoinFrame(feed: Feed): DataFrame =
    purchaseClickJoin(feed, "leftSemi")
      .select(col("user_id"), col("p_event_id"),
        org.apache.spark.sql.functions.unix_micros(col("p_ts")).as("p_ts_us"),
        col("p_value"))

  val q279StreamSemiJoin: Q = Q.sql(
    "q279_stream_semi_join",
    """SELECT CAST(p.user_id AS BIGINT) AS user_id,
      |  CAST(p.event_id AS BIGINT) AS p_event_id,
      |  CAST(epoch_us(p.ts) AS BIGINT) AS p_ts_us,
      |  p.value AS p_value
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |  AND EXISTS (SELECT 1 FROM events c
      |    WHERE c.event_type = 'click'
      |      AND c.user_id = p.user_id
      |      AND epoch_us(c.ts) >= epoch_us(p.ts) - 7200000000
      |      AND epoch_us(c.ts) <= epoch_us(p.ts))""".stripMargin,
    "watermarked stream-stream LEFT SEMI interval join (exists-once)") {
    (s, dir) =>
      streamOnce("stream-semi-join", s, dir)(semiJoinFrame)
        .select(col("user_id"), col("p_event_id"), col("p_ts_us"),
          col("p_value"))
  }

  val all: Seq[Q] = Seq(
    q73StreamIngest, q80StreamWindow, q81StreamDedup, q83StreamEnrich,
    q86StreamSessions, q90StreamJoin, q96StreamKmv, q99StreamOuterJoin,
    q100StreamFullJoin, q101StreamSigDedup, q103StreamKmvOverlap,
    q112StreamCms, q117StreamRestart, q118StreamJoinRestart,
    q121StreamSessionRestart, q123StreamHeavyHitters, q127StreamCmsRestart,
    q128StreamIngestGate, q145StreamAnomaly, q159StreamAnomalyRestart,
    q167StreamHll, q184StreamHllRestart, q188StreamEwma,
    q191StreamEwmaRestart, q200StreamPitEnrich, q201CappedStreamJoin,
    q203SinkExactlyOnce, q208StreamQuantiles, q213CappedJoinRestart,
    q232StreamCalibration, q245StreamBootstrap, q252StreamDrift,
    q255StreamBootstrapRestart, q263LateDropGate, q269TokenBucket, q270TokenBucketRestart,
    q279StreamSemiJoin, q282MergeSinkRestart, q288SemiBuckets,
    q289SemiRestart)
}
