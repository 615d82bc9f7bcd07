package graft.streaming

import java.nio.file.{Files, Path, Paths}

import graft.SparkTestSession
import graft.nba.GameFeed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming feed ingestion against its batch twin: the file-source
  * stream over the driver's events parquet must reproduce exactly the
  * non-period rows of [[GameFeed.pbp]] — in one shot (AvailableNow over
  * the whole table) and incrementally (files arriving across
  * micro-batches in feed order).
  */
class StreamingFeedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmpDir(prefix: String): Path = graft.Scratch.tempDir(prefix)

  /** Copy the single parquet part file of a one-slice write into the
    * watched directory under a stable name. */
  private def publish(df: DataFrame, stage: Path, watch: Path, name: String): Unit = {
    val s = stage.resolve(name).toString
    df.coalesce(1).write.parquet(s)
    val part = new java.io.File(s).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, watch.resolve(s"$name.parquet"))
  }

  type Row20 = (Long, Long, Int, Double, String, Option[String],
    Option[String], Option[String], Option[Long], Option[Long])

  private def project(df: DataFrame): DataFrame =
    df.select("game_id", "action_id", "period", "global_clock",
      "action_type", "sub_type", "descriptor", "shot_result",
      "team_id", "person_id")

  test("one-shot ingestion over the driver table matches GameFeed.pbp") {
    import spark.implicits._
    val watch = tmpDir("feed-watch-")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      watch.resolve("events.parquet"))
    val sink = tmpDir("feed-sink-")
    val q = StreamingFeed.actions(StreamingFeed.eventsStream(spark, watch.toString))
      .writeStream.format("parquet")
      .option("path", s"$sink/out").option("checkpointLocation", s"$sink/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = project(spark.read.parquet(s"$sink/out")).as[Row20].collect().toSet
    val want = project(GameFeed.pbp(spark, sfDir).toDF()
      .filter(col("action_type") =!= "period")).as[Row20].collect().toSet
    assert(got == want)
    // full-width check (actor ids + coords) via symmetric difference
    val full = spark.read.parquet(s"$sink/out")
    val batchFull = GameFeed.pbp(spark, sfDir).toDF()
      .filter(col("action_type") =!= "period")
      .select(full.columns.map(col).toIndexedSeq: _*)
    assert(full.exceptAll(batchFull).isEmpty && batchFull.exceptAll(full).isEmpty)
  }

  test("incremental arrival across micro-batches converges to the batch mapping") {
    import spark.implicits._
    val watch = tmpDir("feed-watch2-")
    val stage = tmpDir("feed-stage-")
    val sink = tmpDir("feed-sink2-")

    // split the feed into two slices in (ts, event_id) order — the
    // append-only arrival contract of the reference's poll loop
    val ev = graft.Tables(spark, sfDir, "events")
    val n = ev.count()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev.withColumn("__rn", row_number().over(w))
    publish(ranked.filter(col("__rn") <= n / 2).drop("__rn"), stage, watch, "slice1")

    val q = StreamingFeed.actions(StreamingFeed.eventsStream(spark, watch.toString))
      .writeStream.format("parquet")
      .option("path", s"$sink/out").option("checkpointLocation", s"$sink/ckpt")
      .start()
    try {
      q.processAllAvailable()
      publish(ranked.filter(col("__rn") > n / 2).drop("__rn"), stage, watch, "slice2")
      q.processAllAvailable()
    } finally q.stop()

    val got = project(spark.read.parquet(s"$sink/out")).as[Row20].collect().toSet
    val want = project(GameFeed.pbp(spark, sfDir).toDF()
      .filter(col("action_type") =!= "period")).as[Row20].collect().toSet
    assert(got == want)
  }

  test("stop + restart from checkpoint resumes the stateful fold exactly-once") {
    // once on the suite's session (Spark's default checkpoint manager) and
    // once on a drain clone, whose checkpoints go through
    // LocalCheckpointFileManager: recovery must hold under both
    for (sess <- Seq(spark, graft.queries.StreamingQ.drainSession(spark)))
      assertRestartExactlyOnce(sess)
  }

  private def assertRestartExactlyOnce(sess: SparkSession): Unit = {
    import spark.implicits._
    val watch = tmpDir("feed-watch3-")
    val stage = tmpDir("feed-stage3-")
    val sink = tmpDir("feed-sink3-")

    val ev = graft.Tables(spark, sfDir, "events")
    val n = ev.count()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val ranked = ev.withColumn("__rn", row_number().over(w))
    publish(ranked.filter(col("__rn") <= n / 2).drop("__rn"), stage, watch, "slice1")

    // each incarnation is a brand-new query object; only the sink +
    // checkpoint paths connect them — the recovery contract under test
    def runOnce(): Unit = {
      val q = StreamingFeed.actions(StreamingFeed.eventsStream(sess, watch.toString))
        .writeStream.format("parquet")
        .option("path", s"$sink/out").option("checkpointLocation", s"$sink/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // drains slice 1, then the query is GONE
    publish(ranked.filter(col("__rn") > n / 2).drop("__rn"), stage, watch, "slice2")
    runOnce() // restores per-game fold state + source offsets from ckpt

    val got = project(sess.read.parquet(s"$sink/out")).as[Row20].collect()
    val want = project(GameFeed.pbp(spark, sfDir).toDF()
      .filter(col("action_type") =!= "period")).as[Row20].collect()
    // multiset compare: a Set would mask replayed (duplicated) rows,
    // which is exactly the failure a broken restart produces
    assert(got.length == want.length,
      s"row count ${got.length} != ${want.length} — duplicated or lost rows on restart")
    assert(got.toSet == want.toSet)
  }

  test("lint: StreamingQ opens the events feed once and joins purchases to clicks once") {
    var root = Paths.get(sys.props.getOrElse("user.dir", ".")).toAbsolutePath
    while (root != null && !Files.exists(root.resolve("build.sbt")))
      root = root.getParent
    assert(root != null, s"no build.sbt found walking up from ${sys.props("user.dir")}")
    val src = Files.readString(
      root.resolve("src/main/scala/graft/queries/StreamingQ.scala"))
    def count(re: String): Int = re.r.findAllMatchIn(src).size
    // the scaffolds' Feed is the one place a drain's events feed is opened
    assert(count("""StreamingFeed\s*\.\s*eventsStream\(""") == 1,
      "events feed opened outside StreamingQ.Feed")
    // one purchase–click interval join builder serves every join query
    assert(count("""\.join\(\s*clicks\b""") == 1,
      "stream-stream join over the click side written more than once")
  }
}
