package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-11 optimization probe: ~40 of the bench's session-cache builds
  * are one-shot Structured Streaming drains (`streamOnce` /
  * `streamRestart`), together ~210 s of the 667 s round-11 baseline —
  * but a drain moves only a few MB, so the cost is scaffold overhead,
  * not data. This main runs two representative drain shapes (the
  * stateful flatMapGroupsWithState feed expansion and the watermarked
  * tumbling-window aggregation) and prints the per-batch `durationMs`
  * breakdown from `StreamingQueryProgress`, so conf A/Bs target the
  * measured component (walCommit vs addBatch vs stateStoreCommit vs
  * queryPlanning) instead of guessing.
  *
  * A/B lever: pass session confs as `-Dspark.*` JVM properties.
  *
  *   SPARK_GRAFT_CPUS=32 scripts/jrun.sh graft.tools.StreamCostProbe
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.build()
    // session warm-up so run 1 isn't billed codegen/parquet init
    spark.read.parquet(s"$dir/region.parquet").count()

    def drain(tag: String)(build: SparkSession => org.apache.spark.sql.DataFrame): Unit = {
      val tmp = graft.Scratch.tempDir(s"scp-$tag-").toString
      val t0 = System.nanoTime()
      val q = build(spark).writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"== $tag wall=$wall%.2fs")
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"  batch=${p.batchId} rows=${p.numInputRows} durationMs=" +
          d.entrySet().toArray.mkString("{", ", ", "}"))
        p.stateOperators.foreach { so =>
          println(s"    state op=${so.operatorName} commitMs=${so.commitTimeMs}" +
            s" rowsUpdated=${so.numRowsUpdated} mem=${so.memoryUsedBytes}")
        }
      }
    }

    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "2").toInt
    for (i <- 1 to reps) {
      drain(s"feed-ingest-$i") { s =>
        graft.streaming.StreamingFeed.actions(
          graft.streaming.StreamingFeed.eventsStream(s, dir, glob = "events.parquet")).toDF()
      }
      drain(s"window-agg-$i") { s =>
        graft.streaming.StreamingFeed.eventsStream(s, dir, glob = "events.parquet")
          .toDF()
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,10)")).as("sv"))
          .select(unix_timestamp(col("window.start")).as("bucket_start"),
            col("event_type"), col("n_events"),
            col("sv").cast("double").as("sum_value"))
      }
    }
    spark.stop()
  }
}
