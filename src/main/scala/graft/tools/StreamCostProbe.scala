package graft.tools

import graft.queries.StreamingQ
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-batch cost of the one-shot streaming drains. Runs two
  * representative drain shapes (the stateful feed fold plus its
  * expansion, and the watermarked tumbling-window aggregation) the way
  * the engine runs a drain: on `StreamingQ.drainSession` (the drain
  * confs, the fork-free checkpoint manager and the drain state-store
  * fan-out) through `StreamingQ.drainTo`. Prints each batch's
  * `durationMs` breakdown from `StreamingQueryProgress`, so conf A/Bs
  * target the measured component (walCommit vs addBatch vs
  * stateStoreCommit vs queryPlanning) instead of guessing.
  *
  * A/B lever: pass session confs the drain session does not set as
  * `-Dspark.*` JVM properties.
  *
  *   SPARK_GRAFT_CPUS=4 scripts/jrun.sh graft.tools.StreamCostProbe
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.build()
    // session warm-up so run 1 isn't billed codegen/parquet init
    spark.read.parquet(s"$dir/region.parquet").count()
    // a fresh drain clone per drain, as `StreamingQ.streamOnce` builds one
    def events = StreamingQ.Feed.oneShot(StreamingQ.drainSession(spark), dir).events

    def drain(tag: String)(df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      val q = StreamingQ.drainTo(graft.Scratch.tempDir(s"scp-$tag-").toString, df)
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
      drain(s"feed-ingest-$i") {
        graft.streaming.StreamingFeed.actions(events).toDF()
      }
      drain(s"window-agg-$i") {
        events.toDF()
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
