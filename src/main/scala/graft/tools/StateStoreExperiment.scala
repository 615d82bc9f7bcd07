package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Measurement harness for the q100 cohort decision (round-5 item): the
  * FULL OUTER stream-stream join cannot evict by key — both state stores
  * are value-scanned and rewritten on every watermark advance — so its
  * cost is dominated by per-(partition, store, batch) fixed work. This
  * main times that join at sf0.1 across
  *
  *   provider × cohort ∈ {HDFS-backed, RocksDB} × {1/8, full}
  *
  * to decide whether Spark 4's bundled RocksDB state store makes the
  * full cohort affordable for the gate (`q100` keeps the 1/8 slice
  * otherwise). Run:
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.StateStoreExperiment"
  * }}}
  *
  * Results are recorded in q100's scaladoc (`StreamingQ.scala`).
  */
object StateStoreExperiment {

  private def run(spark: SparkSession, dir: String, cohort: Boolean): Long = {
    val t0 = System.nanoTime()
    def side(tpe: String, idCol: String, valCol: String, tsCol: String) = {
      val base = graft.streaming.StreamingFeed
        .eventsStream(spark, dir, glob = "events.parquet").toDF()
        .filter(col("event_type") === tpe)
      (if (cohort) base.filter(col("user_id") % 8 === 1) else base)
        .select(col("event_id").as(idCol),
          col("user_id").as(if (tpe == "purchase") "user_id" else "c_user_id"),
          col("value").as(valCol), col("ts").as(tsCol))
        .withWatermark(tsCol, "10 minutes")
    }
    val purchases = side("purchase", "p_event_id", "p_value", "p_ts")
    val clicks = side("click", "c_event_id", "c_value", "c_ts")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 2 HOURS") &&
        col("c_ts") <= col("p_ts"),
      "fullOuter")
    val tmp = graft.Scratch.tempDir("ssexp-").toString
    val q = joined.writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.read.parquet(s"$tmp/out").count()
    System.err.println(s"  rows=$n")
    (System.nanoTime() - t0) / 1000000
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    for (provider <- Seq("hdfs", "rocksdb"); cohort <- Seq(true, false)) {
      // 8 shuffle partitions = 8 state stores per operator, the fan-out
      // the results in q100's scaladoc were measured at
      val spark = graft.Session.build(overrides =
        Map("spark.sql.shuffle.partitions" -> "8") ++
          (if (provider == "rocksdb")
            Map("spark.sql.streaming.stateStore.providerClass" -> rocks) else Map.empty))
      val ms = run(spark, dir, cohort)
      println(s"RESULT provider=$provider cohort=${if (cohort) "1/8" else "full"} ms=$ms")
      spark.stop()
      // a stopped context cannot be rebuilt with getOrCreate reusing
      // stale state; clearing lets the next loop iteration start clean
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
