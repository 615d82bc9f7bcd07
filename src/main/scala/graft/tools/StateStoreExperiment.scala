package graft.tools

import graft.queries.StreamingQ
import org.apache.spark.sql.functions._

/** Measurement harness for the q100 cohort decision (round-5 item): the
  * FULL OUTER stream-stream join cannot evict by key — both state stores
  * are value-scanned and rewritten on every watermark advance — so its
  * cost is dominated by per-(partition, store, batch) fixed work. This
  * main times that join at sf0.1 across
  *
  *   provider × cohort ∈ {HDFS-backed, RocksDB} × {1/8, full}
  *
  * to decide whether Spark 4's bundled RocksDB state store makes the
  * full cohort affordable for the gate. The join is the engine's own
  * (`StreamingQ.purchaseClickJoin`, full outer), the 1/8 cohort a filter
  * on its feed, and every run drains the way the engine drains: on
  * `StreamingQ.drainSession` with 8 shuffle partitions (8 state stores
  * per operator) through `StreamingQ.drainTo`. So the timings include
  * the drain confs (no checkpoint checksum sidecars, the fork-free
  * checkpoint manager) and, for RocksDB, q100's changelog
  * checkpointing. Run:
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.StateStoreExperiment"
  * }}}
  *
  * Results are recorded in q100's scaladoc (`StreamingQ.scala`).
  */
object StateStoreExperiment {

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.build()
    for (provider <- Seq("hdfs", "rocksdb"); cohort <- Seq(true, false)) {
      val t0 = System.nanoTime()
      val providerConf =
        if (provider == "rocksdb") StreamingQ.RocksDbConf else Map.empty[String, String]
      val all = StreamingQ.Feed.oneShot(
        StreamingQ.drainSession(spark, 8, providerConf), dir)
      val feed = if (!cohort) all else new StreamingQ.Feed {
        val sess = all.sess
        def events = all.events.filter(col("user_id") % 8 === 1)
      }
      val tmp = graft.Scratch.tempDir("ssexp-").toString
      StreamingQ.drainTo(tmp, StreamingQ.purchaseClickJoin(feed, "fullOuter"))
      val n = spark.read.parquet(s"$tmp/out").count()
      val ms = (System.nanoTime() - t0) / 1000000
      System.err.println(s"  rows=$n")
      println(s"RESULT provider=$provider cohort=${if (cohort) "1/8" else "full"} ms=$ms")
    }
    spark.stop()
  }
}
