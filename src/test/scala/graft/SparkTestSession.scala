package graft

import org.apache.spark.sql.SparkSession

/** The suite's one shared session: [[Session.build]] at 4 cores, so the
  * tests plan under the conf Bench runs. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.build(cpus = 4, overrides = Map(
    // JobCountPinSpec reads statusTracker.getJobIdsForGroup(null),
    // which is backed by the UI status store and evicts beyond
    // spark.ui.retainedJobs (default 1000). The shared session runs
    // the whole suite's jobs first, so at the default the store can
    // saturate and the pins' deltas under-read — raise it far above
    // any suite's job count so a delta of hundreds stays visible
    "spark.ui.retainedJobs" -> "100000",
    "spark.sql.warehouse.dir" -> Scratch.tempDir("graft_wh").toString))
}
