package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine builds a session. Bench, Verify, Profile,
  * Explain, the tools and the test session all call [[build]], so each of
  * them plans and runs a query under the same conf.
  *
  * A key already set as a `spark.*` JVM system property is left to that
  * property (Spark's `SparkConf` reads those itself), so
  * `-Dspark.sql.shuffle.partitions=512` overrides any conf set here.
  */
object Session {

  /** The confs [[build]] sets for a `local[cpus]` session. */
  def confs(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // let AQE right-size partitions inside cached plans: small cached
    // frames coalesce to few partitions, huge ones keep parallelism --
    // the scale-adaptive alternative to hand-tuned coalesce() calls
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // coalesce post-shuffle partitions by byte size, not parallelism:
    // tiny intermediate shuffles collapse to single-task stages while a
    // 100 TB shuffle still fans out to thousands of partitions
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    // TIMESTAMP_NTZ casts and epoch math depend on the session time zone
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> classOf[functions.GraftExtensions].getName,
    // single-node harness: scratch I/O on tmpfs so host writeback
    // throttling can't masquerade as engine time (see graft.Scratch)
    "spark.local.dir" -> Scratch.root,
    "spark.ui.enabled" -> "false",
  )

  /** A session with [[confs]]`(cpus) ++ overrides`, log level WARN.
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core count. */
  def build(
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
        .fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
    for ((k, v) <- confs(cpus) ++ overrides if !sys.props.contains(k)) b.config(k, v)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
