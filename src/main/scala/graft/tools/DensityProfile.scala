package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Constant-density blow-up measurement (round-9 item: the last
  * unmeasured scale regime after the uniform decades and the zipf
  * hot-key overlay).
  *
  * The uniform replica fixture grows POPULATION over FIXED key/value
  * domains, so density-sensitive operators see super-linear growth that
  * is an artifact of the fixture, not the plan: q180/q277's coordinate
  * space densifies (per-cell occupancy ∝ corpus), and q274's "test
  * split" is a constant FRACTION of the corpus instead of a fixed
  * holdout. A real corpus grows its domain at roughly constant density
  * and holds its eval set fixed. This tool re-measures those operators
  * in that regime, on the SAME ScaleUp fixtures:
  *
  *   - q180/q277 twins: the registered queries' exact kernels
  *     ([[graft.ops.Spatial]]) with domain side 10⁶·√F — cell count
  *     scales with population, occupancy constant;
  *   - q274 twin: the same contamination-fraction plan with the test
  *     split pinned to REPLICA-0 test docs (fixed holdout) while train
  *     grows with the corpus;
  *   - q109/q281 run unchanged as controls — their text fixture already
  *     grows the token domain (replica tokens are lexically disjoint),
  *     so their exponents should match the uniform-table readings.
  *
  * Run (one invocation per factor, cold session — Profile's protocol):
  * {{{
  *   GRAFT_SCALE_FACTOR=10 sbt "runMain graft.tools.ScaleUp"
  *   sbt "runMain graft.tools.DensityProfile /dev/shm/graft-sf-x10 10"
  * }}}
  */
object DensityProfile {

  /** q274's plan with a FIXED holdout: test docs are replica-0 hash-test
    * docs only (identical set at every factor), train is everything
    * else. Same broadcast-test-set shape as the registered query. */
  def contaminationFixedTest(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Text
    val isTestHash =
      Text.baseHash(concat(lit("smp|"), col("doc_id").cast("string"))) % 100 < 5
    val sh = graft.Tables(s, dir, "documents")
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        (isTestHash && col("doc_id") < 10000000L).as("is_test"),
        explode(Text.charShingles(col("text"), 8)).as("gram"))
      .select(col("doc_id"), col("is_test"),
        Text.baseHash(col("gram")).as("g"))
    val te = sh.filter(col("is_test"))
      .select(col("doc_id").as("test_doc"), col("g"))
    val teg = te.select(col("g")).distinct()
    val matched = sh.filter(!col("is_test"))
      .join(broadcast(teg), Seq("g"), "left_semi")
      .select(col("g")).distinct()
      .withColumn("hit", lit(1L))
    te.join(broadcast(matched), Seq("g"), "left")
      .groupBy(col("test_doc"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hit"))
      .select(col("test_doc"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("frac"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val factor = args(1).toInt
    val domain = math.round(1000000.0 * math.sqrt(factor.toDouble))
    val r = 50000L
    val spark = graft.Session.build()
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[density] $label%-24s ${(System.nanoTime() - t0) / 1e9}%8.2fs" +
        f"  rows=$n%-10d factor=$factor domain=$domain")
    }
    spark.read.parquet(s"$dir/region.parquet").count() // session warm-up

    def pts = graft.ops.Spatial.points(
      graft.Tables(spark, dir, "events").select(col("user_id")).distinct(),
      "user_id", domain)
    // graft.Force, not .count(): the count-pruning audit caught this
    // tool's own q274 line at 3.2 s vs 549.6 s honest (see Force's doc)
    time("q180_density_pairs")(graft.Force(
      graft.ops.Spatial.gridNeighbors(pts, r)
        .filter(col("ub") > col("ua"))))
    time("q277_density_dbscan")(graft.Force(
      graft.ops.Spatial.gridDbscan(pts, r, minPts = 4L)))
    time("q274_fixed_test")(graft.Force(contaminationFixedTest(spark, dir)))
    // controls: registered queries, fixture already domain-growing
    Seq("q109_cosine_pairs", "q281_containment_pairs").foreach { name =>
      graft.Registry.all.find(_.name == name).foreach(q =>
        time(name)(graft.Force(q.run(spark, dir))))
    }
    spark.stop()
  }
}
