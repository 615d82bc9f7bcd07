package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Phase profiler for the domain pipeline + PyG export — breaks the
  * bench's heavy lines (q60/q61/q64) into their constituent actions so
  * optimization targets measurements, not guesses.
  *
  * Usage: runMain graft.Profile <sfDir>
  *
  * Every phase is timed through [[Force]], so frames that are not cached
  * (`reboundLinks`, `timeline`) compute all their columns instead of what
  * a pruned `.count()` keeps.
  *
  * Each phase line also names the generated classes Janino compiled
  * during the phase (`classes`, the count delta of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`) and their compile time
  * (`compile`, the delta of `CodeGenerator.compileTime`; the metric's own
  * histogram is a sampled reservoir, so its values do not sum exactly).
  * Compile-cache hits compile nothing and count in neither.
  *
  * Shuffle fan-out must scale with the data, not the thread count: at a
  * pinned 32 partitions q116 at 1000× outgrew an 8 GiB heap, and a
  * blanket 512 made the iteration-scale stages crawl at 100×. Scaling
  * runs therefore raise AQE's pre-coalesce count and let it coalesce the
  * small stages back down, e.g.
  * `-Dspark.sql.shuffle.partitions=32
  * -Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=512`
  * (BASELINE.md "q116 third decade").
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.build()
    val sc = spark.sparkContext
    def classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def time(label: String)(f: => Long): Unit = {
      val j0 = sc.statusTracker.getJobIdsForGroup(null).length
      val (c0, ns0) = (classes, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      val jobs = sc.statusTracker.getJobIdsForGroup(null).length - j0
      val compileMs = (CodeGenerator.compileTime - ns0) / 1000000
      println(f"[profile] $label%-34s ${dt}%7.2fs  rows=$n%-9d jobs=$jobs%-4d " +
        f"classes=${classes - c0}%-4d compile=${compileMs}ms")
    }
    // warm up
    spark.read.parquet(s"$sfDir/region.parquet").count()

    if (args.length > 1 && args(1) == "queries") {
      // bench-mirror mode: run registered queries in bench order; an
      // optional third arg names an explicit comma-separated subset so a
      // regression can be isolated from cross-query session state
      val sel: Q => Boolean =
        if (args.length > 2) { val names = args(2).split(",").toSet
          q => names.contains(q.name) }
        else q => q.name >= "q60"
      Registry.all.filter(sel).sortBy(_.name).foreach { q =>
        time(q.name)(Force(q.run(spark, sfDir)))
      }
      spark.stop()
      return
    }

    val p = queries.Domain.pipeline(spark, sfDir)
    time("periods (cache fill)")(Force(p.periods))
    time("lineupStints (cache fill)")(Force(p.lineupStints))
    time("playerStints (cache fill)")(Force(p.playerStints))
    time("attributedEvents (cache fill)")(Force(p.attributedEvents))
    time("stintPlusMinus (cache fill)")(Force(p.stintPlusMinus))
    time("scoreChain (cache fill)")(Force(p.scoreChain))
    time("playerPlusMinus (cache fill)")(Force(p.playerPlusMinus))
    time("reboundLinks")(Force(p.reboundLinks))
    time("timeline")(Force(p.timeline))
    time("pyg build + edges")(Force(queries.Domain.pyg(spark, sfDir)._2))
    time("pyg nodes (cached)")(Force(queries.Domain.pyg(spark, sfDir)._1))
    time("q64 again (all cached)")(Force(queries.Domain.pyg(spark, sfDir)._2))
    spark.stop()
  }
}
