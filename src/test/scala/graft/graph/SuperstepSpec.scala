package graft.graph

import graft.SparkTestSession
import graft.queries.{Domain, Graphs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round driver on an adversarial graph: a directed path
  * 0 → 1 → … → `Hops`, deeper than any cap the tests allow, so a
  * truncating cap cannot hide. The rounds are the queries' own round
  * bodies (q85's relax, q239/q259's BFS, q114's peel). */
class SuperstepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  /** Path length in edges (the k-core test's round counts assume 10). */
  private val Hops = 10

  private lazy val path: DataFrame = spark.range(Hops)
    .select(col("id").as("src"), (col("id") + 1).as("dst"), lit(1L).as("w"))
    .localCheckpoint()

  private def source: DataFrame =
    spark.range(1).select(lit(0L).as("id"), lit(0L).as("dist")).localCheckpoint()

  private def dists(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** BFS over the path as q259 runs it: disjoint frontiers, union state. */
  private def bfs(cap: Int): DataFrame = {
    val start = source
    Superstep.frontier("path_bfs", cap, start, start) { (d, f, _) =>
      Superstep.Round(Graphs.bfsRound(path, d, f, Nil), (next, _) => d.unionByName(next))
    }
  }

  test("a cap below the path length throws, naming the query and the cap") {
    val e = intercept[IllegalStateException](bfs(Hops - 1))
    assert(e.getMessage.contains("path_bfs") &&
      e.getMessage.contains(s"cap of ${Hops - 1} rounds"), e.getMessage)
  }

  test("a cap at or above the path length returns exact hop distances") {
    val exact = (0L to Hops).map(v => v -> v).toMap
    assert(dists(bfs(Hops)) == exact)
    assert(dists(bfs(Hops + 3)) == exact)
  }

  /** Relaxation over the path as q85 runs it; `seen` gets the count
    * each absorb is handed. */
  private def relax(cap: Int, seen: Long => Unit = _ => ()): DataFrame = {
    val start = source
    Superstep.frontier("path_relax", cap, start, start) { (d, f, _) =>
      Superstep.Round(Graphs.relaxRound(path, d, f), (improved, n) => {
        seen(n)
        if (n == 0L) d
        else d.unionByName(improved).groupBy("id").agg(min(col("dist")).as("dist"))
          .localCheckpoint()
      })
    }
  }

  test("a cap equal to the depth with a sink frontier returns normally") {
    // q85's shape: the frontier after the last round is the sink, still
    // live, so a probe round runs; relaxing out of a sink yields nothing
    assert(dists(relax(Hops)) == (0L to Hops).map(v => v -> v).toMap)
    intercept[IllegalStateException](relax(Hops - 1))
  }

  test("absorb is handed each frontier's count, 0 on the final round") {
    // one vertex improves per round, then the probe out of the sink
    // improves none: q85 returns its state unchanged on that count
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    assert(dists(relax(Hops, seen += _)) == (0L to Hops).map(v => v -> v).toMap)
    assert(seen.toSeq == Seq.fill(Hops)(1L) :+ 0L, seen)
  }

  test("a round whose effect lands in the state is absorbed even when its frontier is empty") {
    // q114's shape on the undirected path: the 11 vertices peel as
    // {0,10}, {1,9}, …, {4,6}, {5}, so five rounds leave a live frontier
    // and the sixth, the probe under a cap of 5, leaves none but still
    // removes vertex 5; the 2-core is empty
    val ue = path.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(path.select(col("dst").as("a"), col("src").as("b")))
      .localCheckpoint()
    val deg0 = ue.groupBy("a").agg(count(lit(1)).as("d"))
      .withColumnRenamed("a", "id").localCheckpoint()
    def dying(deg: DataFrame) = deg.filter(col("d") < 2).select("id")
    def peel(cap: Int): DataFrame =
      Superstep.frontier("path_kcore", cap, deg0, dying(deg0).localCheckpoint()) {
        (deg, dead, n) =>
          val next = Graphs.kcoreRound(ue, deg, dead, n).localCheckpoint()
          Superstep.Round(dying(next), (_, _) => next)
      }
    assert(peel(5).count() == 0L)
    intercept[IllegalStateException](peel(4))
  }

  test("the fixed-round fold analyzes to a single LogicalRDD leaf") {
    import spark.implicits._
    val co = Seq((1L, 2L, 3L), (2L, 1L, 3L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val labels = Domain.lpaFold(co, verts)
    assert(labels.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      labels.queryExecution.analyzed.treeString)
    assert(labels.count() == 3L)
  }
}
