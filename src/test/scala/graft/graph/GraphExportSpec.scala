package graft.graph

import graft.SparkTestSession
import graft.nba.{Fixture, GamePipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the export path (SURVEY S10/§3.3): dense ids are
  * 0..n-1, deterministic across runs; COO edges reference valid dense
  * ids; the GraphX bridge reproduces chain structure (Pregel depth ==
  * stint index).
  */
class GraphExportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val result = GamePipeline.run(
    spark, Fixture.pbp(spark), Fixture.starters(spark),
    Fixture.gameTeams(spark))

  test("denseIds: contiguous, deterministic, natural-key ordered") {
    val stints = result.lineupStints
    val a = GraphExport.denseIds(stints, Seq("stint_id"))
    val b = GraphExport.denseIds(stints, Seq("stint_id"))
    val ids = a.select("dense_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
    val mapA = a.select("stint_id", "dense_id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mapB = b.select("stint_id", "dense_id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mapA == mapB)
  }

  test("denseIdsByType: window spelling assigns identical ids to zipWithIndex") {
    val stints = result.lineupStints
    val typed = stints.select(
      concat_ws("", lit("t"), (col("start_clock") % 3).cast("int")).as("tp"),
      col("stint_id"), lit(0.0).as("__ord"))
    val zip = GraphExport.denseIdsByType(typed, "tp", Seq("__ord", "stint_id"))
    val win = GraphExport.denseIdsByTypeWindow(typed, "tp", Seq("__ord", "stint_id"))
    def m(df: org.apache.spark.sql.DataFrame) = df
      .select("tp", "stint_id", "dense_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(zip) == m(win))
    win.unpersist() // zip is a cache leaf: unpersist() on it releases nothing
  }

  test("cooEdges: every (src,dst) index pair lands in range") {
    val stints = GraphExport.denseIds(result.lineupStints, Seq("stint_id"))
    val edgeRows = graft.nba.Stints.stintChains(result.lineupStints)
    val coo = GraphExport.cooEdges(edgeRows, "stint_id", "next_stint_id",
      stints, "stint_id", stints, "stint_id")
    val n = stints.count()
    val pairs = coo.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (s, d) => s >= 0 && s < n && d >= 0 && d < n && s != d })
  }

  test("bfsDepth: multi-source min-hop with cycles and unreached vertices") {
    import org.apache.spark.graphx.{Edge, Graph}
    val sc = spark.sparkContext
    // 1 -> 2 -> 3 -> 1 cycle, 2 -> 4, isolated 5; sources = {1}; raw
    // directed edges — bfsDepth itself is undirected (4 reached through
    // the 2->4 edge, 3 backwards through 3->1)
    val vs = sc.parallelize(Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, i.toString)))
    val es = sc.parallelize(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L))
        .map { case (a, b) => Edge(a, b, "") })
    val depths = Traversals.bfsDepth[String](Graph(vs, es), _ == "1")
      .vertices.collect().map { case (id, (_, d)) => id -> d }.toMap
    assert(depths == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> Long.MaxValue))
  }

  test("GraphX bridge + Pregel chain depth == stint index") {
    val stints = GraphExport.denseIds(result.lineupStints, Seq("stint_id"))
    val edgeRows = graft.nba.Stints.stintChains(result.lineupStints)
    val coo = GraphExport.cooEdges(edgeRows, "stint_id", "next_stint_id",
      stints, "stint_id", stints, "stint_id")
      .select(col("src_idx").as("src_gid"), col("dst_idx").as("dst_gid"))
    val g = GraphExport.toGraphX(
      spark,
      nodeTables = Seq(("stint", stints, "stint_id")),
      edgeTables = Seq(("NEXT", coo)))
    val depths = Traversals.chainDepth(g).vertices.collect().toMap
    val expected = stints.select("dense_id", "stint_index").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    expected.foreach { case (gid, idx) =>
      assert(depths(gid) == idx, s"vertex $gid depth ${depths(gid)} != stint_index $idx")
    }
  }

  test("PyG export: nodes/coo sit on InMemoryRelation leaves; q64/q69 plans stay small") {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val (nodes, coo) = PyGExport.build(result, Fixture.gameTeams(spark))
    // coo is q64_graph_export's frame as registered
    val cooPlan = coo.queryExecution.analyzed
    assert(cooPlan.isInstanceOf[InMemoryRelation], cooPlan.treeString)
    nodes.queryExecution.analyzed match {
      case Project(_, _: InMemoryRelation) =>
      case other => fail(s"nodes analyzes to\n${other.treeString}")
    }
    // q69_pyg_nodes' shape over the node table: a few nodes, not the
    // export DAG back to the game feed
    val q69 = nodes.select(col("node_type"), col("node_id"), col("dense_id"),
      posexplode(col("feats")).as(Seq("feat_idx", "feat_value")))
      .withColumn("feat_idx", col("feat_idx").cast("long"))
    Seq("q64" -> cooPlan, "q69" -> q69.queryExecution.analyzed).foreach { case (q, plan) =>
      val n = plan.collect { case p => p }.size
      assert(n <= 8, s"$q analyzed plan has $n nodes")
    }
  }
}
