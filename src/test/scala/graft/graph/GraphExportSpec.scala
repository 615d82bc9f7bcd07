package graft.graph

import graft.SparkTestSession
import graft.nba.{Fixture, GamePipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the export path (SURVEY S10/§3.3): dense ids are
  * 0..n-1 per type and deterministic across builds; the PyG export's node
  * sets, per-relation edges and plan shape; GraphX BFS depth.
  */
class GraphExportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val result = GamePipeline.run(
    spark, Fixture.pbp(spark), Fixture.starters(spark),
    Fixture.gameTeams(spark))

  // the sort-and-count path was first spelled with zipWithIndex
  test("denseIdsByType: window spelling assigns identical ids to zipWithIndex") {
    val stints = result.lineupStints
    val typed = stints.select(
      concat_ws("", lit("t"), (col("start_clock") % 3).cast("int")).as("tp"),
      col("stint_id"), lit(0.0).as("__ord"))
    val sorted = PyGExport.denseIdsByType(typed, "tp", Seq("__ord", "stint_id"))
    val again = PyGExport.denseIdsByType(typed, "tp", Seq("__ord", "stint_id"))
    val win = GraphExportSpec.denseIdsByTypeWindow(typed, "tp", Seq("__ord", "stint_id"))
    def m(df: DataFrame) = df
      .select("tp", "stint_id", "dense_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(sorted) == m(win))
    assert(m(again) == m(sorted), "two builds of one input assign different ids")
    win.unpersist() // the sorted builds are cache leaves: unpersist() releases nothing
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

  private lazy val pyg = PyGExport.build(result, Fixture.gameTeams(spark))

  private def relCounts(coo: DataFrame): Map[String, Long] =
    coo.groupBy("rel_type", "src_type", "dst_type").count().collect()
      .map(r => s"${r.getString(0)}:${r.getString(1)}->${r.getString(2)}" -> r.getLong(3))
      .toMap

  test("PyG export contents on the fixture: node sets, dense ids, per-relation edges") {
    val (nodes, coo) = pyg
    val perType = nodes.groupBy("node_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perType == Map("game" -> 1L, "team" -> 2L, "period" -> 2L, "lineup" -> 5L,
      "player" -> 13L, "lineup_stint" -> 5L, "player_stint" -> 14L, "foul" -> 1L,
      "shot" -> 10L, "freethrow" -> 2L))
    assert(nodes.select("node_type", "node_id").distinct().count() == nodes.count(),
      "a (node_type, node_id) pair appears twice")

    // dense ids are 0..n-1 within each type
    nodes.groupBy("node_type")
      .agg(min("dense_id"), max("dense_id"), countDistinct("dense_id"), count(lit(1)))
      .collect().foreach { r =>
        assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(4) - 1 &&
          r.getLong(3) == r.getLong(4), s"${r.getString(0)} ids: $r")
      }

    // action nodes are exactly the actions acted on by a resolved player
    // stint: COMMITTED_FOUL heads the fouls, TOOK_SHOT the shots and free
    // throws (split by is_freethrow)
    val strict = graft.nba.Edges.actorEdges(result.attributedEvents, result.playerStints)
      .filter(col("src_kind") === "player_stint")
      .join(result.attributedEvents.select(col("action_id").as("dst_action_id"),
        col("is_freethrow")), Seq("dst_action_id"))
    def heads(rel: String, ft: Option[Boolean]) = strict
      .filter(col("rel_type") === rel &&
        ft.fold(lit(true))(f => col("is_freethrow") === f))
      .select(col("dst_action_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    def ids(tpe: String) = nodes.filter(col("node_type") === tpe)
      .select("node_id").collect().map(_.getString(0)).toSet
    assert(ids("foul") == heads("COMMITTED_FOUL", None))
    assert(ids("shot") == heads("TOOK_SHOT", Some(false)))
    assert(ids("freethrow") == heads("TOOK_SHOT", Some(true)))

    // the fixture has no lineup that returns, so no same-lineup `next`
    assert(relCounts(coo) == Map(
      "played_home:team->game" -> 1L, "played_away:team->game" -> 1L,
      "in_game:period->game" -> 2L,
      "on_court:lineup->lineup_stint" -> 5L, "in_period:lineup_stint->period" -> 5L,
      "on_court_next:lineup_stint->lineup_stint" -> 3L,
      "has_lineup:team->lineup" -> 5L, "member_of:player->lineup" -> 25L,
      "on_court:player->player_stint" -> 14L,
      "next:player_stint->player_stint" -> 1L,
      "on_court_with:player_stint->lineup_stint" -> 25L,
      "in_period:player_stint->period" -> 18L,
      "committed_foul:player_stint->foul" -> 1L, "drew_foul:player_stint->foul" -> 1L,
      "assisted:player_stint->shot" -> 2L, "blocked:player_stint->shot" -> 1L,
      "took_shot:player_stint->shot" -> 10L, "took_shot:player_stint->freethrow" -> 2L,
      "caused:foul->freethrow" -> 2L))
    assert(coo.select("rel_type", "src_id", "dst_id").distinct().count() == coo.count(),
      "a (rel_type, src_id, dst_id) edge appears twice")
  }

  test("PyG export on the derived sf0.001 feed: per-type node and per-relation edge counts") {
    val (nodes, coo) = graft.queries.Domain.pyg(spark, "/root/testdata/sf0.001")
    assert(nodes.groupBy("node_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map(
      "game" -> 15L, "team" -> 4L, "period" -> 75L, "lineup" -> 40L, "player" -> 40L,
      "lineup_stint" -> 229L, "player_stint" -> 349L, "foul" -> 73L, "shot" -> 201L,
      "freethrow" -> 138L))
    assert(relCounts(coo) == Map(
      "played_home:team->game" -> 15L, "played_away:team->game" -> 15L,
      "in_game:period->game" -> 75L,
      "on_court:lineup->lineup_stint" -> 229L, "in_period:lineup_stint->period" -> 229L,
      "next:lineup_stint->lineup_stint" -> 9L,
      "on_court_next:lineup_stint->lineup_stint" -> 199L,
      "has_lineup:team->lineup" -> 40L, "member_of:player->lineup" -> 200L,
      "on_court:player->player_stint" -> 349L,
      "next:player_stint->player_stint" -> 64L,
      "on_court_with:player_stint->lineup_stint" -> 1145L,
      "in_period:player_stint->period" -> 673L,
      "committed_foul:player_stint->foul" -> 73L, "drew_foul:player_stint->foul" -> 33L,
      "assisted:player_stint->shot" -> 9L, "blocked:player_stint->shot" -> 18L,
      "took_shot:player_stint->shot" -> 201L, "took_shot:player_stint->freethrow" -> 138L,
      "caused:foul->freethrow" -> 66L))
    assert(coo.select("rel_type", "src_id", "dst_id").distinct().count() == coo.count())
  }

  test("PyG export plan shape: one pass per source, six exchanges in the coo leaf") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.Exchange
    val gameTeams = Fixture.gameTeams(spark)
    val actor = PyGExport.strictActorEdges(result)
    // the inputs of every Union: the passes, plus the two sources that
    // share one dedup
    def unionInputs(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case u: Union => u.children.size }.sum
    def dedups(df: DataFrame) = df.queryExecution.optimizedPlan
      .collect { case a: Aggregate => a }.size
    val nodeRows = PyGExport.nodeRows(result, gameTeams, actor)
    val edgeRows = PyGExport.edgeRows(result, gameTeams, actor)
    assert(unionInputs(nodeRows) <= 7, nodeRows.queryExecution.optimizedPlan.treeString)
    assert(unionInputs(edgeRows) <= 8, edgeRows.queryExecution.optimizedPlan.treeString)
    assert(dedups(nodeRows) <= 1 && dedups(edgeRows) <= 1)

    // the coo leaf's cached plan: the lineup window, the edge dedup and
    // the caused window shuffle; the stint-period lookup and the two COO
    // lookups broadcast
    val (_, coo) = pyg
    graft.Force(coo)
    val cached = coo.queryExecution.analyzed.asInstanceOf[InMemoryRelation]
      .cacheBuilder.cachedPlan
    object stages extends AdaptiveSparkPlanHelper
    val exchanges = stages.collect(cached) { case e: Exchange => e.nodeName }
    assert(exchanges.size <= 6, exchanges.mkString("\n") + "\n" + cached.treeString)
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

object GraphExportSpec {

  /** The SQL spelling of `PyGExport.denseIdsByType`: one per-type
    * `row_number` window, no RDD pass. Identical ids by construction. It
    * MEASURED WORSE end-to-end, so it is kept only as the reference the
    * sort-and-count path is tested against. Numbers (against that path's
    * former zipWithIndex spelling, which shares its range sort; q64 full
    * build, tmpfs, local[32]): at sf0.1 the dense-id stage ties (4.4 s
    * both) but the whole build degrades 19.1 s → 38.5 s; at 10× sf0.1 the
    * stage wins (11.4 s → 9.0 s) yet the build still loses (73.5 s →
    * 83.6 s). Two reasons: each node TYPE serializes through one window
    * reducer (the range sort parallelizes within a type), and the
    * window-cached frame is partitioned on the 10-value type key, which
    * collapses the parallelism of every downstream COO join that scans
    * it. */
  def denseIdsByTypeWindow(
      df: DataFrame, typeCol: String, orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(typeCol)).orderBy(orderCols.map(col): _*)
    val out = df
      .withColumn("dense_id", (row_number().over(w) - 1).cast("long"))
      .cache()
    out.count()
    out
  }
}
