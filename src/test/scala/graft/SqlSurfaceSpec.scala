package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL spelling of representative queries equals the DataFrame
  * spelling — the engine can be driven entirely through `spark.sql(...)`
  * over temp views of its tables and materializations.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("spark.sql over registered views matches the DataFrame programs") {
    SqlSurfaceSpec.registerViews(spark, dir)

    val sqlAgg = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP_NTZ'1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val dfAgg = queries.Relational.q01PricingSummary.run(spark, dir)
    assert(canon(sqlAgg) == canon(dfAgg))

    val sqlSemi = spark.sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)
    val dfSemi = queries.Relational.q09SemiJoin.run(spark, dir)
    assert(canon(sqlSemi) == canon(dfSemi))

    val sqlWin = spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3""".stripMargin)
    val dfWin = queries.Relational.q08TopKPerGroup.run(spark, dir)
    assert(canon(sqlWin) == canon(dfWin))
  }

  test("domain views: the game engine is queryable with plain SQL") {
    SqlSurfaceSpec.registerDomainViews(spark, dir)

    // plus-minus reconciliation written as SQL over the domain views
    val sqlPm = spark.sql(
      """SELECT s.game_id, s.team_id, SUM(s.plus_minus) AS pm
        |FROM stint_plus_minus s GROUP BY s.game_id, s.team_id""".stripMargin)
    val dfPm = queries.Domain.pipeline(spark, dir).stintPlusMinus
      .groupBy("game_id", "team_id")
      .agg(org.apache.spark.sql.functions.sum("plus_minus").as("pm"))
    assert(canon(sqlPm) == canon(dfPm))

    // actor edges joined back to stints via SQL
    val n = spark.sql(
      """SELECT COUNT(*) FROM actor_edges e
        |JOIN player_stints ps ON e.src_id = ps.player_stint_id
        |WHERE e.src_kind = 'player_stint'""".stripMargin)
      .head().getLong(0)
    assert(n > 0)

    // PyG COO indices are valid dense ids for their node types
    val bad = spark.sql(
      """SELECT COUNT(*) FROM pyg_edges e
        |LEFT JOIN pyg_nodes s
        |  ON s.node_type = e.src_type AND s.dense_id = e.src_idx
        |WHERE s.node_id IS NULL""".stripMargin)
      .head().getLong(0)
    assert(bad == 0)
  }

  test("native expressions are SQL functions via SparkSessionExtensions") {
    SqlSurfaceSpec.registerViews(spark, dir)
    import org.apache.spark.sql.functions._

    // dot_product: SQL spelling equals the Column spelling
    val sqlDot = spark.sql(
      """SELECT vec_id, dot_product(embedding, embedding) AS d
        |FROM embeddings WHERE vec_id < 10""".stripMargin)
    val dfDot = Tables(spark, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id"),
        graft.ops.Vectors.dot(col("embedding"), col("embedding")).as("d"))
    assert(canon(sqlDot) == canon(dfDot))

    // kmv_estimate: SQL aggregate equals the Column aggregate
    val sqlKmv = spark.sql(
      """SELECT lang, kmv_estimate(
        |  CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT), 16) AS e
        |FROM documents GROUP BY lang""".stripMargin)
    val dfKmv = Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(graft.functions.KmvSketch.estimate(
        graft.ops.Text.baseHash(col("text")), 16).as("e"))
    assert(canon(sqlKmv) == canon(dfKmv))

    // mg_candidates: SQL aggregate equals the Column aggregate. k = 16
    // exceeds the distinct-lang count, so the buffer never truncates and
    // both spellings are exactly the distinct hash set — deterministic
    // regardless of partial-merge order.
    val sqlMg = spark.sql(
      """SELECT mg_candidates(
        |  CAST(conv(substring(md5(lang), 1, 15), 16, 10) AS BIGINT), 16) AS c
        |FROM documents""".stripMargin)
    val dfMg = Tables(spark, dir, "documents")
      .agg(graft.functions.MgCandidates.candidates(
        graft.ops.Text.baseHash(col("lang")), 16).as("c"))
    assert(canon(sqlMg) == canon(dfMg))

    // cms_counts: SQL aggregate equals the Column aggregate (the sketch
    // is a deterministic function of the multiset, so exact equality)
    val sqlCms = spark.sql(
      "SELECT cms_counts(user_id, 4, 64) AS cms FROM events")
    val dfCms = Tables(spark, dir, "events")
      .agg(graft.functions.CmsCounts.counts(col("user_id"), 4, 64).as("cms"))
    assert(canon(sqlCms) == canon(dfCms))

    // hll_registers: SQL aggregate equals the Column aggregate (register
    // max is a deterministic function of the input SET)
    val sqlHll = spark.sql(
      """SELECT lang, hll_registers(
        |  CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT), 10) AS r
        |FROM documents GROUP BY lang""".stripMargin)
    val dfHll = Tables(spark, dir, "documents")
      .groupBy("lang")
      .agg(graft.functions.Hll.registers(
        graft.ops.Text.baseHash(col("text")), 10).as("r"))
    assert(canon(sqlHll) == canon(dfHll))

    // bottom_k_sample: SQL aggregate equals the Column aggregate (the
    // sample is a deterministic function of the (hash, value) set)
    val sqlBk = spark.sql(
      """SELECT event_type, bottom_k_sample(
        |  CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT),
        |  value, 32) AS s
        |FROM events GROUP BY event_type""".stripMargin)
    val dfBk = Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(graft.functions.BottomKSample.sample(
        graft.ops.Text.baseHash(col("event_id").cast("string")),
        col("value"), 32).as("s"))
    assert(canon(sqlBk) == canon(dfBk))
  }
}

object SqlSurfaceSpec {
  import org.apache.spark.sql.SparkSession

  /** Register every testdata table of `dir` as a temp view named after
    * the table. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { name =>
      Tables(spark, dir, name).createOrReplaceTempView(name)
    }

  /** Register the domain engine's materializations as temp views: the
    * whole game pipeline (periods, stints, attribution, scores,
    * plus-minus, actor edges, PyG export) becomes queryable with plain
    * `spark.sql` — the SQL spelling of `graft.nba` / `graft.graph`. */
  def registerDomainViews(spark: SparkSession, dir: String): Unit = {
    val p = queries.Domain.pipeline(spark, dir)
    val (pygNodes, pygEdges) = queries.Domain.pyg(spark, dir)
    Seq(
      "game_periods" -> p.periods,
      "lineup_stints" -> p.lineupStints,
      "player_stints" -> p.playerStints,
      "attributed_events" -> p.attributedEvents,
      "score_chain" -> p.scoreChain,
      "stint_plus_minus" -> p.stintPlusMinus,
      "player_plus_minus" -> p.playerPlusMinus,
      "rebound_links" -> p.reboundLinks,
      "game_timeline" -> p.timeline,
      "actor_edges" -> graft.nba.Edges.actorEdges(p.attributedEvents, p.playerStints),
      "pyg_nodes" -> pygNodes,
      "pyg_edges" -> pygEdges
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }
}
