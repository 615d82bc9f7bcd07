package graft.queries

import graft.{Q, Tables}
import graft.graph.Superstep
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX-backed analytics queries (BASELINE.json: "GraphX for analytics
  * queries") over the star schema viewed as a property graph:
  * customer→nation and supplier→nation edges, nation→region hierarchy.
  * Results come out of GraphX operators (degrees, connectedComponents) but
  * are relationally well-defined, so they stay oracle-checkable.
  *
  * Vertex id scheme: nations keep their keys (< 1000), regions live at
  * 1000 + regionkey, customers at 1e12 + custkey and suppliers at 2e12 +
  * suppkey — the offsets are TYPE offsets far above any realistic key
  * range (a 1e6 offset would silently merge customer and supplier
  * vertices once custkey crosses 1e6, ~SF 7 — and an oracle that applies
  * the same colliding arithmetic could never catch it). Component ids
  * (GraphX: min vertex id in component) stay predictable because nation
  * ids sort lowest.
  */
object Graphs {

  /** One cached frame per (session, sfDir, tag): the iterative queries
    * reference their edge/vertex frames many times per run, and repeated
    * runs (specs, bench re-runs) must reuse the SAME cached copy instead
    * of pinning a fresh duplicate in storage memory each time. Weak
    * session keying + build-outside-lock via [[graft.SessionCache]]. */
  private def cachedOnce(s: SparkSession, dir: String, tag: String)(
      build: => DataFrame): DataFrame =
    graft.SessionCache.once(s, s"graphs#$dir#$tag")(build.cache())

  // ---------------------------------------------------------------- q50
  /** Entity degree via GraphX: for each nation, the number of customer
    * and supplier edges pointing at it (the graph form of a fact-count
    * roll-up). */
  val q50GraphDegree: Q = Q.sql(
    "q50_graph_degree",
    """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
      |  CAST(COALESCE(c.n, 0) + COALESCE(s.n, 0) AS BIGINT) AS degree
      |FROM nation
      |LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n FROM customer GROUP BY 1) c
      |  ON c.c_nationkey = n_nationkey
      |LEFT JOIN (SELECT s_nationkey, COUNT(*) AS n FROM supplier GROUP BY 1) s
      |  ON s.s_nationkey = n_nationkey""".stripMargin) { (s, dir) =>
    val spark = s
    val nation = Tables(s, dir, "nation")
    val customer = Tables(s, dir, "customer")
    val supplier = Tables(s, dir, "supplier")
    val custEdges = customer
      .select(col("c_custkey"), col("c_nationkey").cast("long"))
      .rdd.map(r => Edge(1000000000000L + r.getLong(0), r.getLong(1), "IN_NATION"))
    val suppEdges = supplier
      .select(col("s_suppkey"), col("s_nationkey").cast("long"))
      .rdd.map(r => Edge(2000000000000L + r.getLong(0), r.getLong(1), "IN_NATION"))
    val graph = Graph.fromEdges(custEdges.union(suppEdges), defaultValue = "")
    val degrees = graph.inDegrees // (nationkey, degree) — only nation vertices have in-edges
    import spark.implicits._
    val degDf = degrees.toDF("nationkey", "deg")
    nation.select(col("n_nationkey").cast("long").as("nationkey"))
      .join(degDf, Seq("nationkey"), "left_outer")
      .select(col("nationkey"),
        coalesce(col("deg").cast("long"), lit(0L)).as("degree"))
  }

  // ---------------------------------------------------------------- q51
  /** Connected components via GraphX over the nation–region bipartite
    * graph: each component is one region's nation cluster; GraphX labels
    * a component with its minimum vertex id = the region's smallest
    * nation key (nation ids < region ids by construction). */
  val q51GraphComponents: Q = Q.sql(
    "q51_graph_components",
    """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
      |  CAST(MIN(n_nationkey) OVER (PARTITION BY n_regionkey) AS BIGINT) AS component
      |FROM nation""".stripMargin) { (s, dir) =>
    val spark = s
    val nation = Tables(s, dir, "nation")
    val edges = nation
      .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), 1000L + r.getLong(1), "IN_REGION"))
    val graph = Graph.fromEdges(edges, defaultValue = 0)
    import spark.implicits._
    val cc = graph.connectedComponents().vertices
      .filter(_._1 < 1000L) // keep nation vertices
      .toDF("nationkey", "component_raw")
    cc.select(col("nationkey"),
      col("component_raw").cast("long").as("component"))
  }

  // ---------------------------------------------------------------- q78
  /** Fixed-point iterations the PageRank runs (unrolled identically in
    * the DuckDB oracle — both engines execute the same recurrence). */
  val PageRankIters = 5

  private def pagerankOracle: String = {
    val steps = (1 to PageRankIters).map { k =>
      s"""r$k AS (
         |  SELECT v.id,
         |    CAST(150000 + (850000 * COALESCE(c.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM verts v
         |  LEFT JOIN (
         |    SELECT e.dst AS id, SUM(r.rank // o.outdeg) AS s
         |    FROM edges e
         |    JOIN outdeg o ON o.src = e.src
         |    JOIN r${k - 1} r ON r.id = e.src
         |    GROUP BY 1) c ON c.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT 1000000000000 + c_custkey AS src, CAST(c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL
       |  SELECT 2000000000000 + s_suppkey, CAST(s_nationkey AS BIGINT) FROM supplier
       |  UNION ALL
       |  SELECT CAST(n_nationkey AS BIGINT), 1000 + CAST(n_regionkey AS BIGINT) FROM nation),
       |verts AS (
       |  SELECT DISTINCT id
       |  FROM (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges) u),
       |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM verts),
       |$steps
       |SELECT id AS node_id, rank AS rank_micro FROM r$PageRankIters""".stripMargin
  }

  /** Iterative PageRank over the customer/supplier→nation→region graph,
    * oracle-gated — an analytics extension beyond the reference surface
    * (the reference materializes a property graph but ships no centrality
    * query; this is the standard one a graph engine is expected to run).
    *
    * Hash-parity trick: double-precision PageRank can never hash-match
    * across engines (iterated sums are order-sensitive), so the rank is
    * kept in integer micro-units and the recurrence uses only integer
    * `div` — exact, associative, identical in Spark and DuckDB:
    *
    *   rank₀(v)   = 1_000_000
    *   rankₖ(v)   = 150_000 + (850_000 · Σ_{u→v} rankₖ₋₁(u) div outdeg(u)) div 1_000_000
    *
    * (damping 0.85 in micro-units; dangling mass is absorbed, both sides
    * implement the same choice). Scale shape: each iteration is one
    * shuffle join (edges ⋈ ranks on src) + one partial-aggregated groupBy
    * on dst — the canonical distributed PageRank step. The edge and
    * vertex frames are cached (they feed every iteration); at real scale
    * an iterative job would additionally `localCheckpoint` each rankₖ to
    * truncate lineage growth — at 5 unrolled iterations Catalyst handles
    * the composed plan directly. */
  val q78PageRank: Q = Q.sql("q78_pagerank", pagerankOracle) { (s, dir) =>
    val edges = cachedOnce(s, dir, "pagerank-edges") {
      Tables(s, dir, "customer")
        .select((col("c_custkey") + lit(1000000000000L)).as("src"),
          col("c_nationkey").cast("long").as("dst"))
        .unionByName(Tables(s, dir, "supplier")
          .select((col("s_suppkey") + lit(2000000000000L)).as("src"),
            col("s_nationkey").cast("long").as("dst")))
        .unionByName(Tables(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + lit(1000L)).as("dst")))
    }
    val verts = cachedOnce(s, dir, "pagerank-verts") {
      edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id")))
        .distinct()
    }
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val contribEdges = edges.join(outdeg, Seq("src"))
    var ranks = verts.select(col("id"), lit(1000000L).as("rank"))
    for (_ <- 1 to PageRankIters) {
      val contrib = contribEdges
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), expr("rank div outdeg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
      // damping product in DECIMAL(38,0): a Long 850000*s wraps once the
      // incoming rank mass s exceeds ~1.08e13 micro-units (~SF 70), while
      // the DuckDB oracle computes it in HUGEINT — decimal keeps the two
      // engines bit-identical at any scale factor; `div` (IntegralDivide)
      // accepts decimal operands and returns BIGINT, so the schema is
      // unchanged
      ranks = verts.join(contrib, Seq("id"), "left_outer")
        .select(col("id"), (lit(150000L) +
          expr("(CAST(850000 AS DECIMAL(38,0)) * coalesce(s, CAST(0 AS BIGINT))) div 1000000")).as("rank"))
    }
    ranks.select(col("id").as("node_id"), col("rank").as("rank_micro"))
  }

  // ---------------------------------------------------------------- q84
  /** Per-vertex triangle counting via GraphX `triangleCount` over the
    * same-region nation graph (nations sharing a region are adjacent —
    * each region's clique), checked against the closed-form relational
    * spelling: triangles through `a` = pairs `(b, c)` of distinct
    * same-region neighbours with `b < c`. The graph is dimension-scale
    * (triangle counting on a fact-scale graph is cubic in the worst case
    * and wants the clique-free orientation algorithms GraphX implements —
    * the operator here is the parity surface, the oracle is the spec). */
  val q84Triangles: Q = Q.sql(
    "q84_triangles",
    """WITH t AS (
      |  SELECT a.n_nationkey AS k, COUNT(*) AS n
      |  FROM nation a
      |  JOIN nation b ON b.n_regionkey = a.n_regionkey
      |    AND b.n_nationkey <> a.n_nationkey
      |  JOIN nation c ON c.n_regionkey = a.n_regionkey
      |    AND c.n_nationkey > b.n_nationkey
      |    AND c.n_nationkey <> a.n_nationkey
      |  GROUP BY 1
      |)
      |SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
      |  CAST(COALESCE(t.n, 0) AS BIGINT) AS triangles
      |FROM nation LEFT JOIN t ON t.k = n_nationkey""".stripMargin) { (s, dir) =>
    val spark = s
    val nation = Tables(s, dir, "nation")
    // canonical orientation (src < dst), one edge per unordered pair —
    // the form triangleCount requires
    val a = nation.select(col("n_nationkey").cast("long").as("src"),
      col("n_regionkey").as("rk"))
    val b = nation.select(col("n_nationkey").cast("long").as("dst"),
      col("n_regionkey").as("rk"))
    val pairEdges = a.join(b, Seq("rk")).filter(col("src") < col("dst"))
      .rdd.map(r => Edge(r.getLong(1), r.getLong(2), ""))
    val graph = Graph.fromEdges(pairEdges, defaultValue = "")
    val tri = graph.triangleCount().vertices
    import spark.implicits._
    val triDf = tri.toDF("nationkey", "tri")
    nation.select(col("n_nationkey").cast("long").as("nationkey"))
      .join(triDf, Seq("nationkey"), "left_outer")
      .select(col("nationkey"),
        coalesce(col("tri").cast("long"), lit(0L)).as("triangles"))
  }

  // ---------------------------------------------------------------- q85
  /** Relaxation steps for the Bellman-Ford shortest path (the graph is a
    * 4-level DAG, so 4 rounds reach the fixpoint and the probe round
    * after them, whose frontier is the region sinks, comes back empty;
    * the oracle unrolls the identical recurrence). */
  val BellmanFordIters = 4

  private def shortestPathOracle: String = {
    val steps = (1 to BellmanFordIters).map { k =>
      s"""r$k AS (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM r${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, r.dist + e.w AS dist
         |    FROM edges e JOIN r${k - 1} r ON r.id = e.src
         |  ) u GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT 1000000000000 + o_custkey AS src,
       |         2000000000000 + o_orderkey AS dst, CAST(1 AS BIGINT) AS w
       |  FROM orders
       |  UNION ALL
       |  SELECT 2000000000000 + l_orderkey, 3000000000000 + l_suppkey,
       |         CAST(floor(l_quantity) AS BIGINT)
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 3000000000000 + s_suppkey, CAST(s_nationkey AS BIGINT),
       |         CAST(1 AS BIGINT)
       |  FROM supplier
       |  UNION ALL
       |  SELECT CAST(n_nationkey AS BIGINT), 1000 + CAST(n_regionkey AS BIGINT),
       |         CAST(1 AS BIGINT)
       |  FROM nation),
       |r0 AS (
       |  SELECT 1000000000000 + c_custkey AS id, CAST(0 AS BIGINT) AS dist
       |  FROM customer),
       |$steps
       |SELECT id AS node_id, dist FROM r$BellmanFordIters""".stripMargin
  }

  /** One Bellman-Ford frontier round, pre-checkpoint (PlanSpec pins its
    * plan): relax edges out of the frontier, keep only vertices the
    * round strictly improved (or reached for the first time) — everything
    * already settled stays out of the next relax join. */
  private[graft] def relaxRound(
      edges: DataFrame, dists: DataFrame, frontier: DataFrame): DataFrame =
    edges
      .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
      .select(col("dst").as("id"), (col("dist") + col("w")).as("cand"))
      .groupBy("id").agg(min(col("cand")).as("cand"))
      .join(dists.withColumnRenamed("dist", "old"), Seq("id"), "left_outer")
      .filter(col("old").isNull || col("cand") < col("old"))
      .select(col("id"), col("cand").as("dist"))

  /** Single-source-set weighted shortest paths (Bellman-Ford) — the
    * min-plus complement to q78's sum-semiring iteration: distances from
    * the customer set through order (hop cost 1), lineitem (hop cost =
    * quantity), supplier and nation edges to the region roots.
    *
    * Same hash-parity discipline as q78: integer weights and integer
    * mins are exact and order-independent, so Spark and the unrolled
    * DuckDB recurrence agree bit-for-bit (float distances would not).
    * Absent rows ARE the infinities — the dist frame only carries
    * reached vertices, so no sentinel arithmetic. Scale shape: FRONTIER
    * (delta) iteration — each round relaxes only edges out of vertices
    * whose distance improved LAST round, not the whole reached set, so
    * round k's relax join is proportional to the k-th level of the
    * graph rather than everything reached so far (on a high-diameter
    * graph the non-delta form re-relaxes the entire settled prefix every
    * round — quadratic in rounds×reached). Each round is one shuffle
    * join (edges ⋈ frontier on src) + one partial-aggregated min per
    * dst ([[relaxRound]], driven by `graph.Superstep`). The id space
    * uses 1e12 type offsets so key ranges stay disjoint at any
    * realistic scale factor. Multi-edges (an order with
    * many lineitems to one supplier) need no dedup — min absorbs them.
    * The fixpoint is identical to the dense form (a vertex re-enters the
    * frontier whenever it improves), so the unrolled oracle is
    * unchanged. */
  val q85ShortestPath: Q = Q.sql("q85_shortest_path", shortestPathOracle) { (s, dir) =>
    // floor() before the long cast on BOTH sides: DuckDB's CAST(double ->
    // BIGINT) rounds half away from zero while Spark's cast truncates —
    // integral quantities hide the difference until the data changes
    val edges = cachedOnce(s, dir, "bellmanford-edges") {
      Tables(s, dir, "orders")
        .select((col("o_custkey") + lit(1000000000000L)).as("src"),
          (col("o_orderkey") + lit(2000000000000L)).as("dst"),
          lit(1L).as("w"))
        .unionByName(Tables(s, dir, "lineitem")
          .select((col("l_orderkey") + lit(2000000000000L)).as("src"),
            (col("l_suppkey") + lit(3000000000000L)).as("dst"),
            floor(col("l_quantity")).cast("long").as("w")))
        .unionByName(Tables(s, dir, "supplier")
          .select((col("s_suppkey") + lit(3000000000000L)).as("src"),
            col("s_nationkey").cast("long").as("dst"), lit(1L).as("w")))
        .unionByName(Tables(s, dir, "nation")
          .select(col("n_nationkey").cast("long").as("src"),
            (col("n_regionkey").cast("long") + lit(1000L)).as("dst"),
            lit(1L).as("w")))
    }
    val sources = Tables(s, dir, "customer")
      .select((col("c_custkey") + lit(1000000000000L)).as("id"),
        lit(0L).as("dist"))
      .localCheckpoint()
    Superstep.frontier("q85_shortest_path", BellmanFordIters, sources, sources) {
      (dists, frontier, _) =>
        Superstep.Round(relaxRound(edges, dists, frontier), (improved, n) =>
          if (n == 0L) dists
          else dists.unionByName(improved)
            .groupBy("id").agg(min(col("dist")).as("dist"))
            .localCheckpoint())
    }.select(col("id").as("node_id"), col("dist"))
  }

  // ---------------------------------------------------------------- q114
  /** 2-core decomposition by iterative peeling — the dense-subgraph
    * primitive (k-core is how graph-side corpus mining finds the
    * "well-connected" region; the fringe it strips is the long tail).
    * The graph is q85's customer–order–lineitem–supplier–nation chain
    * viewed UNDIRECTED with multi-edges collapsed; each round removes
    * vertices with fewer than 2 surviving distinct neighbours. Output is
    * every surviving vertex with its degree inside the core.
    *
    * The oracle unrolls [[KCoreRounds]] rounds; the engine peels until
    * a round removes nothing and throws if that takes more than
    * [[KCoreRounds]] rounds plus a probe (`Superstep.frontier`), so the
    * two agree whenever the cap is past the fixpoint. 4 is past it at
    * every shipped scale factor (the fringe is 2 levels deep: sf0.01
    * converges 16,630 → 16,371 in 2 rounds, sf0.1 in 3 — peel depth
    * tracks the fringe's chain length, not corpus size, because every
    * round strips ALL current degree-<2 vertices at once).
    *
    * Scale shape: DELTA peeling, the q85 frontier discipline — degrees
    * are counted over the full edge frame exactly ONCE; every
    * subsequent round only joins the edge frame against the (small,
    * broadcastable) set of vertices REMOVED last round and subtracts
    * their contributions, so round cost is proportional to the fringe
    * being stripped, not the surviving graph (a full recount per round
    * measured 6.5 s vs 3 s at sf0.1). The delta recurrence
    * produces the identical survivor set per round as the recount the
    * oracle unrolls: deg_within(s_r) = deg_within(s_{r-1}) − edges into
    * the round's removals, by induction from s_0 = all vertices. */
  val KCoreRounds = 4

  private def kcoreOracle: String = {
    val steps = (1 to KCoreRounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT a AS id FROM (
         |    SELECT e.a, COUNT(*) AS d
         |    FROM ue e JOIN s${r - 1} x ON e.a = x.id JOIN s${r - 1} y ON e.b = y.id
         |    GROUP BY 1) t
         |  WHERE d >= 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH de AS MATERIALIZED (
       |  SELECT DISTINCT * FROM (
       |    SELECT 1000000000000 + o_custkey AS a, 2000000000000 + o_orderkey AS b
       |    FROM orders
       |    UNION ALL
       |    SELECT 2000000000000 + l_orderkey, 3000000000000 + l_suppkey FROM lineitem
       |    UNION ALL
       |    SELECT 3000000000000 + s_suppkey, CAST(s_nationkey AS BIGINT) FROM supplier
       |    UNION ALL
       |    SELECT CAST(n_nationkey AS BIGINT), 1000 + CAST(n_regionkey AS BIGINT)
       |    FROM nation) t
       |),
       |ue AS MATERIALIZED (SELECT a, b FROM de UNION SELECT b, a FROM de),
       |s0 AS (SELECT DISTINCT a AS id FROM ue),
       |$steps
       |SELECT e.a AS node_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM ue e JOIN s$KCoreRounds x ON e.a = x.id
       |JOIN s$KCoreRounds y ON e.b = y.id
       |GROUP BY 1""".stripMargin
  }

  /** One peeling round, pre-checkpoint: drop the `dead` vertices from
    * `deg` and subtract the edges they take with them. The removal set
    * is small on this schema-shaped graph, but its size is data-dependent
    * (a leaf-heavy power-law graph can strip a large share of all
    * vertices in round 1), so the broadcast hint is gated on its counted
    * size `nDead`; past the cutoff AQE picks the join from measured sizes. */
  private[graft] def kcoreRound(ue: DataFrame, deg: DataFrame, dead: DataFrame,
      nDead: Long): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (nDead <= 1000000L) broadcast(_) else identity
    val lost = ue.join(hint(dead.withColumnRenamed("id", "b")), Seq("b"))
      .groupBy("a").agg(count(lit(1)).as("lost"))
      .withColumnRenamed("a", "id")
    deg
      .join(hint(dead.withColumnRenamed("id", "rm")),
        col("id") === col("rm"), "left_anti")
      .join(lost, Seq("id"), "left_outer")
      .select(col("id"), (col("d") - coalesce(col("lost"), lit(0L))).as("d"))
  }

  val q114KCore: Q = Q.sql("q114_kcore", kcoreOracle,
    "2-core by iterative peeling to the fixpoint, capped loudly") {
    (s, dir) =>
      val ue = cachedOnce(s, dir, "kcore-edges") {
        val de = Tables(s, dir, "orders")
          .select((col("o_custkey") + lit(1000000000000L)).as("a"),
            (col("o_orderkey") + lit(2000000000000L)).as("b"))
          .unionByName(Tables(s, dir, "lineitem")
            .select((col("l_orderkey") + lit(2000000000000L)).as("a"),
              (col("l_suppkey") + lit(3000000000000L)).as("b")))
          .unionByName(Tables(s, dir, "supplier")
            .select((col("s_suppkey") + lit(3000000000000L)).as("a"),
              col("s_nationkey").cast("long").as("b")))
          .unionByName(Tables(s, dir, "nation")
            .select(col("n_nationkey").cast("long").as("a"),
              (col("n_regionkey").cast("long") + lit(1000L)).as("b")))
          .distinct()
        de.unionByName(de.select(col("b").as("a"), col("a").as("b")))
      }
      // deg = degrees within the current survivor set, for survivors;
      // the frontier = the vertices the next round removes. One full
      // count, then per-round subtractions against the removals only.
      val deg0 = ue.groupBy("a").agg(count(lit(1)).as("d"))
        .withColumnRenamed("a", "id").localCheckpoint()
      def dying(deg: DataFrame): DataFrame = deg.filter(col("d") < 2).select("id")
      val core = Superstep.frontier("q114_kcore", KCoreRounds, deg0,
          dying(deg0).localCheckpoint()) { (deg, dead, nDead) =>
        val next = kcoreRound(ue, deg, dead, nDead).localCheckpoint()
        Superstep.Round(dying(next), (_, _) => next)
      }
      // a fixpoint survivor always has d >= 2; the >= 1 guard mirrors the
      // oracle's final join, which omits vertices with no surviving edge
      core.filter(col("d") >= 1)
        .select(col("id").as("node_id"), col("d").cast("long").as("core_degree"))
  }

  // ---------------------------------------------------------------- q138
  /** Local clustering coefficient — how clique-like each vertex's
    * neighbourhood is: 2·triangles / (deg·(deg−1)), the standard network
    * statistic, over the same-region nation graph q84 counts triangles
    * on. Spelled fully relationally (q84 holds the GraphX parity
    * surface): adjacency is an equi-join on the region key, wedges are
    * an adjacency self-join on the center vertex, and closure is a
    * LEFT SEMI join back onto the edge set — every step an equi-key
    * shuffle, the orientation `b < c` halving the wedge fan-out. The
    * coefficient is an exact rational of two bigints (one division,
    * same operation order both engines). */
  val q138ClusteringCoeff: Q = Q.sql(
    "q138_clustering_coeff",
    """WITH adj AS (
      |  SELECT a.n_nationkey AS src, b.n_nationkey AS dst
      |  FROM nation a JOIN nation b ON b.n_regionkey = a.n_regionkey
      |    AND b.n_nationkey <> a.n_nationkey
      |), deg AS (
      |  SELECT src, COUNT(*) AS d FROM adj GROUP BY 1
      |), tri AS (
      |  SELECT w.src, COUNT(*) AS t
      |  FROM (SELECT x.src, x.dst AS b, y.dst AS c
      |        FROM adj x JOIN adj y ON y.src = x.src AND y.dst > x.dst) w
      |  WHERE EXISTS (SELECT 1 FROM adj e
      |                WHERE e.src = w.b AND e.dst = w.c)
      |  GROUP BY 1
      |)
      |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
      |  CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree,
      |  CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
      |  CASE WHEN COALESCE(deg.d, 0) >= 2
      |       THEN CAST(2 * COALESCE(tri.t, 0) AS DOUBLE)
      |            / (deg.d * (deg.d - 1))
      |       ELSE 0.0 END AS coeff
      |FROM nation n
      |LEFT JOIN deg ON deg.src = n.n_nationkey
      |LEFT JOIN tri ON tri.src = n.n_nationkey""".stripMargin,
    "local clustering coefficient: 2*tri/(deg*(deg-1)) per vertex") {
    (s, dir) =>
      val nat = Tables(s, dir, "nation")
      val a = nat.select(col("n_nationkey").cast("long").as("src"),
        col("n_regionkey").as("rk"))
      val b = nat.select(col("n_nationkey").cast("long").as("dst"),
        col("n_regionkey").as("rk"))
      val adj = a.join(b, Seq("rk")).filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
      val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val wedges = adj.select(col("src"), col("dst").as("b"))
        .join(adj.select(col("src"), col("dst").as("c")), Seq("src"))
        .filter(col("c") > col("b"))
      val tri = wedges
        .join(adj.select(col("src").as("b"), col("dst").as("c")),
          Seq("b", "c"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("t"))
      nat.select(col("n_nationkey").cast("long").as("nationkey"))
        .join(deg.withColumnRenamed("src", "nationkey"), Seq("nationkey"),
          "left_outer")
        .join(tri.withColumnRenamed("src", "nationkey"), Seq("nationkey"),
          "left_outer")
        .select(col("nationkey"),
          coalesce(col("d"), lit(0L)).as("degree"),
          coalesce(col("t"), lit(0L)).as("triangles"),
          when(coalesce(col("d"), lit(0L)) >= 2,
            (lit(2) * coalesce(col("t"), lit(0L))).cast("double")
              / (col("d") * (col("d") - 1)))
            .otherwise(lit(0.0)).as("coeff"))
  }

  // ---------------------------------------------------------------- q186
  /** Weisfeiler–Lehman color refinement, two rounds — the structural
    * node-feature pass behind graph-ML pipelines (WL subtree kernel,
    * Shervashidze et al. JMLR'11; the feature GNN message passing
    * imitates), and the natural companion to the PyG export (q64): WL
    * colors are the cheap structural embedding you ship when you can't
    * run a model. Over the undirected star-schema graph (customer↔nation,
    * supplier↔nation, nation↔region — q78's edge set symmetrized):
    * l₀ = degree; each round relabels
    * l_{r+1}(v) = md5(l_r(v) | Σ_u hash(l_r(u)) mod M | deg(v)).
    *
    * The multiset of neighbor labels is encoded by a SUM of per-neighbor
    * hashes (mod 2⁶¹−1) rather than a sorted concat — commutative, so it
    * partial-aggregates map-side with O(1) state per node where a
    * collect_list would buffer a hot vertex's whole neighborhood (the
    * q164 lesson, applied to graphs: nation vertices here have O(|C|/25)
    * neighbors and a power-law graph is worse). Sum runs in
    * DECIMAL(38,0) — degree·2⁶⁰ overflows BIGINT at ~2k neighbors, and
    * Spark's long sum would wrap where DuckDB's HUGEINT doesn't (the
    * q78 damping lesson). Per round: one edges⋈labels equi-join + one
    * partial-agg groupBy — the canonical distributed WL step, linear per
    * round at any scale. Output carries each node's WL-2 color-class
    * size (how many structural twins it has) via one more partial-agg
    * over the O(#colors) frame. */
  val q186WlRefinement: Q = {
    val mod = "2305843009213693951" // 2^61 - 1
    Q.sql(
      "q186_wl_refinement",
      s"""WITH e0 AS (
         |  SELECT c_custkey + 1000000000000 AS src,
         |         CAST(c_nationkey AS BIGINT) AS dst FROM customer
         |  UNION ALL
         |  SELECT s_suppkey + 2000000000000, CAST(s_nationkey AS BIGINT)
         |  FROM supplier
         |  UNION ALL
         |  SELECT CAST(n_nationkey AS BIGINT),
         |         CAST(n_regionkey AS BIGINT) + 1000 FROM nation
         |), ed AS (
         |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
         |), l0 AS (
         |  SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree,
         |         CAST(COUNT(*) AS VARCHAR) AS lbl
         |  FROM ed GROUP BY 1
         |), s1 AS (
         |  SELECT e.src AS id,
         |    CAST(SUM(('0x' || substr(md5(n.lbl), 1, 15))::BIGINT) % $mod
         |      AS BIGINT) AS hsum
         |  FROM ed e JOIN l0 n ON n.id = e.dst GROUP BY 1
         |), l1 AS (
         |  SELECT l0.id, l0.degree,
         |    md5(l0.lbl || '|' || CAST(s1.hsum AS VARCHAR) || '|' ||
         |        CAST(l0.degree AS VARCHAR)) AS lbl
         |  FROM l0 JOIN s1 ON s1.id = l0.id
         |), s2 AS (
         |  SELECT e.src AS id,
         |    CAST(SUM(('0x' || substr(md5(n.lbl), 1, 15))::BIGINT) % $mod
         |      AS BIGINT) AS hsum
         |  FROM ed e JOIN l1 n ON n.id = e.dst GROUP BY 1
         |), l2 AS (
         |  SELECT l1.id, l1.degree, l1.lbl AS wl1,
         |    md5(l1.lbl || '|' || CAST(s2.hsum AS VARCHAR) || '|' ||
         |        CAST(l1.degree AS VARCHAR)) AS lbl
         |  FROM l1 JOIN s2 ON s2.id = l1.id
         |), cls AS (
         |  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS class_size
         |  FROM l2 GROUP BY 1
         |)
         |SELECT l2.id AS node_id, l2.degree, l2.wl1, l2.lbl AS wl2,
         |  cls.class_size
         |FROM l2 JOIN cls ON cls.lbl = l2.lbl""".stripMargin,
      "two-round WL color refinement with hash-sum multiset encoding") {
      (s, dir) =>
        val modL = 2305843009213693951L
        val e0 = Tables(s, dir, "customer")
          .select((col("c_custkey") + lit(1000000000000L)).as("src"),
            col("c_nationkey").cast("long").as("dst"))
          .unionByName(Tables(s, dir, "supplier")
            .select((col("s_suppkey") + lit(2000000000000L)).as("src"),
              col("s_nationkey").cast("long").as("dst")))
          .unionByName(Tables(s, dir, "nation")
            .select(col("n_nationkey").cast("long").as("src"),
              (col("n_regionkey").cast("long") + lit(1000L)).as("dst")))
        val ed = e0.unionByName(
          e0.select(col("dst").as("src"), col("src").as("dst")))
        val l0 = ed.groupBy(col("src")).agg(count(lit(1)).as("degree"))
          .select(col("src").as("id"), col("degree"),
            col("degree").cast("string").as("lbl"))
        def round(lbls: DataFrame): DataFrame = {
          val hsum = ed
            .join(lbls.select(col("id").as("dst"), col("lbl").as("nlbl")),
              Seq("dst"))
            .groupBy(col("src"))
            .agg(pmod(
              sum(graft.ops.Text.baseHash(col("nlbl")).cast("decimal(38,0)")),
              lit(modL).cast("decimal(38,0)")).cast("long").as("hsum"))
            .select(col("src").as("id"), col("hsum"))
          lbls.join(hsum, Seq("id"))
            .select(col("id"), col("degree"), col("lbl").as("prev"),
              md5(concat_ws("|", col("lbl"), col("hsum").cast("string"),
                col("degree").cast("string"))).as("lbl"))
        }
        val l1 = round(l0)
        val l2 = round(l1.select(col("id"), col("degree"), col("lbl")))
          .withColumnRenamed("prev", "wl1")
        val cls = l2.groupBy(col("lbl")).agg(count(lit(1)).as("class_size"))
        l2.join(cls, Seq("lbl"))
          .select(col("id").as("node_id"), col("degree"), col("wl1"),
            col("lbl").as("wl2"), col("class_size"))
    }
  }

  // ---------------------------------------------------------------- q209
  /** HITS hubs & authorities (Kleinberg) on the customer↔part purchase
    * bipartite graph — the mutually-recursive centrality beside q78's
    * PageRank: customers are hubs (they buy influential parts), parts
    * are authorities (influential customers buy them). Two full
    * half-rounds (auth ← hubs ← auth), L1-normalized after every
    * half-step in EXACT integer arithmetic: scores scaled by 1e6,
    * normalization is `score·SCALE // total`, so the recurrence is a
    * pure integer function both engines execute identically — q78's
    * hash-gate discipline. (Bound: deg·SCALE² must stay < 2^63, safe to
    * million-degree vertices.)
    *
    * Scale shape: each half-step is one partial-agg SUM over the
    * distinct edge frame (built once, cached) joined against the O(V)
    * score frame on its key, plus a broadcast scalar normalizer — the
    * PPR/LPA cost model on a bipartite key split, nothing quadratic.
    */
  val q209Hits: Q = {
    val S = 1000000L // integer score scale
    Q.sql(
      "q209_hits",
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |), a1 AS ( -- auth ← unit hubs  (= customer-degree of the part)
         |  SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY 1
         |), a1t AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM a1),
         |a1n AS (SELECT p, CAST((s * $S) // t AS BIGINT) AS s FROM a1, a1t),
         |h1 AS ( -- hubs ← normalized auth
         |  SELECT e.c, CAST(SUM(a1n.s) AS BIGINT) AS s
         |  FROM e JOIN a1n ON a1n.p = e.p GROUP BY 1
         |), h1t AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM h1),
         |h1n AS (SELECT c, CAST((s * $S) // t AS BIGINT) AS s FROM h1, h1t),
         |a2 AS ( -- auth ← normalized hubs
         |  SELECT e.p, CAST(SUM(h1n.s) AS BIGINT) AS s
         |  FROM e JOIN h1n ON h1n.c = e.c GROUP BY 1
         |), a2t AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM a2),
         |a2n AS (SELECT p, CAST((s * $S) // t AS BIGINT) AS s FROM a2, a2t)
         |SELECT 'auth' AS kind, CAST(p AS BIGINT) AS id, s AS score FROM a2n
         |UNION ALL
         |SELECT 'hub' AS kind, CAST(c AS BIGINT) AS id, s AS score FROM h1n""".stripMargin,
      "exact-integer HITS hub/authority scores on the customer-part graph") {
      (s, dir) =>
        val e = cachedOnce(s, dir, "hits-edges") {
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
            .join(Tables(s, dir, "lineitem")
              .select(col("l_orderkey"), col("l_partkey")),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
            .distinct()
        }
        // r12 (guide §2.4/§3.3): each l1norm embeds its input TWICE (the
        // scalar total and the division), and the half-steps nest, so the
        // unmaterialized composition re-derived a1 up to 8× across the
        // final plan (73 jobs for three half-steps). Materializing the
        // O(V) score frame once per half-step makes every subtree compute
        // exactly once and keeps each round's plan flat.
        def l1norm(scores: DataFrame, key: String): DataFrame = {
          val sc = scores.localCheckpoint()
          val t = sc.agg(sum(col("s")).cast("long").as("t"))
          sc.crossJoin(broadcast(t))
            .select(col(key), expr(s"(s * $S) div t").cast("long").as("s"))
        }
        val a1 = e.groupBy(col("p")).agg(count(lit(1)).as("s"))
        val a1n = l1norm(a1, "p")
        val h1 = e.join(a1n, Seq("p")).groupBy(col("c"))
          .agg(sum(col("s")).cast("long").as("s"))
        val h1n = l1norm(h1, "c")
        val a2 = e.join(h1n, Seq("c")).groupBy(col("p"))
          .agg(sum(col("s")).cast("long").as("s"))
        val a2n = l1norm(a2, "p")
        a2n.select(lit("auth").as("kind"), col("p").cast("long").as("id"),
            col("s").as("score"))
          .unionAll(h1n.select(lit("hub").as("kind"),
            col("c").cast("long").as("id"), col("s").as("score")))
    }
  }

  // ----------------------------------------------------- q239 and q259
  /** The undirected customer↔part purchase graph that q239 and q259
    * walk, as (src, dst) in both directions; the distinct pairs are
    * cached once per session. */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val ep = cachedOnce(s, dir, "closeness-edges") {
      Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") + lit(1000000000000L)).as("c"),
          (col("l_partkey") + lit(2000000000000L)).as("p"))
        .distinct()
    }
    ep.select(col("c").as("src"), col("p").as("dst"))
      .unionByName(ep.select(col("p").as("src"), col("c").as("dst")))
  }

  /** One unit-weight BFS round, pre-checkpoint: expand the frontier one
    * hop and keep first reaches only. A round-k candidate (dist = k) can
    * never beat a reached entry (dist ≤ k−1), so "improved" is "not yet
    * reached", an anti-join, and successive frontiers are disjoint.
    * `by` names the columns a multi-source BFS carries (q239's seed). */
  private[graft] def bfsRound(edges: DataFrame, dists: DataFrame,
      frontier: DataFrame, by: Seq[String]): DataFrame = {
    val key = by :+ "id"
    edges
      .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
      .select(by.map(col) ++ Seq(col("dst").as("id"),
        (col("dist") + 1L).as("dist")): _*)
      .groupBy(key.map(col): _*).agg(min(col("dist")).as("dist"))
      .join(dists.select(key.map(col): _*), key, "left_anti")
  }

  /** BFS from `seed` (by…, id, dist = 0) to its fixpoint: every reached
    * (by…, id) with its hop distance. Disjoint frontiers make the state
    * a plain union, with no per-round re-aggregation of the O(V) frame. */
  private def bfs(query: String, cap: Int, edges: DataFrame, seed: DataFrame,
      by: Seq[String]): DataFrame = {
    val start = seed.localCheckpoint()
    Superstep.frontier(query, cap, start, start) { (dists, frontier, _) =>
      Superstep.Round(bfsRound(edges, dists, frontier, by), (f, _) => dists.unionByName(f))
    }
  }

  // ---------------------------------------------------------------- q239
  /** BFS rounds for the harmonic-closeness seeds: the farthest vertex is
    * 5 hops from a seed at sf0.01 and at sf0.1, so 5 rounds reach the
    * fixpoint and the probe round after them reaches nothing; a deeper
    * graph throws instead of truncating (`Superstep.frontier`). The
    * oracle unrolls the same count; absent rows stay the infinities,
    * exactly q85's discipline. */
  val ClosenessRounds = 5

  private def closenessOracle: String = {
    val steps = (1 to ClosenessRounds).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT seed, id, MIN(dist) AS dist FROM (
         |    SELECT seed, id, dist FROM r${k - 1}
         |    UNION ALL
         |    SELECT r.seed, e.dst AS id, r.dist + 1 AS dist
         |    FROM edges e JOIN r${k - 1} r ON r.id = e.src
         |  ) u GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ep AS MATERIALIZED (
       |  SELECT DISTINCT 1000000000000 + o.o_custkey AS c,
       |    2000000000000 + l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |), edges AS MATERIALIZED (
       |  SELECT c AS src, p AS dst FROM ep
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM ep
       |), r0 AS (
       |  SELECT seed, seed AS id, CAST(0 AS BIGINT) AS dist
       |  FROM (VALUES (2000000000001), (2000000000002), (2000000000003))
       |    s(seed)
       |),
       |$steps,
       |piv AS (
       |  SELECT id,
       |    MIN(CASE WHEN seed = 2000000000001 THEN dist END) AS d1,
       |    MIN(CASE WHEN seed = 2000000000002 THEN dist END) AS d2,
       |    MIN(CASE WHEN seed = 2000000000003 THEN dist END) AS d3
       |  FROM r$ClosenessRounds GROUP BY 1
       |)
       |SELECT CAST(id AS BIGINT) AS node_id,
       |  CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       |  CAST(d3 AS BIGINT) AS d3,
       |  ((CASE WHEN d1 IS NULL OR d1 = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(1 AS DOUBLE) / d1 END
       |    + CASE WHEN d2 IS NULL OR d2 = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE CAST(1 AS DOUBLE) / d2 END)
       |   + CASE WHEN d3 IS NULL OR d3 = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE CAST(1 AS DOUBLE) / d3 END) AS harmonic
       |FROM piv""".stripMargin
  }

  /** Harmonic closeness centrality from a seed set (Boldi–Vigna's
    * harmonic variant — finite under disconnection where classic
    * closeness is not): BFS distances from 3 seed parts over the
    * undirected customer↔part purchase graph, h(v) = Σ_s 1/d(s,v)
    * (self and unreachable contribute 0). The exact-centrality-by-
    * sampled-sources estimator (Eppstein–Wang): at 100 TB you never
    * run all-sources BFS — you sample seeds, and each seed costs one
    * frontier sweep.
    *
    * Hash-parity: distances are exact integer BFS levels (q85's
    * absent-rows-are-infinities discipline, seed carried through the
    * frontier); the harmonic sum is three correctly-rounded 1/d terms
    * added in fixed order. Scale shape: per round ONE equi-join of the
    * cached edge frame against the frontier + a partial-agg min per
    * (seed, node); `localCheckpoint` keeps the plan O(1) deep; the
    * pivot is a partial agg over the O(V·seeds) distance frame. */
  val q239HarmonicCloseness: Q = Q.sql(
    "q239_harmonic_closeness",
    closenessOracle,
    "seed-sampled harmonic closeness over the purchase bipartite graph") {
    (s, dir) =>
      val seeds = Seq(2000000000001L, 2000000000002L, 2000000000003L)
      val dists = bfs("q239_harmonic_closeness", ClosenessRounds,
        purchaseEdges(s, dir),
        s.createDataFrame(seeds.map(x => (x, x, 0L))).toDF("seed", "id", "dist"),
        Seq("seed"))
      def term(d: Column): Column =
        when(d.isNull || d === 0, lit(0).cast("double"))
          .otherwise(lit(1).cast("double") / d)
      dists.groupBy(col("id"))
        .agg(
          min(when(col("seed") === seeds(0), col("dist"))).as("d1"),
          min(when(col("seed") === seeds(1), col("dist"))).as("d2"),
          min(when(col("seed") === seeds(2), col("dist"))).as("d3"))
        .select(col("id").cast("long").as("node_id"),
          col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"),
          col("d3").cast("long").as("d3"),
          ((term(col("d1")) + term(col("d2"))) + term(col("d3")))
            .as("harmonic"))
  }

  // ---------------------------------------------------------------- q259
  /** Sweep depth cap: the bipartite graph alternates part/customer
    * levels, and each sweep reaches its fixpoint in at most 4 rounds at
    * sf0.01 and 5 at sf0.1; a deeper graph throws at the cap. */
  val SweepRounds = 6

  private def diameterOracle: String = {
    def sweep(name: String, seedCte: String) = {
      val steps = (1 to SweepRounds).map { k =>
        s"""${name}r$k AS MATERIALIZED (
           |  SELECT id, MIN(dist) AS dist FROM (
           |    SELECT id, dist FROM ${name}r${k - 1}
           |    UNION ALL
           |    SELECT e.dst AS id, r.dist + 1 AS dist
           |    FROM edges e JOIN ${name}r${k - 1} r ON r.id = e.src
           |  ) u GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""${name}r0 AS ($seedCte),
         |$steps""".stripMargin
    }
    s"""WITH ep AS MATERIALIZED (
       |  SELECT DISTINCT 1000000000000 + o.o_custkey AS c,
       |    2000000000000 + l.l_partkey AS p
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |), edges AS MATERIALIZED (
       |  SELECT c AS src, p AS dst FROM ep
       |  UNION ALL
       |  SELECT p AS src, c AS dst FROM ep
       |),
       |${sweep("a", "SELECT CAST(2000000000001 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist")},
       |u_star AS (
       |  SELECT id, dist FROM ar$SweepRounds
       |  ORDER BY dist DESC, id LIMIT 1
       |),
       |${sweep("b", s"SELECT id, CAST(0 AS BIGINT) AS dist FROM u_star")},
       |v_star AS (
       |  SELECT id, dist FROM br$SweepRounds
       |  ORDER BY dist DESC, id LIMIT 1
       |)
       |SELECT CAST(2000000000001 AS BIGINT) AS seed,
       |  u_star.id AS u_star, u_star.dist AS ecc_seed,
       |  v_star.id AS v_star, v_star.dist AS diameter_lb,
       |  CAST((SELECT COUNT(*) FROM ar$SweepRounds) AS BIGINT)
       |    AS reached
       |FROM u_star, v_star""".stripMargin
  }

  /** Diameter lower bound by the double-BFS sweep (the 2-sweep
    * heuristic behind iFUB/HADI-style diameter estimators, and the
    * standard answer to "how far apart can two entities be" at graph
    * scale, where all-pairs BFS is unthinkable): BFS from a fixed seed,
    * take the FARTHEST vertex u*, BFS again from u* — u*'s
    * eccentricity is a certified diameter lower bound, usually tight
    * on real graphs. The second seed is DATA-DEPENDENT and stays a
    * 1-row FRAME (min-struct argmax, deterministic tiebreak) — no
    * driver collect anywhere; the sweep loop just starts from it.
    *
    * Scale shape: 2 × SweepRounds frontier joins against the cached
    * edge frame (q85's delta discipline, localCheckpoint per round);
    * the argmax between sweeps is one partial agg. */
  val q259DiameterSweep: Q = Q.sql(
    "q259_diameter_sweep",
    diameterOracle,
    "double-BFS sweep: farthest vertex then certified diameter lower bound") {
    (s, dir) =>
      val edges = purchaseEdges(s, dir)
      def sweep(seed: DataFrame): DataFrame =
        bfs("q259_diameter_sweep", SweepRounds, edges, seed, Nil)
      def argmaxFar(dists: DataFrame): DataFrame =
        dists.agg(min(struct((-col("dist")).as("nd"), col("id"))).as("m"))
          .select(col("m.id").as("id"), (-col("m.nd")).as("dist"))
      val seed1 = s.range(1)
        .select(lit(2000000000001L).as("id"), lit(0L).as("dist"))
      val d1 = sweep(seed1)
      val uStar = argmaxFar(d1)
      val d2 = sweep(uStar.select(col("id"), lit(0L).as("dist")))
      val vStar = argmaxFar(d2)
      val reached = d1.agg(count(lit(1)).cast("long").as("reached"))
      uStar.select(col("id").as("u_star"), col("dist").as("ecc_seed"))
        .crossJoin(broadcast(vStar.select(col("id").as("v_star"),
          col("dist").as("diameter_lb"))))
        .crossJoin(broadcast(reached))
        .select(lit(2000000000001L).as("seed"), col("u_star"),
          col("ecc_seed"), col("v_star"), col("diameter_lb"),
          col("reached"))
  }

  // ---------------------------------------------------------------- q231
  /** Degree assortativity (Newman '02) of the customer↔part bipartite
    * graph — do high-degree customers buy high-degree (popular) parts?
    * The Pearson correlation of endpoint degrees over the distinct edge
    * set, the one summary statistic the graph family (degrees, CC, PR,
    * triangles, k-core, WL, HITS, LPA, PPR) still lacked. Negative
    * assortativity is the classic bipartite-commerce signature (hubs
    * attach to the long tail).
    *
    * All five moment sums are exact (degree products in DECIMAL —
    * degrees are dimension-bounded but their edge-weighted products sum
    * past 2⁶³ at 100 TB); r is one fixed-parenthesization double tree
    * (q189's sqrt discipline). Scale shape: edges come from ONE
    * orderkey equi-join + a distinct partial agg; both degree frames
    * are dimension-sized equi-joins back onto the edge list (AQE
    * broadcasts); the moments are a 1-row partial agg. Nothing
    * quadratic, nothing collected. */
  val q231Assortativity: Q = Q.sql(
    "q231_assortativity",
    """WITH e AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |), dc AS (
      |  SELECT c, CAST(COUNT(*) AS BIGINT) AS x FROM e GROUP BY 1
      |), dp AS (
      |  SELECT p, CAST(COUNT(*) AS BIGINT) AS y FROM e GROUP BY 1
      |), j AS (
      |  SELECT dc.x, dp.y FROM e JOIN dc USING (c) JOIN dp USING (p)
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS sxy,
      |    SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx,
      |    SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS syy
      |  FROM j
      |)
      |SELECT n, sx, sy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
      |FROM m""".stripMargin,
    "Pearson degree correlation over the customer-part bipartite edges") {
    (s, dir) =>
      val e = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val dc = e.groupBy(col("c")).agg(count(lit(1)).cast("long").as("x"))
      val dp = e.groupBy(col("p")).agg(count(lit(1)).cast("long").as("y"))
      val j = e.join(dc, Seq("c")).join(dp, Seq("p"))
        .select(col("x"), col("y"))
      val m = j.agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .as("sxy"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("sxx"),
        sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .as("syy"))
      m.select(col("n"), col("sx"), col("sy"),
        ((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (sqrt(col("n").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * sqrt(col("n").cast("double") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("assortativity"))
  }

  // ---------------------------------------------------------------- q277
  /** Grid-bucketed DBSCAN — density-based clustering, the classic
    * unsupervised family (outlier-robust, shape-free) the centroid
    * methods (k-means q95b, SemDeDup cells q111) can't give: points
    * with ≥ minPts neighbors within L∞ radius r are CORES, cores
    * within r of each other share a cluster (connected components),
    * non-cores within r of a core are BORDERS (joining their
    * minimum-labeled core neighbor — the deterministic tiebreak the
    * textbook algorithm leaves unspecified), everything else is NOISE.
    *
    * Distributed shape: neighbor pairs come from q180's 3×3 grid-cell
    * equi-join (cell size = r, constant 9× fan-out — never an
    * all-pairs theta join), and the pair stream is consumed ONLY by
    * map-side-combined partial aggs — never materialized, never fed to
    * GraphX. The CC input is the CELL-CONTRACTED graph (cell size = r
    * makes same-cell cores a clique, so a star to the per-cell min
    * core plus one edge per (core, neighboring cell with a within-r
    * core neighbor) preserves components exactly): O(9·cores) edges
    * where the naive spelling's O(n·density) neighbor graph did not
    * even complete at the 100× blow-up (killed past 25 min; the
    * contracted form measures 462 s). Border labels come from cell
    * reps for the same clique reason. The remaining density-sensitive
    * cost is the pair-scan arithmetic itself — inherent to fixed-eps
    * DBSCAN under the fixture's fixed-domain (densifying) blow-up;
    * a real corpus grows its domain at ~constant density, where the
    * per-point candidate count — and so the whole plan — is linear.
    *
    * The oracle replays the whole construction brute-force (theta
    * neighbor join + recursive reach-min), so the gate proves the grid
    * decomposition AND the component labels, not just row counts. */
  val q277GridDbscan: Q = {
    val r = 50000L
    val minPts = 4L
    Q.sql(
      "q277_grid_dbscan",
      s"""WITH RECURSIVE u AS (
         |  SELECT DISTINCT user_id FROM events
         |), pts AS (
         |  SELECT user_id,
         |    ('0x' || substr(md5('x' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 1000000 AS x,
         |    ('0x' || substr(md5('y' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
         |      % 1000000 AS y
         |  FROM u
         |), nb AS (
         |  SELECT a.user_id AS ua, b.user_id AS ub
         |  FROM pts a JOIN pts b
         |    ON a.user_id <> b.user_id
         |   AND abs(a.x - b.x) <= $r AND abs(a.y - b.y) <= $r
         |), nc AS (
         |  SELECT p.user_id, 1 + COALESCE(c.n, 0) AS n
         |  FROM pts p LEFT JOIN
         |    (SELECT ua, COUNT(*) AS n FROM nb GROUP BY 1) c
         |    ON c.ua = p.user_id
         |), core AS (
         |  SELECT user_id FROM nc WHERE n >= $minPts
         |), ce AS (
         |  SELECT ua, ub FROM nb
         |  WHERE ua IN (SELECT user_id FROM core)
         |    AND ub IN (SELECT user_id FROM core)
         |), rch(a, b) AS (
         |  SELECT ua, ub FROM ce
         |  UNION
         |  SELECT rch.a, e.ub FROM rch JOIN ce e ON rch.b = e.ua
         |), lab AS (
         |  SELECT c.user_id,
         |    least(c.user_id, coalesce(
         |      (SELECT MIN(b) FROM rch WHERE a = c.user_id), c.user_id))
         |      AS cluster
         |  FROM core c
         |), bord AS (
         |  SELECT nb.ua AS user_id, MIN(lab.cluster) AS cluster
         |  FROM nb JOIN lab ON lab.user_id = nb.ub
         |  WHERE nb.ua NOT IN (SELECT user_id FROM core)
         |  GROUP BY 1
         |)
         |SELECT p.user_id, lab.user_id IS NOT NULL AS is_core,
         |  CAST(COALESCE(lab.cluster, bord.cluster) AS BIGINT) AS cluster
         |FROM pts p
         |LEFT JOIN lab ON lab.user_id = p.user_id
         |LEFT JOIN bord ON bord.user_id = p.user_id""".stripMargin,
      "grid-bucketed DBSCAN: cores, min-label border assignment, noise") {
      (s, dir) =>
        // shared grid kernel (graft.ops.Spatial; domain pinned to the
        // oracle's 10⁶ — the density measurement twin scales it)
        val pts = graft.ops.Spatial.points(
          Tables(s, dir, "events").select(col("user_id")).distinct(),
          "user_id", 1000000L)
        graft.ops.Spatial.gridDbscan(pts, r, minPts)
    }
  }

  val all: Seq[Q] = Seq(q50GraphDegree, q51GraphComponents, q78PageRank,
    q84Triangles, q85ShortestPath, q114KCore, q138ClusteringCoeff,
    q186WlRefinement, q209Hits, q231Assortativity, q239HarmonicCloseness, q259DiameterSweep,
    q277GridDbscan)
}
