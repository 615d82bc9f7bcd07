package graft.queries

import graft.{Q, Tables}
import graft.ops.{LongKeyJoin, Text, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the correctness baseline, a bucketed
  * (IVF-style) variant as the scale path, and embedding-cosine near-dup
  * pairs.
  *
  * Scale stance: the brute-force query broadcasts the (small) query set
  * against the candidate corpus — linear in corpus size, the right
  * baseline shape. The bucketed variant adds an equi-key (the coarse
  * partition) to the join so each probe touches one bucket, which is
  * exactly IVF: at 100 TB the bucket id comes from a trained coarse
  * quantizer; here the provided `label` column plays that role.
  */
object Embeddings {

  /** DuckDB-side dot product matching [[Vectors.dot]] bit-for-bit:
    * cast-to-double products, strict left fold. */
  private def duckDot(a: String, b: String, dim: Int): String =
    s"list_reduce([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, ${dim + 1})], (x, y) -> x + y)"
  private def duckCos(a: String, b: String, dim: Int = 64): String =
    s"${duckDot(a, b, dim)} / (sqrt(${duckDot(a, a, dim)}) * sqrt(${duckDot(b, b, dim)}))"

  /** The embeddings table, read as is: no layout step. The fixtures ship
    * it as one parquet row group (one task per scan); spreading is
    * decided at the call sites that measured a win from it. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** [[emb]] hash-spread on `vec_id` over the session's cores: the
    * explicit layout step of the queries whose per-row vector kernels
    * measured a warm win from leaving the single scan task. */
  private def spreadEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  // ---------------------------------------------------------------- q30
  /** Brute-force cosine top-5 neighbors for each query vector
    * (vec_id < 20): the exact-ANN baseline. */
  val q30CosineTopK: Q = Q.sql(
    "q30_cosine_topk",
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
       |), p AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${duckCos("qe", "embedding")} AS cosine
       |  FROM qs, embeddings
       |  WHERE vec_id <> query_id
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM p)
       |WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(qs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
  }

  // ---------------------------------------------------------------- q31
  /** Bucketed (IVF-style) ANN: probes search only their own coarse bucket
    * (`label` = the coarse quantizer cell), top-3 per query. The join is
    * equi on the bucket — per-probe cost is bucket-sized, not
    * corpus-sized. */
  val q31BucketedAnn: Q = Q.sql(
    "q31_bucketed_ann",
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, label, embedding AS qe
       |  FROM embeddings WHERE vec_id < 50
       |), p AS (
       |  SELECT query_id, e.vec_id AS neighbor_id,
       |    ${duckCos("qe", "e.embedding")} AS cosine
       |  FROM qs JOIN embeddings e
       |    ON qs.label = e.label AND e.vec_id <> qs.query_id
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM p)
       |WHERE rn <= 3""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("label"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("label"), col("embedding"))
      .join(broadcast(qs), Seq("label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
  }

  // ---------------------------------------------------------------- q32
  /** Embedding-cosine near-dup pairs, candidates through the q33
    * hyperplane buckets: a pair is considered only when it shares BOTH
    * the coarse cell (`label`) and the 8-plane LSH bucket, then verified
    * with exact cosine ≥ 0.2 (this synthetic corpus' pairwise cosines
    * top out near 0.5, so the verify threshold sits below it; trained
    * embeddings would use 0.9+). This is the honest 100 TB shape — an
    * equi-join on (label, bucket), never all-pairs within a cell; like
    * any vector-LSH dedup it trades recall for that (the oracle mirrors
    * the same algorithm; q30 remains the exact brute-force baseline). */
  val q32EmbeddingNearDup: Q = Q.sql(
    "q32_embedding_neardup",
    s"""WITH bk AS (
       |  SELECT vec_id, label, embedding,
       |    ${(0 until 8).map(j =>
              s"(CASE WHEN ${duckPlaneDot(j)} > 0 THEN ${1 << j} ELSE 0 END)")
              .mkString(" + ")} AS bucket
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${duckCos("a.embedding", "b.embedding")} AS cosine
       |FROM bk a JOIN bk b
       |  ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.2""".stripMargin) { (s, dir) =>
    val e = emb(s, dir).withColumn("bucket", hyperplaneBucket)
    val cosine = Vectors.cosine(col("a.embedding"), col("b.embedding"))
    e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(cosine >= 0.2)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine.as("cosine"))
  }

  // ---------------------------------------------------------------- q33
  /** Random-hyperplane LSH (SimHash-for-vectors): 8 deterministic ±1
    * hyperplanes (signs derived from md5(j:d), so both engines construct
    * the identical "random" planes), each vector bucketed by the sign
    * pattern of its 8 projections. Same-bucket vectors are ANN candidates
    * — the equi-join scale path when no coarse quantizer exists. */
  private def planeSign(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$j:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ((Character.digit(hex.charAt(0), 16) % 2) == 1) 1.0 else -1.0
  }

  private def duckPlaneDot(j: Int): String =
    s"""list_reduce([CAST(embedding[d + 1] AS DOUBLE) *
       |      (CASE WHEN (strpos('0123456789abcdef', substr(md5($j || ':' || d), 1, 1)) - 1) % 2 = 1
       |            THEN 1.0 ELSE -1.0 END)
       |      for d in range(0, 64)], (x, y) -> x + y)""".stripMargin

  /** The 8-plane sign-pattern bucket, shared by q33 (the bucketing
    * query) and q32 (candidate generation). */
  private def hyperplaneBucket: org.apache.spark.sql.Column =
    (0 until 8).map { j =>
      val signs = array((0 until 64).map(d => lit(planeSign(j, d))): _*)
      when(Vectors.dot(col("embedding"), signs) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  val q33HyperplaneLsh: Q = Q.sql(
    "q33_hyperplane_lsh",
    s"""SELECT vec_id,
       |  CAST(${(0 until 8).map(j =>
              s"(CASE WHEN ${duckPlaneDot(j)} > 0 THEN ${1 << j} ELSE 0 END)")
              .mkString(" + ")} AS BIGINT) AS bucket
       |FROM embeddings""".stripMargin) { (s, dir) =>
    emb(s, dir).select(col("vec_id"), hyperplaneBucket.as("bucket"))
  }

  // ---------------------------------------------------------------- q92
  /** DuckDB-side integer dot over the quantized vectors, cast to DOUBLE
    * for the cosine — integer sums are exact in any width, so only the
    * final division needs float care. */
  private def duckIntDot(a: String, b: String): String =
    s"CAST(list_reduce([CAST($a[i] AS BIGINT) * $b[i] for i in range(1, 65)], (x, y) -> x + y) AS DOUBLE)"

  /** Int8 scalar quantization + quantized top-k: per-vector symmetric
    * max-abs scale, `q_i = floor(127 * x_i / s + 0.5)` (floor(+0.5) rather
    * than round() so both engines share one deterministic rounding rule),
    * then brute-force top-5 by INTEGER-dot cosine over the quantized
    * corpus — the FAISS-SQ8 shape. At 100 TB this is the memory/IO story
    * for ANN: int8 vectors are 4× smaller than float32, scans are integer
    * SIMD, and the quantization itself is one codegen'd projection (no
    * UDF, no shuffle). The query set broadcasts exactly like q30; the
    * corpus-side work is a linear scan of the (4× smaller) quantized
    * column. Zero-vectors quantize to zeros rather than dividing by zero.
    */
  val q92QuantizedAnn: Q = Q.sql(
    "q92_quantized_ann",
    s"""WITH qv AS (
       |  SELECT vec_id,
       |    list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) AS s,
       |    embedding
       |  FROM embeddings
       |), qi AS (
       |  SELECT vec_id,
       |    CASE WHEN s = 0 THEN [0 for x in embedding]
       |         ELSE [CAST(floor(127.0 * CAST(x AS DOUBLE) / s + 0.5) AS INT)
       |               for x in embedding]
       |    END AS q
       |  FROM qv
       |), qs AS (
       |  SELECT vec_id AS query_id, q AS qa FROM qi WHERE vec_id < 20
       |), p AS (
       |  SELECT query_id, qi.vec_id AS neighbor_id,
       |    ${duckIntDot("qa", "qi.q")}
       |      / (sqrt(${duckIntDot("qa", "qa")}) * sqrt(${duckIntDot("qi.q", "qi.q")})) AS qcos
       |  FROM qs, qi
       |  WHERE qi.vec_id <> query_id
       |)
       |SELECT query_id, neighbor_id, qcos, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY qcos DESC, neighbor_id) AS rn FROM p)
       |WHERE rn <= 5""".stripMargin) { (s, dir) =>
    val scale = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    // fused codegen'd integer dot (exact long sum — bit-identical to the
    // HOF spelling it replaced, which lives on in IntDotProduct's scaladoc)
    def intDot(a: Column, b: Column): Column =
      graft.functions.VectorExprs.intDot(a, b).cast("double")
    val quant = spreadEmb(s, dir).select(col("vec_id"),
      when(scale === 0.0, transform(col("embedding"), _ => lit(0)))
        .otherwise(transform(col("embedding"),
          x => floor(lit(127.0) * x.cast("double") / scale + lit(0.5)).cast("int")))
        .as("q"))
    val qs = quant.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    quant.select(col("vec_id").as("neighbor_id"), col("q"))
      .crossJoin(broadcast(qs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (intDot(col("qa"), col("q")) /
          (sqrt(intDot(col("qa"), col("qa"))) * sqrt(intDot(col("q"), col("q")))))
          .as("qcos"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
  }

  // ---------------------------------------------------------------- q95
  /** ANN recall harness: recall@5 of the bucketed (IVF-style, q31) search
    * against the exact brute-force top-5 (q30), per query — the
    * evaluation loop every approximate index needs before it's trusted at
    * scale. The measured ~0.13 average on this synthetic table is the
    * honest readout that `label` is a weak coarse quantizer for these
    * embeddings; the harness exists precisely to expose that before a
    * 100 TB build does. Both sides are 20-query broadcasts; the recall
    * join is a per-query left join + count. */
  val q95AnnRecall: Q = Q.sql(
    "q95_ann_recall",
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, label, embedding AS qe
       |  FROM embeddings WHERE vec_id < 20
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
       |  WHERE rn <= 5
       |), approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM qs JOIN embeddings e
       |      ON qs.label = e.label AND e.vec_id <> qs.query_id)
       |  WHERE rn <= 5
       |)
       |SELECT exact.query_id,
       |  CAST(count(approx.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(count(approx.neighbor_id) AS DOUBLE) / 5 AS recall
       |FROM exact LEFT JOIN approx USING (query_id, neighbor_id)
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    def top5(cand: DataFrame): DataFrame = cand
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val exact = top5(e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(qs)))
    val approx = top5(e.select(col("vec_id").as("neighbor_id"), col("label"),
      col("embedding")).join(broadcast(qs), Seq("label")))
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        (count(col("hit")).cast("double") / 5).as("recall"))
  }

  // ---------------------------------------------------------------- q95b
  /** Trained-IVF recall harness: the q95 evaluation loop re-run with a
    * coarse quantizer the engine TRAINS instead of the provided `label`
    * column — k=8 centroids, 2 deterministic Lloyd iterations, nprobe=2
    * multi-probe search, recall@5 against the exact top-5. Measured on
    * this corpus: recall ≈0.59 at ≈25% scanned vs the label quantizer's
    * ≈0.13 at ≈10% (q95) — ~1.8× better-than-random per scanned row on
    * near-uniform synthetic vectors (trained embeddings cluster far
    * harder and widen that gap).
    *
    * Scale shape (the FAISS-IVF training loop, declaratively): centroids
    * live in an 8-row frame, never on the driver — each Lloyd iteration
    * is (a) a broadcast of the packed centroid array against the corpus
    * with a map-side fold-argmin assignment, and (b) one (cell, dim)
    * partial-agg shuffle for the means. Zero `.collect()`: the "model
    * state" round-trips as a 1-row broadcast. Probe-time cost is
    * nprobe/k of the corpus per query, reached through an equi-join on
    * the trained cell id.
    *
    * Determinism (both engines bit-identical): seeds are rows
    * `vec_id = 7j`; distances are strict left-fold `(x-c)*(x-c)` sums in
    * DOUBLE (no `pow`, which engines may round differently); argmin ties
    * break to the lowest cell id; means accumulate in DECIMAL(28,10)
    * (order-independent) and divide as DOUBLE. An empty cell simply
    * drops out of the centroid frame on both sides (can't happen on this
    * data: min cell size 53). */
  // ------------------------------------ shared trained-IVF machinery
  /** Coarse-quantizer constants shared by q95b (recall harness) and
    * q111 (SemDeDup): 8 cells, 2 Lloyd iterations, deterministic
    * `vec_id = 7j` seed rows. */
  /** Cells and probes — chosen from the [[graft.tools.IvfSweep]] recall/
    * cost frontier recorded on [[q95bIvfRecall]]: at the same 25% scan
    * budget, (k=16, nprobe=4) matches or beats the round-5 (8, 2)
    * default at both measured scales, and finer cells are the shape that
    * scales (k grows with the corpus so n/k stays bounded — the same
    * discipline q111's SemDeDup documents). */
  private val IvfK = 16
  private val IvfIters = 2
  private val IvfNProbe = 4

  /** l2² distance from embeddings col `e` to centroid list col `c`. */
  private def duckL2(e: String, c: String): String =
    s"""list_reduce([(CAST($e[i] AS DOUBLE) - $c[i]) * (CAST($e[i] AS DOUBLE) - $c[i])
       |      for i in range(1, 65)], (x, y) -> x + y)""".stripMargin

  // one Lloyd step: assign under `cin` -> per-(cell,dim) decimal means -> `cout`
  private def duckIvfStep(t: Int, cin: String, cout: String): String =
    s""",
       |dd$t AS (
       |  SELECT e.vec_id, c.j, ${duckL2("e.embedding", "c.c")} AS d2
       |  FROM embeddings e CROSS JOIN $cin c
       |),
       |a$t AS MATERIALIZED (
       |  SELECT vec_id, j FROM (
       |    SELECT vec_id, j,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
       |    FROM dd$t)
       |  WHERE rn = 1
       |),
       |$cout AS MATERIALIZED (
       |  SELECT j, list(m ORDER BY dim) AS c FROM (
       |    SELECT a.j, r.d AS dim,
       |      CAST(SUM(CAST(CAST(e.embedding[r.d] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |        / COUNT(*) AS m
       |    FROM a$t a JOIN embeddings e USING (vec_id), UNNEST(range(1, 65)) r(d)
       |    GROUP BY a.j, r.d)
       |  GROUP BY j
       |)""".stripMargin

  /** The `WITH c0 … af` CTE chain both IVF queries open with: trains
    * the quantizer and assigns the corpus. `af` = (vec_id, j); the
    * final centroids are `c$IvfIters`. */
  private def duckIvfCtes: String = {
    val steps =
      (1 to IvfIters).map(t => duckIvfStep(t, s"c${t - 1}", s"c$t")).mkString
    val fin = IvfIters + 1
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT vec_id // 7 AS j, [CAST(x AS DOUBLE) for x in embedding] AS c
       |  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < ${7 * IvfK}
       |)$steps,
       |dd$fin AS (
       |  SELECT e.vec_id, c.j, ${duckL2("e.embedding", "c.c")} AS d2
       |  FROM embeddings e CROSS JOIN c$IvfIters c
       |),
       |af AS MATERIALIZED (
       |  SELECT vec_id, j FROM (
       |    SELECT vec_id, j,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
       |    FROM dd$fin)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  private def l2sq(x: Column, c: Column): Column =
    Vectors.foldSum(zip_with(x, c,
      (xi, ci) => (xi.cast("double") - ci) * (xi.cast("double") - ci)))

  /** Map-side fold-argmin assignment of `e` under centroid frame
    * `cents` — the packed 8-row centroid array broadcasts; no collect. */
  private def assignUnder(e: DataFrame, cents: DataFrame): DataFrame = {
    val packed =
      cents.agg(sort_array(collect_list(struct(col("j"), col("c")))).as("cs"))
    e.crossJoin(broadcast(packed))
      .withColumn("dists",
        transform(col("cs"), s => l2sq(col("embedding"), s.getField("c"))))
      .select(col("vec_id"), col("embedding"),
        element_at(col("cs"),
          array_position(col("dists"), array_min(col("dists"))).cast("int"))
          .getField("j").as("j"))
  }

  /** Trained centroid frame (j, c) after [[IvfIters]] Lloyd steps,
    * memoized per (session, sf dir). */
  /** [[IvfIters]] Lloyd steps from the deterministic `vec_id % 7` seed —
    * parameterized on k so the sweep harness ([[ivfSweepPoint]]) can
    * train alternative quantizers; the gate uses k = [[IvfK]]. */
  private def lloyd(e: DataFrame, k: Int): DataFrame = {
    val c0 = e.filter(col("vec_id") % 7 === 0 && col("vec_id") < 7 * k)
      .select((col("vec_id") / 7).cast("int").as("j"),
        transform(col("embedding"), _.cast("double")).as("c"))
    (1 to IvfIters).foldLeft(c0) { (cents, _) =>
      assignUnder(e, cents)
        .select(col("j"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("j"), col("dim"))
        .agg((sum(col("v").cast("double").cast("decimal(28,10)")).cast("double")
          / count(lit(1))).as("m"))
        .groupBy(col("j"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("c"))
    }
  }

  private def trainedIvf(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#ivf-centroids") {
      val trained = lloyd(emb(s, dir), IvfK).cache()
      trained.count()
      trained
    }

  /** Corpus assignment (vec_id, embedding, j) under the trained
    * quantizer — the shared read path of q95b's probe and q111's
    * within-cell dedup, built once per session. */
  private def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#ivf-assign") {
      val af = assignUnder(emb(s, dir), trainedIvf(s, dir)).cache()
      af.count()
      af
    }

  /** The query side of the probe: nearest [[IvfNProbe]] cells per query
    * under the trained quantizer — shared by the gate query and the
    * sweep harness. */
  private def probedCells(qs: DataFrame, trained: DataFrame,
      nprobe: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("j"))
    qs.crossJoin(broadcast(trained))
      .select(col("query_id"), col("qe"), col("j"),
        l2sq(col("qe"), col("c")).as("d2"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qe"), col("j"))
  }

  private def queries20(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  /** Per-query recall@5 of the probed scan vs the exact scan. */
  private def ivfRecallFrame(e: DataFrame, trained: DataFrame,
      af: DataFrame, nprobe: Int): DataFrame = {
    val qs = queries20(e)
    val qc = probedCells(qs, trained, nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    def top5(cand: DataFrame): DataFrame = cand
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = top5(af.select(col("vec_id").as("neighbor_id"), col("j"),
      col("embedding")).join(broadcast(qc), Seq("j")))
    val exact = top5(e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(qs)))
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).as("n_hits"),
        (count(col("hit")).cast("double") / 5).as("recall"))
  }

  /** One (k, nprobe) point of the recall/cost frontier: mean recall@5
    * over the 20 gate queries and the mean fraction of the corpus each
    * probe actually scans. Called by [[graft.tools.IvfSweep]]; the gate
    * constants [[IvfK]]/[[IvfNProbe]] are chosen from its recorded
    * output (see [[q95bIvfRecall]]'s scaladoc table). */
  private[graft] def ivfSweepPoint(s: SparkSession, dir: String,
      k: Int, nprobe: Int): (Double, Double) = {
    val e = emb(s, dir)
    val trained = lloyd(e, k)
    val af = assignUnder(e, trained)
    val recall = ivfRecallFrame(e, trained, af, nprobe)
      .agg(avg(col("recall"))).head().getDouble(0)
    val corpusN = e.count().toDouble
    val scanned = probedCells(queries20(e), trained, nprobe)
      .join(af.select(col("j")), Seq("j"))
      .count().toDouble / 20.0 / corpusN
    (recall, scanned)
  }

  /** Trained-IVF ANN recall harness. Recall/cost frontier measured by
    * [[graft.tools.IvfSweep]] (mean recall@5 over the 20 gate queries;
    * scan = fraction of corpus touched per query; sf0.01 = 500 vecs,
    * sf0.1 = 2,000 vecs):
    *
    * {{{
    * k  nprobe   sf0.01 recall/scan   sf0.1 recall/scan
    * 8    1        0.45 / 0.13          0.37 / 0.13
    * 8    2        0.59 / 0.25          0.55 / 0.25     (round-5 default)
    * 8    4        0.77 / 0.50          0.81 / 0.50
    * 16   2        0.40 / 0.13          0.42 / 0.12
    * 16   4        0.59 / 0.26          0.57 / 0.25     (round-6 default)
    * 32   4        0.50 / 0.14          0.39 / 0.13
    * any  k        1.00 / 1.00          1.00 / 1.00     (= exact scan)
    * }}}
    *
    * Reading: on these near-uniform synthetic embeddings recall tracks
    * the scanned fraction almost linearly — there is no cluster
    * structure for the quantizer to exploit — so the frontier is flat
    * across k at matched scan. (16, 4) is picked over (8, 2) at the
    * same 25% scan budget because finer cells are the 100 TB shape:
    * k scales with the corpus so the per-cell population (and thus both
    * probe cost and q111's within-cell pair scan) stays bounded. On a
    * real embedding distribution the sweep, not the default, is the
    * decision procedure — rerun it per corpus. */
  val q95bIvfRecall: Q = {
    val NProbe = IvfNProbe
    Q.sql(
      "q95b_ivf_recall",
      s"""$duckIvfCtes,
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
         |),
         |qc AS (
         |  SELECT query_id, qe, j FROM (
         |    SELECT query_id, qe, c.j,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY ${duckL2("qe", "c.c")}, c.j) AS rn
         |    FROM qs CROSS JOIN c$IvfIters c)
         |  WHERE rn <= $NProbe
         |),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, e.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM qc JOIN af ON qc.j = af.j
         |    JOIN embeddings e ON af.vec_id = e.vec_id
         |    WHERE e.vec_id <> query_id)
         |  WHERE rn <= 5
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, e.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
         |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
         |  WHERE rn <= 5
         |)
         |SELECT exact.query_id,
         |  CAST(count(approx.neighbor_id) AS BIGINT) AS n_hits,
         |  CAST(count(approx.neighbor_id) AS DOUBLE) / 5 AS recall
         |FROM exact LEFT JOIN approx USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin,
      "trained-IVF (k-means + multi-probe) recall@5 vs exact top-5") {
      (s, dir) =>
        ivfRecallFrame(emb(s, dir), trainedIvf(s, dir), ivfAssigned(s, dir),
          NProbe)
    }
  }

  // ---------------------------------------------------------------- q111
  /** SemDeDup (Abbas et al. '23): semantic deduplication inside the
    * cells of a trained coarse quantizer — k-means clusters the corpus
    * (the SAME trained quantizer q95b evaluates, shared via the session
    * cache), pairwise cosine runs only WITHIN a cell, and any vector
    * with cosine ≥ 0.2 to a lower-id cellmate is dropped (keep-lowest
    * tie-break; 0.2 is q32's near-dup bar on these near-uniform
    * synthetic vectors). Complements the lexical dedup family: MinHash
    * (q25) catches token overlap, this catches embedding-space
    * duplicates that share no tokens.
    *
    * Scale shape: the quadratic is strictly per-cell — SemDeDup scales
    * k WITH the corpus precisely so cell populations stay bounded
    * (n/k ≈ const), making the within-cell pair scan linear in corpus
    * size overall. The cell equi-join is the only pair shuffle; the
    * training loop is q95b's broadcast/partial-agg machinery. */
  val q111SemanticDedup: Q = Q.sql(
    "q111_semantic_dedup",
    s"""$duckIvfCtes,
       |dup AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM af a JOIN af b ON a.j = b.j AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE ${duckCos("ea.embedding", "eb.embedding")} >= 0.2
       |)
       |SELECT af.vec_id, CAST(af.j AS BIGINT) AS cell,
       |  d.vec_id IS NULL AS kept
       |FROM af LEFT JOIN dup d ON af.vec_id = d.vec_id""".stripMargin,
    "SemDeDup: within-cell pairwise cosine dedup under the trained k-means quantizer") {
    (s, dir) =>
      val af = ivfAssigned(s, dir)
      val cosine = Vectors.cosine(col("a.embedding"), col("b.embedding"))
      val dups = af.as("a")
        .join(af.as("b"),
          col("a.j") === col("b.j") && col("a.vec_id") < col("b.vec_id"))
        .filter(cosine >= 0.2)
        .select(col("b.vec_id").as("vec_id"))
        .distinct()
      af.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("j").cast("long").as("cell"),
          col("dup").isNull.as("kept"))
  }

  // ---------------------------------------------------------------- q35
  /** Per-label centroids — the k-means update step at scale: posexplode
    * to (label, dim) cells, exact decimal-accumulated means, one shuffle
    * on (label, dim). Output exploded (no array compare needed). */
  val q35LabelCentroids: Q = Q.sql(
    "q35_label_centroids",
    """SELECT CAST(label AS BIGINT) AS label, CAST(d - 1 AS BIGINT) AS dim,
      |  CAST(SUM(CAST(CAST(embedding[d] AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS centroid,
      |  COUNT(*) AS n
      |FROM embeddings, UNNEST(range(1, 65)) r(d)
      |GROUP BY label, d""".stripMargin) { (s, dir) =>
    emb(s, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(
        (sum(col("v").cast("double").cast("decimal(20,8)")).cast("double") / count(lit(1)))
          .as("centroid"),
        count(lit(1)).as("n"))
  }

  // ---------------------------------------------------------------- q104
  /** Dedup-aware retrieval — the serving-side reason the dedup family
    * exists: top-5 cosine neighbors (q30's exact scan) served ONLY from
    * near-dup cluster representatives (q29's LSH clustering), so a
    * query can never surface the same underlying document twice under
    * different ids. Queries themselves are not filtered — a duplicated
    * query still retrieves, and its cluster collapses to one hit.
    * Scale shape: the representative cut is one equi semi-join on the
    * corpus id before the broadcast query scan — the q30 plan plus a
    * filter, nothing quadratic; the clustering itself is the shared
    * q29 machinery (bucketed LSH candidates → verified pairs → GraphX
    * components). */
  val q104DedupRetrieval: Q = Q.sql(
    "q104_dedup_retrieval",
    s"""WITH RECURSIVE ${TextPipeline.clustersSql},
       |reps AS (SELECT doc_id FROM comp WHERE cluster_id = doc_id),
       |qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
       |), clean AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN reps r ON r.doc_id = e.vec_id
       |), p AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |    ${duckCos("qe", "embedding")} AS cosine
       |  FROM qs, clean
       |  WHERE vec_id <> query_id
       |)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM p)
       |WHERE rn <= 5""".stripMargin,
    "top-5 cosine retrieval served only from dedup-cluster representatives (q30 x q29)") {
    (s, dir) =>
      val reps = TextPipeline.dedupClusters(s, dir)
        .filter(col("cluster_id") === col("doc_id"))
        .select(col("doc_id"))
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      e.join(reps, col("vec_id") === col("doc_id"), "left_semi")
        .select(col("vec_id").as("neighbor_id"), col("embedding"))
        .crossJoin(broadcast(qs))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
  }

  // ---------------------------------------------------------------- q122
  /** Product-quantization constants: 4 subspaces x 16 dims (= the 64-dim
    * vectors), 8 codes per subspace codebook — 12 bits per vector vs
    * 64 x 4 bytes raw, the PQ compression trade (Jegou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). */
  private val PqM = 4
  private val PqSub = 16
  private val PqK = 8

  private def subspace(e: DataFrame, m: Int): DataFrame =
    e.select(col("vec_id"),
      slice(col("embedding"), m * PqSub + 1, PqSub).as("embedding"))

  /** Per-subspace trained codebooks (m, j, c): [[lloyd]] run on each
    * 16-dim slice with the same deterministic seeds and 2 iterations as
    * the q95b coarse quantizer, memoized per (session, sf dir). */
  private def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#pq-codebooks") {
      val e = emb(s, dir)
      val cb = (0 until PqM)
        .map(m => lloyd(subspace(e, m), PqK).withColumn("m", lit(m)))
        .reduce(_ unionByName _).cache()
      cb.count()
      cb
    }

  /** Corpus PQ codes, WIDE (vec_id, code0..code3) in ONE map-side pass:
    * all four packed codebooks ride a single 1-row broadcast and each
    * row fold-argmins its four slices — the encode step is zero-shuffle
    * at any corpus size. */
  private def pqCodesWide(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#pq-codes") {
      val packed = pqCodebooks(s, dir)
        .groupBy(col("m"))
        .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("cs"))
        .agg(sort_array(collect_list(struct(col("m"), col("cs")))).as("ms"))
      val cols = col("vec_id") +: (0 until PqM).map { m =>
        val cs = element_at(col("ms"), m + 1).getField("cs")
        val sub = slice(col("embedding"), m * PqSub + 1, PqSub)
        val dists = transform(cs, s2 => l2sq(sub, s2.getField("c")))
        element_at(cs, array_position(dists, array_min(dists))
          .cast("int")).getField("j").as(s"code$m")
      }
      val codes = emb(s, dir).crossJoin(broadcast(packed))
        .select(col("vec_id"), col("embedding"), col("ms"))
        .select(cols: _*)
        .cache()
      codes.count()
      codes
    }

  /** Sub-range l2² fold: dims off+1 .. off+16 of list `e` against the
    * 16-long centroid list `c` — [[duckL2]] on a slice. */
  private def duckL2Sub(e: String, c: String, off: Int): String =
    s"""list_reduce([(CAST($e[$off + i] AS DOUBLE) - $c[i]) * (CAST($e[$off + i] AS DOUBLE) - $c[i])
       |      for i in range(1, ${PqSub + 1})], (x, y) -> x + y)""".stripMargin

  /** One Lloyd step on subspace `m` (duckIvfStep on a 16-dim slice). */
  private def duckPqStep(m: Int, t: Int, cin: String, cout: String): String = {
    val off = m * PqSub
    s""",
       |pd${m}_$t AS (
       |  SELECT e.vec_id, c.j, ${duckL2Sub("e.embedding", "c.c", off)} AS d2
       |  FROM embeddings e CROSS JOIN $cin c
       |),
       |pa${m}_$t AS MATERIALIZED (
       |  SELECT vec_id, j FROM (
       |    SELECT vec_id, j,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
       |    FROM pd${m}_$t)
       |  WHERE rn = 1
       |),
       |$cout AS MATERIALIZED (
       |  SELECT j, list(mu ORDER BY dim) AS c FROM (
       |    SELECT a.j, r.d AS dim,
       |      CAST(SUM(CAST(CAST(e.embedding[$off + r.d] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
       |        / COUNT(*) AS mu
       |    FROM pa${m}_$t a JOIN embeddings e USING (vec_id), UNNEST(range(1, ${PqSub + 1})) r(d)
       |    GROUP BY a.j, r.d)
       |  GROUP BY j
       |)""".stripMargin
  }

  /** Trains all four subspace codebooks (pc{m}_2) and assigns the corpus
    * codes (pf{m}) — the DuckDB twin of [[pqCodebooks]]/[[pqCodesWide]]. */
  /** The codebook-training + code-assignment CTEs WITHOUT the leading
    * WITH, so q125 can append them to [[duckIvfCtes]]'s chain. */
  private def duckPqBody: String = {
    val blocks = (0 until PqM).map { m =>
      val off = m * PqSub
      val c0 =
        s"""pc${m}_0 AS MATERIALIZED (
           |  SELECT vec_id // 7 AS j,
           |    [CAST(embedding[$off + i] AS DOUBLE) for i in range(1, ${PqSub + 1})] AS c
           |  FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < ${7 * PqK}
           |)""".stripMargin
      val steps = (1 to IvfIters)
        .map(t => duckPqStep(m, t, s"pc${m}_${t - 1}", s"pc${m}_$t")).mkString
      val fin =
        s""",
           |pdf$m AS (
           |  SELECT e.vec_id, c.j,
           |    ${duckL2Sub("e.embedding", "c.c", off)} AS d2
           |  FROM embeddings e CROSS JOIN pc${m}_$IvfIters c
           |),
           |pf$m AS MATERIALIZED (
           |  SELECT vec_id, j AS code FROM (
           |    SELECT vec_id, j,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
           |    FROM pdf$m)
           |  WHERE rn = 1
           |)""".stripMargin
      c0 + steps + fin
    }
    blocks.mkString(",\n")
  }

  private def duckPqCtes: String = "WITH " + duckPqBody

  /** PQ + asymmetric-distance (ADC) top-k: the corpus is searched
    * through its 12-bit PQ codes — per query, the distance to a data
    * vector is the sum over subspaces of the exact query-slice-to-
    * assigned-centroid l2², looked up from a per-query table (Jegou '11
    * §IV.A "ADC") — with the exact 64-dim l2 top-5 alongside as an
    * `in_exact` hit flag, q95b's honest-recall discipline.
    *
    * Scale shape (the FAISS-PQ serving plan, declaratively): training
    * touches seeds + two Lloyd passes (q95b's broadcast/partial-agg
    * machinery, here x4 on 16-dim slices); ENCODE is one map-side pass
    * under a 1-row broadcast of all packed codebooks (zero shuffle, any
    * corpus size); SEARCH joins the codes against four broadcast
    * 20x8-row lookup tables and ranks map-side — the only shuffle in
    * the whole probe is the 20-partition top-5 window, which
    * WindowGroupLimit prunes before it moves. The scan is linear but
    * over 12-bit codes instead of 256-byte vectors — PQ's memory
    * bandwidth trade; compose with q95b's IVF cells for sublinearity
    * (IVFADC).
    *
    * Determinism: sub-distance folds are strict left folds in DOUBLE
    * (the q95b rules); the 4-way ADC sum runs in DECIMAL(28,10) in a
    * FIXED expression order on the Spark side and as an exact decimal
    * SUM in DuckDB — decimal addition is exact, so spelling order
    * can't diverge; all argmin/rank ties break to the lowest id.
    *
    * Measured recall@5 vs exact l2 (mean over the 20 gate queries, from
    * the gated `in_exact` column): 0.17 at sf0.01 (500 vecs), 0.04 at
    * sf0.1 (2,000 vecs). These near-uniform synthetic vectors are the
    * worst case for PQ — 12 bits of code on 64 structureless dims
    * retain little ordering — and the honest flag is the point: on a
    * real clustered embedding table the same gate measures the real
    * trade, and M/PqK are the knobs the measurement tunes (more bits
    * -> higher recall, linearly more bandwidth). */
  val q122PqAdcTopK: Q = {
    val lutUnion = (0 until PqM).map { m =>
      s"""SELECT query_id, $m AS m, c.j AS code,
         |    ${duckL2Sub("qe", "c.c", m * PqSub)} AS d2
         |  FROM qs CROSS JOIN pc${m}_$IvfIters c""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val cdUnion = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, code FROM pf$m")
      .mkString(" UNION ALL ")
    Q.sql(
      "q122_pq_adc_topk",
      s"""$duckPqCtes,
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
         |),
         |lut AS (
         |  $lutUnion
         |),
         |cd AS ($cdUnion),
         |adc AS (
         |  SELECT l.query_id, cd.vec_id AS neighbor_id,
         |    CAST(SUM(CAST(l.d2 AS DECIMAL(28,10))) AS DOUBLE) AS adc_d2
         |  FROM cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
         |  WHERE cd.vec_id <> l.query_id
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT query_id, neighbor_id, adc_d2, CAST(rn AS BIGINT) AS rn FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_d2, neighbor_id) AS rn FROM adc)
         |  WHERE rn <= 5
         |),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, e.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ${duckL2("qe", "e.embedding")}, e.vec_id) AS rn
         |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
         |  WHERE rn <= 5
         |)
         |SELECT t.query_id, t.neighbor_id, t.adc_d2, t.rn,
         |  ex.neighbor_id IS NOT NULL AS in_exact
         |FROM top t LEFT JOIN ex USING (query_id, neighbor_id)""".stripMargin,
      "product quantization: 4x16-dim trained codebooks, ADC top-5 vs exact l2") {
      (s, dir) =>
        val e = emb(s, dir)
        val qs = queries20(e)
        val joined = adcLuts(pqCodebooks(s, dir), qs).zipWithIndex
          .foldLeft(pqCodesWide(s, dir)) {
            case (acc, (lut, m)) =>
              val keys =
                if (m == 0) Seq(s"code$m") else Seq("query_id", s"code$m")
              acc.join(broadcast(lut), keys)
          }
        adcFinish(e, qs, joined)
    }
  }

  /** Per-subspace ADC lookup tables: 20 queries x 8 codes each, built
    * to broadcast against the code scan. Partial distances are cast to
    * DECIMAL(28,10) here so the downstream 4-way sum is exact. */
  private def adcLuts(cb: DataFrame, qs: DataFrame): Seq[DataFrame] =
    (0 until PqM).map { m =>
      qs.select(col("query_id"),
          slice(col("qe"), m * PqSub + 1, PqSub).as("qsub"))
        .join(cb.filter(col("m") === m), lit(true))
        .select(col("query_id"), col("j").as(s"code$m"),
          l2sq(col("qsub"), col("c")).cast("decimal(28,10)").as(s"d2_$m"))
    }

  /** Shared ADC tail of q122/q125: fixed-order decimal 4-way sum,
    * per-query top-5, and the exact-l2 `in_exact` hit flag. */
  private def adcFinish(e: DataFrame, qs: DataFrame,
      joined: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2"), col("neighbor_id"))
    val adcTop = joined
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((col("d2_0") + col("d2_1")) + (col("d2_2") + col("d2_3")))
          .cast("double").as("adc_d2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("l2_d2"), col("neighbor_id"))
    val exact = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(qs))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2sq(col("qe"), col("embedding")).as("l2_d2"))
      .withColumn("rn", row_number().over(we))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"))
    adcTop.join(broadcast(exact.withColumn("hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"),
        col("rn"), col("hit").isNotNull.as("in_exact"))
  }

  /** The serving index: every vector's trained-IVF cell alongside its
    * four PQ codes — FAISS's inverted-list layout as a frame, built once
    * per session (at scale this join IS the index write, amortized over
    * every query batch that probes it). */
  private def ivfPqIndex(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#ivfadc-index") {
      val idx = ivfAssigned(s, dir).select(col("vec_id"), col("j"))
        .join(pqCodesWide(s, dir), Seq("vec_id")).cache()
      idx.count()
      idx
    }

  // ---------------------------------------------------------------- q125
  /** IVFADC (Jegou '11 §V) — the composition the two trained structures
    * exist for: each query probes its [[IvfNProbe]] nearest trained-IVF
    * cells (q95b's quantizer) and ranks ONLY those cells' members, by
    * PQ asymmetric distance (q122's codebooks + lookup tables) instead
    * of raw vectors. Per query the scan touches nprobe/k of the corpus
    * AND reads 12-bit codes rather than 256-byte vectors — sublinear
    * candidates x compressed bandwidth, the FAISS serving default.
    * The exact 64-dim l2 top-5 rides along as `in_exact`, so the
    * recall cost of the two approximations stacked is visible in the
    * gated output itself (q95b's honesty discipline).
    *
    * Plan shape: the session-cached index frame (cell id + codes) is
    * filtered by a broadcast of the 80 probed (query, cell) pairs,
    * then the four broadcast LUT joins and the pushed top-5 window —
    * past the index build, no corpus shuffle at any scale.
    *
    * Measured recall@5 (mean over the 20 gate queries): 0.18 at sf0.01
    * / 0.03 at sf0.1 — within noise of q122's full-scan ADC (0.17 /
    * 0.04) while touching only nprobe/k = 25% of the corpus: once PQ
    * quantization noise dominates (uniform synthetic vectors, see
    * q122's scaladoc), the IVF cut is free recall-wise, which is
    * precisely the IVFADC bet. */
  val q125Ivfadc: Q = {
    val lutUnion = (0 until PqM).map { m =>
      s"""SELECT query_id, $m AS m, c.j AS code,
         |    ${duckL2Sub("qe", "c.c", m * PqSub)} AS d2
         |  FROM qs CROSS JOIN pc${m}_$IvfIters c""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val cdUnion = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, code FROM pf$m")
      .mkString(" UNION ALL ")
    Q.sql(
      "q125_ivfadc",
      s"""$duckIvfCtes,
         |$duckPqBody,
         |qs AS (
         |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20
         |),
         |qc AS (
         |  SELECT query_id, j FROM (
         |    SELECT query_id, c.j,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY ${duckL2("qe", "c.c")}, c.j) AS rn
         |    FROM qs CROSS JOIN c$IvfIters c)
         |  WHERE rn <= $IvfNProbe
         |),
         |lut AS (
         |  $lutUnion
         |),
         |cd AS ($cdUnion),
         |cand AS (
         |  SELECT qc.query_id, af.vec_id
         |  FROM qc JOIN af USING (j) WHERE af.vec_id <> qc.query_id
         |),
         |adc AS (
         |  SELECT c.query_id, c.vec_id AS neighbor_id,
         |    CAST(SUM(CAST(l.d2 AS DECIMAL(28,10))) AS DOUBLE) AS adc_d2
         |  FROM cand c
         |  JOIN cd ON cd.vec_id = c.vec_id
         |  JOIN lut l ON l.query_id = c.query_id
         |    AND l.m = cd.m AND l.code = cd.code
         |  GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT query_id, neighbor_id, adc_d2, CAST(rn AS BIGINT) AS rn FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_d2, neighbor_id) AS rn FROM adc)
         |  WHERE rn <= 5
         |),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, e.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ${duckL2("qe", "e.embedding")}, e.vec_id) AS rn
         |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
         |  WHERE rn <= 5
         |)
         |SELECT t.query_id, t.neighbor_id, t.adc_d2, t.rn,
         |  ex.neighbor_id IS NOT NULL AS in_exact
         |FROM top t LEFT JOIN ex USING (query_id, neighbor_id)""".stripMargin,
      "IVFADC: trained-IVF cell probe + PQ asymmetric-distance ranking (q95b x q122)") {
      (s, dir) =>
        val e = emb(s, dir)
        val qs = queries20(e)
        val qc = probedCells(qs, trainedIvf(s, dir), IvfNProbe)
          .select(col("query_id"), col("j"))
        val joined = adcLuts(pqCodebooks(s, dir), qs).zipWithIndex
          .foldLeft(ivfPqIndex(s, dir).join(broadcast(qc), Seq("j"))) {
            case (acc, (lut, m)) =>
              acc.join(broadcast(lut), Seq("query_id", s"code$m"))
          }
        adcFinish(e, qs, joined)
    }
  }

  // ---------------------------------------------------------------- q148
  /** Integer-quantized covariance (Gram) matrix of the embedding corpus —
    * the statistics pass of embedding whitening/PCA preprocessing. Exact
    * cross-engine: elements quantize to int8-range longs by
    * `floor(x·128)` (an exact power-of-two scale; corpus-order double
    * summation would never hash-match), so every accumulator is an exact
    * integer and the covariance is a fixed-order rational at the end.
    *
    * Scale shape: pair products materialize MAP-SIDE as one flattened
    * upper-triangle array per row (2080 structs for d=64) and partial-agg
    * straight into the 2080 (i,j) groups — the shuffle carries
    * O(partitions·d²) rows regardless of corpus size, there is NO
    * self-join and no row×row blow-up. (At 100 TB the same pass fits a
    * TypedImperativeAggregate holding the d(d+1)/2 longs — the CountMin
    * machinery — trading the 2080× row fan-out for sketch-style state;
    * the shuffle shape is identical.) Per-dim sums ride the same
    * exploded pass through a second tiny aggregate; n is a 1-row
    * broadcast. */
  val q148GramMatrix: Q = Q.sql(
    "q148_gram_matrix",
    """WITH q AS (
      |  SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT) for x in embedding] AS qv
      |  FROM embeddings
      |), pairs AS (
      |  SELECT i, j, SUM(qv[i + 1] * qv[j + 1]) AS s_ij
      |  FROM q, UNNEST(range(0, 64)) a(i), UNNEST(range(0, 64)) b(j)
      |  WHERE j >= i GROUP BY 1, 2
      |), dims AS (
      |  SELECT i, SUM(qv[i + 1]) AS s FROM q, UNNEST(range(0, 64)) a(i)
      |  GROUP BY 1
      |), nn AS (SELECT COUNT(*) AS n FROM embeddings)
      |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
      |  CAST(nn.n AS BIGINT) AS n,
      |  CAST(di.s AS BIGINT) AS s_i, CAST(dj.s AS BIGINT) AS s_j,
      |  CAST(p.s_ij AS BIGINT) AS s_ij,
      |  CAST(p.s_ij AS DOUBLE) / nn.n
      |    - (CAST(di.s AS DOUBLE) / nn.n) * (CAST(dj.s AS DOUBLE) / nn.n)
      |    AS cov
      |FROM pairs p
      |JOIN dims di ON di.i = p.i
      |JOIN dims dj ON dj.i = p.j
      |CROSS JOIN nn""".stripMargin,
    "integer-quantized covariance matrix for embedding whitening") {
    (s, dir) =>
      val d = 64
      val tri = d * (d + 1) / 2
      val q = emb(s, dir).select(
        transform(col("embedding"),
          x => floor(x.cast("double") * 128).cast("long")).as("qv"))
      // ONE mergeable aggregate pass: the native GramSums buffer holds
      // the 2080 pair sums ++ 64 dim sums ++ count as exact longs — no
      // triangle of rows is ever materialized (the explode spelling this
      // replaces measured 93 s at the 100× blow-up; see BASELINE.md).
      // Position in the flat buffer identifies (i, j) via a broadcast of
      // the static triangle-order table.
      val g = q.agg(graft.functions.GramSums.sums(col("qv"), d).as("g"))
      import s.implicits._
      val decode = (for { i <- 0 until d; j <- i until d } yield (i, j))
        .zipWithIndex.map { case ((i, j), pos) => (pos, i.toLong, j.toLong) }
        .toDF("pos", "i", "j")
      def at(idx: Column): Column = element_at(col("g"), idx.cast("int"))
      g.select(col("g"), posexplode(slice(col("g"), 1, tri))
          .as(Seq("pos", "s_ij")))
        .join(broadcast(decode), Seq("pos"))
        .select(col("i"), col("j"),
          at(lit(tri + d + 1)).as("n"),
          at(lit(tri + 1) + col("i")).as("s_i"),
          at(lit(tri + 1) + col("j")).as("s_j"),
          col("s_ij"))
        .select(col("i"), col("j"), col("n"), col("s_i"), col("s_j"),
          col("s_ij"),
          (col("s_ij").cast("double") / col("n")
            - (col("s_i").cast("double") / col("n"))
              * (col("s_j").cast("double") / col("n"))).as("cov"))
  }

  // ---------------------------------------------------------------- q155
  /** Reciprocal-rank fusion — the standard hybrid-retrieval ensembler
    * (Cormack '09, the RAG-stack default): two rankers' top-k lists
    * merge per query by RRF(d) = Σ 1/(60 + rank), here fusing the exact
    * float cosine ranking (q30) with the int8-quantized one (q92).
    * Exactly two terms add in fixed written order — each a single
    * double division — so the scores are bit-identical across engines
    * with no decimal scaffolding. A FULL OUTER join on (query,
    * neighbor) keeps single-list hits (their missing term coalesces to
    * exact 0.0); the per-query top-3 rank is WindowGroupLimit-pruned.
    * Both input rankings are the ALREADY-GATED queries composed whole —
    * the q116 composition discipline applied to retrieval. */
  val q155RankFusion: Q = Q.sql(
    "q155_rank_fusion",
    s"""WITH a AS (
       |${q30CosineTopK.oracle}
       |), b AS (
       |${q92QuantizedAnn.oracle}
       |), f AS (
       |  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
       |    COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
       |    a.rn AS rn_a, b.rn AS rn_b,
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + a.rn), 0.0)
       |      + COALESCE(CAST(1 AS DOUBLE) / (60 + b.rn), 0.0) AS rrf
       |  FROM a FULL OUTER JOIN b
       |    ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
       |)
       |SELECT query_id, neighbor_id, rn_a IS NOT NULL AS in_exact,
       |  rn_b IS NOT NULL AS in_quant, rrf, CAST(rk AS BIGINT) AS rk
       |FROM (SELECT *, row_number() OVER
       |        (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS rk
       |      FROM f)
       |WHERE rk <= 3""".stripMargin,
    "reciprocal-rank fusion of the exact and quantized ANN rankings") {
    (s, dir) =>
      val a = q30CosineTopK.run(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_a"))
      val b = q92QuantizedAnn.run(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("rn").as("rn_b"))
      val f = a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0).cast("double") / (lit(60) + col("rn_a")), lit(0.0))
            + coalesce(lit(1.0).cast("double") / (lit(60) + col("rn_b")),
              lit(0.0)))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("neighbor_id"))
      f.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rn_a").isNotNull.as("in_exact"),
          col("rn_b").isNotNull.as("in_quant"), col("rrf"),
          col("rk").cast("long").as("rk"))
  }

  // ---------------------------------------------------------------- q158
  /** Per-dimension standardization (diagonal whitening) — the
    * APPLICATION of q148's statistics: every quantized element re-scales
    * to z = (q − mean_j)/std_j. The corpus-wide mean/std come out of the
    * SAME native `gram_sums` buffer (diagonal entries + dim sums +
    * count, one mergeable pass), broadcast as a single row; the rescale
    * itself is a map-side posexplode with per-element double arithmetic
    * in fixed operation order — exact-integer statistics in, bit-
    * identical doubles out, no corpus-order float accumulation
    * anywhere. Constant dims emit NULL instead of a division by zero. */
  val q158Standardize: Q = Q.sql(
    "q158_standardize",
    """WITH q AS (
      |  SELECT vec_id,
      |    [CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT) for x in embedding] AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT vec_id, i - 1 AS dim, qv[i] AS qi
      |  FROM q, UNNEST(range(1, 65)) r(i)
      |), st AS (
      |  SELECT dim, SUM(qi) AS s, SUM(qi * qi) AS sq, COUNT(*) AS n
      |  FROM e GROUP BY 1
      |), ms AS (
      |  SELECT dim, CAST(s AS DOUBLE) / n AS mean,
      |    sqrt(GREATEST(CAST(sq AS DOUBLE) / n
      |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS std
      |  FROM st
      |)
      |SELECT e.vec_id, CAST(e.dim AS BIGINT) AS dim,
      |  CAST(e.qi AS BIGINT) AS qi,
      |  CASE WHEN ms.std > 0
      |       THEN (CAST(e.qi AS DOUBLE) - ms.mean) / ms.std END AS z
      |FROM e JOIN ms ON ms.dim = e.dim""".stripMargin,
    "per-dim standardization from the gram_sums statistics buffer") {
    (s, dir) =>
      val d = 64
      val tri = d * (d + 1) / 2
      val q = emb(s, dir).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 128).cast("long")).as("qv"))
      val g = q.agg(graft.functions.GramSums.sums(col("qv"), d).as("g"))
      // mean_j and std_j read straight out of the broadcast gram buffer:
      // dim sum at tri+j, squared sum at the triangle diagonal
      // j·d − j(j−1)/2, count in the last slot
      def at(idx: Column): Column = element_at(col("g"), idx.cast("int"))
      val n = at(lit(tri + d + 1))
      val sj = at(lit(tri + 1) + col("dim"))
      val sqj = at(col("dim") * d - expr("(dim * (dim - 1)) div 2") + 1)
      val mean = sj.cast("double") / n
      val std = sqrt(greatest(
        sqj.cast("double") / n - mean * mean, lit(0.0)))
      q.select(col("vec_id"), posexplode(col("qv")).as(Seq("dim", "qi")))
        .crossJoin(broadcast(g))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("qi"),
          when(std > 0, (col("qi").cast("double") - mean) / std).as("z"))
  }

  // ---------------------------------------------------------------- q172
  /** Matryoshka truncation recall — the serving-dimension eval for
    * MRL-style embeddings (Kusupati et al. '22): recall@5 of a
    * brute-force cosine ranking that reads only the FIRST 16 of 64
    * dimensions against the full-dimension exact top-5. This is the
    * q95 measure-then-choose harness pointed at the third ANN
    * compression axis (q92 quantizes precision, q122/q125 quantize by
    * codebook, q172 truncates dimensions) — at serving time a prefix
    * slice is a free 4× scan/bandwidth cut IF the measured recall
    * holds, and this query is the measurement. On these synthetic
    * near-uniform vectors prefix cosine preserves little ranking —
    * the honest result the harness exists to expose; MRL-trained
    * embeddings front-load information and move the number.
    *
    * Shape: both rankings broadcast the 20-query frame against the
    * corpus (the q30/q95 exact-baseline shape, linear map-side scan);
    * the truncated branch's `slice` happens BEFORE the cosine so the
    * codegen'd fold runs 16 wide, and per-query top-5 prunes via
    * WindowGroupLimit. */
  val q172MatryoshkaRecall: Q = Q.sql(
    "q172_matryoshka_recall",
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 20
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
       |  WHERE rn <= 5
       |), trunc AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qe", "e.embedding", 16)} DESC, e.vec_id) AS rn
       |    FROM qs, embeddings e WHERE e.vec_id <> query_id)
       |  WHERE rn <= 5
       |)
       |SELECT exact.query_id,
       |  CAST(count(trunc.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(count(trunc.neighbor_id) AS DOUBLE) / 5 AS recall_dim16
       |FROM exact LEFT JOIN trunc USING (query_id, neighbor_id)
       |GROUP BY 1""".stripMargin,
    "Matryoshka eval: recall@5 of first-16-dim cosine vs full-dim exact") {
    (s, dir) =>
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      def top5(cand: DataFrame, cos: Column): DataFrame = cand
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), cos.as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      val cand = e.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .crossJoin(broadcast(qs))
      val exact = top5(cand, Vectors.cosine(col("qe"), col("embedding")))
      val trunc = top5(cand,
        Vectors.cosine(slice(col("qe"), 1, 16), slice(col("embedding"), 1, 16)))
      exact.join(trunc.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")).cast("double") / 5).as("recall_dim16"))
  }

  // ---------------------------------------------------------------- q194
  /** kNN-graph link prediction — the graph-side consumer of the ANN
    * family: build the within-cell top-5 cosine graph (the standard
    * IVF-bucketed kNN-graph construction — each vector ranks only its
    * own coarse cell, the q31 equi-key shape, never the corpus),
    * symmetrize, and score NON-adjacent pairs by neighborhood overlap
    * (common-neighbor count and neighborhood Jaccard — Liben-Nowell &
    * Kleinberg CIKM'03's exact-integer scores; Adamic-Adar's log is
    * deliberately avoided: ln is not IEEE-correctly-rounded, Jaccard
    * ranks with exact int/int division). Top-5 predictions per node.
    *
    * Scale shape: degree is capped at 5 by construction, so the
    * symmetrized degree is ≤ 10 and the wedge self-join (adjacency ⋈
    * adjacency on the shared neighbor) fans out ≤ deg² per vertex —
    * O(n·100) candidate rows, NEVER all-pairs. Every step is an
    * equi-key shuffle (cell for the build; vertex for wedges/degrees);
    * the anti-join that drops already-linked pairs keys on the pair.
    * At 100 TB the build swaps brute within-cell ranking for q95b's
    * IVF probe — the downstream graph algebra is unchanged. */
  /** The q194/q211 seed kNN graph, shared CTE chain: IVF train+assign
    * (`af`), the ≤512-member (label, cell, shard) blocks (`blk`), and
    * the within-block top-5 cosine graph (`knn`). */
  private def duckSeedKnnCtes: String =
    s"""$duckIvfCtes,
       |blk AS (
       |  SELECT e.vec_id, e.label, e.embedding, f.j,
       |    (ROW_NUMBER() OVER (PARTITION BY e.label, f.j
       |       ORDER BY ('0x' || substr(md5('knn|' || CAST(e.vec_id AS VARCHAR)), 1, 15))::BIGINT,
       |                e.vec_id) - 1) // 512 AS shard
       |  FROM embeddings e JOIN af f ON f.vec_id = e.vec_id
       |), knn AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${duckCos("a.embedding", "b.embedding")} DESC,
       |                 b.vec_id) AS rn
       |    FROM blk a JOIN blk b
       |      ON b.label = a.label AND b.j = a.j AND b.shard = a.shard
       |     AND b.vec_id <> a.vec_id)
       |  WHERE rn <= 5
       |)""".stripMargin

  /** Engine side of [[duckSeedKnnCtes]]'s `knn`: the directed top-5
    * within-(label, cell, ≤512-shard) cosine graph, memoized per
    * (session, sf dir) — q194 consumes it for link prediction, q211 for
    * the NN-descent refinement round. */
  private def seedKnn(s: SparkSession, dir: String): DataFrame =
    graft.SessionCache.once(s, s"emb#$dir#seed-knn") {
      val cells = ivfAssigned(s, dir).select(col("vec_id"), col("j"))
      val ws = Window.partitionBy(col("label"), col("j"))
        .orderBy(Text.baseHash(concat(lit("knn|"), col("vec_id").cast("string"))),
          col("vec_id"))
      val base = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
        .join(cells, Seq("vec_id"))
        .withColumn("shard", ((row_number().over(ws) - 1) / 512).cast("int"))
      val a = base.select(col("label"), col("j"), col("shard"),
        col("vec_id").as("src"), col("embedding").as("ea"))
      val b = base.select(col("label"), col("j"), col("shard"),
        col("vec_id").as("dst"), col("embedding").as("eb"))
      val wk = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      // cached for the session: a three-int build key would pin a page
      val g = LongKeyJoin(a, b, Seq("label", "j", "shard"), "inner", guard = "dst")
        .filter(col("dst") =!= col("src"))
        .select(col("src"), col("dst"),
          Vectors.cosine(col("ea"), col("eb")).as("cosine"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 5)
        .select(col("src"), col("dst"))
        .cache()
      g.count()
      g
    }

  val q194LinkPrediction: Q = Q.sql(
    "q194_link_prediction",
    s"""$duckSeedKnnCtes,
       |adj AS (
       |  SELECT src, dst FROM knn
       |  UNION
       |  SELECT dst AS src, src AS dst FROM knn
       |), deg AS (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1
       |), cn AS (
       |  SELECT x.src AS a, y.dst AS c, CAST(COUNT(*) AS BIGINT) AS common
       |  FROM adj x JOIN adj y ON y.src = x.dst AND y.dst > x.src
       |  WHERE NOT EXISTS (SELECT 1 FROM adj e
       |                    WHERE e.src = x.src AND e.dst = y.dst)
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT a, c, common,
       |    CAST(common AS DOUBLE) / (da.d + dc.d - common) AS jaccard
       |  FROM cn JOIN deg da ON da.src = a JOIN deg dc ON dc.src = c
       |  WHERE common >= 2
       |)
       |SELECT a, c, common, jaccard, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a
       |        ORDER BY jaccard DESC, common DESC, c) AS rn FROM scored)
       |WHERE rn <= 5""".stripMargin,
    "kNN-graph link prediction: common-neighbor + Jaccard top-5 per node") {
    (s, dir) =>
      // (label, trained IVF cell, ≤512-member shard) is the build key.
      // The label block alone is a FIXED partition of the corpus, so its
      // per-block pairwise build grew quadratically (measured 5.1 → 61.5 s
      // at the 10× blow-up, exponent 1.09); adding the trained cell fixed
      // decade one (0.35) but resurfaced at 100× (exponent 1.49) because
      // 320 fixed blocks still grow linearly in population. The shard —
      // hash-order rank within (label, cell), integer-divided by 512 —
      // CAPS block membership, so block COUNT grows with the corpus and
      // total pairwise work is linear by construction (measured 718 →
      // 301 s at 100×, the residual decade ratio being cap saturation).
      // Each vector ranks ≤511 same-cell members: the bounded-work
      // approximate kNN-graph build (recall trades like any LSH/IVF
      // cut; q211 is the NN-descent refinement round over this seed
      // graph — the at-scale recall recovery — and the graph algebra
      // below is unchanged by either).
      val knn = seedKnn(s, dir)
      val adj = knn
        .union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val wedges = adj.select(col("src").as("a"), col("dst").as("b"))
        .join(adj.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
        .filter(col("c") > col("a"))
        .select(col("a"), col("c"))
      // drop linked pairs. An anti-join on (a, c) would build a 32 MB
      // page per run (a two-long broadcast key); the long-keyed left join
      // keeps the wedges whose `linked` marker found no edge: same rows.
      val cn = LongKeyJoin(wedges,
          adj.select(col("src").as("a"), col("dst").as("c"), lit(true).as("linked")),
          Seq("a", "c"), "left_outer", guard = "linked")
        .filter(col("linked").isNull)
        .groupBy(col("a"), col("c")).agg(count(lit(1)).as("common"))
        .filter(col("common") >= 2)
      val wp = Window.partitionBy(col("a"))
        .orderBy(col("jaccard").desc, col("common").desc, col("c"))
      cn
        .join(deg.select(col("src").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("src").as("c"), col("d").as("dc")), Seq("c"))
        .select(col("a"), col("c"), col("common"),
          (col("common").cast("double")
            / (col("da") + col("dc") - col("common"))).as("jaccard"))
        .withColumn("rn", row_number().over(wp).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("a"), col("c"), col("common"), col("jaccard"), col("rn"))
  }

  // ---------------------------------------------------------------- q211
  /** One NN-descent refinement round (Dong, Moses & Li, WWW'11) over the
    * q194 seed kNN graph: each node re-ranks the union of its current
    * top-5 and its neighbors' neighbors by exact cosine and keeps the
    * best 5. This is the recall-recovery step the ≤512-member block cap
    * trades for bounded build work — "my neighbor's neighbor is likely
    * my neighbor" re-introduces exactly the cross-shard/cross-cell edges
    * the capped build cannot see, at wedge cost, never pairwise cost.
    * `is_new` marks edges absent from the seed graph: the measurable
    * recall gain of the round.
    *
    * Scale shape: candidates per node are bounded by the symmetrized
    * wedge fan-out (≤ deg² ≈ 100) plus the 5 current edges — generation
    * is two equi-joins on the O(n·5) edge frame, ranking re-enters the
    * embedding table by TWO equi-joins (src, then cand) and one per-node
    * window. Everything linear in n; iterating the round to convergence
    * is the production NN-descent loop, with this oracle gating one
    * unrolled step (q202/q207's iteration discipline).
    */
  val q211NnDescent: Q = Q.sql(
    "q211_nn_descent",
    s"""$duckSeedKnnCtes,
       |adj AS (
       |  SELECT src, dst FROM knn
       |  UNION
       |  SELECT dst AS src, src AS dst FROM knn
       |), cand AS (
       |  SELECT x.src AS u, y.dst AS c
       |  FROM adj x JOIN adj y ON y.src = x.dst
       |  WHERE y.dst <> x.src
       |  UNION
       |  SELECT src AS u, dst AS c FROM knn
       |), ranked AS (
       |  SELECT u AS src, c AS dst,
       |    ${duckCos("eu.embedding", "ec.embedding")} AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY u
       |      ORDER BY ${duckCos("eu.embedding", "ec.embedding")} DESC, c) AS rn
       |  FROM cand
       |  JOIN embeddings eu ON eu.vec_id = cand.u
       |  JOIN embeddings ec ON ec.vec_id = cand.c
       |)
       |SELECT ranked.src AS src, ranked.dst AS dst, cosine,
       |  CAST(rn AS BIGINT) AS rn, k.src IS NULL AS is_new
       |FROM ranked LEFT JOIN knn k ON k.src = ranked.src AND k.dst = ranked.dst
       |WHERE rn <= 5""".stripMargin,
    "one NN-descent round over the seed kNN graph: wedge candidates re-ranked by cosine") {
    (s, dir) =>
      val knn = seedKnn(s, dir)
      val adj = knn
        .union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val cand = adj.select(col("src").as("u"), col("dst").as("b"))
        .join(adj.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
        .filter(col("c") =!= col("u"))
        .select(col("u"), col("c"))
        .union(knn.select(col("src").as("u"), col("dst").as("c")))
        .distinct()
      val e = emb(s, dir)
      val wq = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      cand
        .join(e.select(col("vec_id").as("u"), col("embedding").as("eu")), Seq("u"))
        .join(e.select(col("vec_id").as("c"), col("embedding").as("ec")), Seq("c"))
        .select(col("u").as("src"), col("c").as("dst"),
          Vectors.cosine(col("eu"), col("ec")).as("cosine"))
        .withColumn("rn", row_number().over(wq).cast("long"))
        .filter(col("rn") <= 5)
        .join(knn.withColumn("seeded", lit(1)), Seq("src", "dst"), "left")
        .select(col("src"), col("dst"), col("cosine"), col("rn"),
          col("seeded").isNull.as("is_new"))
  }

  // ---------------------------------------------------------------- q217
  /** Label-noise detection by neighborhood vote (confident-learning /
    * Cleanlab shape): for each probe vector, take its k=10 exact cosine
    * nearest neighbors and flag the probe when the majority label of
    * its neighborhood disagrees with its own — the label-error audit a
    * training pipeline runs before trusting a labeled corpus.
    *
    * Vote and flag are pure integers (ties break votes-desc then
    * label-asc, deterministic); cosine is only an ORDERING here, the
    * parity q30 already pins. Probes are a bounded slice (vec_id <
    * 200) against the full corpus — the exact brute-force baseline. At
    * 100 TB the same vote runs over q194's capped-block kNN graph
    * (equi-join on the probe id swaps the candidate source); the
    * semantics of this gate are the k-exact reference for that path. */
  val q217LabelNoise: Q = Q.sql(
    "q217_label_noise",
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, label AS own_label, embedding AS qe
       |  FROM embeddings WHERE vec_id < 200
       |), p AS (
       |  SELECT query_id, own_label, e.label AS nlabel, e.vec_id AS nid,
       |    ${duckCos("qe", "e.embedding")} AS cosine
       |  FROM qs, embeddings e WHERE e.vec_id <> query_id
       |), k AS (
       |  SELECT query_id, own_label, nlabel
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY cosine DESC, nid) AS rn FROM p)
       |  WHERE rn <= 10
       |), v AS (
       |  SELECT query_id, own_label, nlabel, COUNT(*) AS c
       |  FROM k GROUP BY 1, 2, 3
       |)
       |SELECT query_id,
       |  CAST(own_label AS BIGINT) AS own_label,
       |  CAST(nlabel AS BIGINT) AS top_label,
       |  CAST(c AS BIGINT) AS top_votes,
       |  CAST(CASE WHEN nlabel <> own_label THEN 1 ELSE 0 END AS BIGINT)
       |    AS mislabel
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY c DESC, nlabel) AS vr FROM v)
       |WHERE vr = 1""".stripMargin,
    "kNN neighborhood label vote flags probes whose label disagrees") {
    (s, dir) =>
      val e = spreadEmb(s, dir)
      val qs = e.filter(col("vec_id") < 200)
        .select(col("vec_id").as("query_id"), col("label").as("own_label"),
          col("embedding").as("qe"))
      val wk = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("nid"))
      val k = e.select(col("vec_id").as("nid"), col("label").as("nlabel"),
          col("embedding"))
        .crossJoin(broadcast(qs))
        .filter(col("nid") =!= col("query_id"))
        .select(col("query_id"), col("own_label"), col("nlabel"),
          col("nid"), Vectors.cosine(col("qe"), col("embedding")).as("cosine"))
        .withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 10)
      val wv = Window.partitionBy(col("query_id"))
        .orderBy(col("c").desc, col("nlabel"))
      k.groupBy(col("query_id"), col("own_label"), col("nlabel"))
        .agg(count(lit(1)).as("c"))
        .withColumn("vr", row_number().over(wv))
        .filter(col("vr") === 1)
        .select(col("query_id"),
          col("own_label").cast("long").as("own_label"),
          col("nlabel").cast("long").as("top_label"),
          col("c").cast("long").as("top_votes"),
          when(col("nlabel") =!= col("own_label"), 1L).otherwise(0L)
            .as("mislabel"))
  }

  // ---------------------------------------------------------------- q222
  /** Johnson–Lindenstrauss random projection 64→16 with the ±1
    * database-friendly matrix (Achlioptas '01): y_j = (Σ_i ±x_i)/4,
    * sign(i,j) drawn from md5("jl|i|j") so the projection matrix is a
    * PURE FUNCTION — no stored model, no broadcast, bit-reproducible on
    * any engine (the oracle rebuilds the identical matrix from the same
    * hashes). The dimensionality-reduction step in front of the ANN
    * family (q31/q122/q125): at 100 TB this is the map-only pass that
    * shrinks every distance computation 4× before any index build.
    *
    * Both engines fold the 64 signed terms LEFT-ASSOCIATIVELY, starting
    * from the first term (Spark `aggregate` ≡ DuckDB's seedless
    * `list_reduce`), so the double sums are bit-identical; /4 = /√16 is
    * the exact power-of-two JL scale. Spark's matrix is a 64 × 16
    * constant sign array — zero per-row hashing; zero shuffle anywhere. */
  private def jlSign(i: Int, j: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl|$i|$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    hex.charAt(0) < '8'
  }

  /** `jlSigns(i - 1)(j - 1)` is ±1.0 by [[jlSign]]`(i, j)`. */
  private lazy val jlSigns: Seq[Seq[Double]] =
    (1 to 64).map(i => (1 to 16).map(j => if (jlSign(i, j)) 1.0 else -1.0))

  /** The 16 JL components of a 64-dim embedding column, as ONE fold over
    * the embedding: each element becomes its row of 16 signed terms
    * (`x * ±1.0` is exactly `±x`), and `aggregate` adds the rows
    * element-wise from the first one on — per component the oracle's
    * left-associated `list_reduce`. A 1,024-term expression tree here
    * outgrows Janino's 64 KB method limit and drops the stage out of
    * whole-stage codegen. */
  private def jlProject(e: Column): Column = {
    val rows = zip_with(slice(e, 2, 63), typedLit(jlSigns.tail),
      (x, s) => transform(s, _ * x.cast("double")))
    val first = transform(typedLit(jlSigns.head), _ * element_at(e, 1).cast("double"))
    transform(aggregate(rows, first, (acc, r) => zip_with(acc, r, _ + _)), _ / 4.0)
  }

  val q222JlProjection: Q = {
    Q.sql(
      "q222_jl_projection",
      """SELECT vec_id, CAST(j AS BIGINT) AS out_dim,
        |  list_reduce(
        |    [CASE WHEN substr(md5('jl|' || CAST(i AS VARCHAR) || '|'
        |            || CAST(j AS VARCHAR)), 1, 1) < '8'
        |          THEN CAST(embedding[i] AS DOUBLE)
        |          ELSE -CAST(embedding[i] AS DOUBLE) END
        |     for i in range(1, 65)], (x, y) -> x + y) / 4 AS y
        |FROM embeddings, LATERAL (SELECT unnest(range(1, 17)) AS j) r""".stripMargin,
      "deterministic +-1 JL projection of embeddings to 16 dims, map-only") {
      (s, dir) =>
        emb(s, dir).select(col("vec_id"),
            posexplode(jlProject(col("embedding"))).as(Seq("p", "y")))
          .select(col("vec_id"), (col("p") + 1).cast("long").as("out_dim"),
            col("y"))
    }
  }

  // ---------------------------------------------------------------- q223
  /** JL neighbor-recall evaluation — the measure-before-trust loop
    * (q95's discipline) applied to q222's projection: for each probe,
    * the top-5 cosine neighbors in the 16-dim JL space vs the exact
    * 64-dim top-5, recall@5 per query. This is the number that decides
    * whether the 4× distance-computation saving is safe to put in front
    * of the ANN index build — measured, not assumed (uniform synthetic
    * vectors are the JL-unfriendly case: all pairwise angles
    * concentrate, so small rank perturbations swap neighbors; the
    * honest low recall here is the fixture speaking, same as q122's PQ
    * reading).
    *
    * Both rankings are bit-identical across engines: JL components and
    * both cosines are the same left-associated folds (DotProduct ≡
    * list_reduce). The probe set is a broadcast cut; the corpus is
    * scanned once per ranking and never shuffled. */
  val q223JlRecall: Q = Q.sql(
    "q223_jl_recall",
    s"""WITH jl AS (
       |  SELECT vec_id,
       |    [list_reduce(
       |       [CASE WHEN substr(md5('jl|' || CAST(i AS VARCHAR) || '|'
       |               || CAST(j AS VARCHAR)), 1, 1) < '8'
       |             THEN CAST(embedding[i] AS DOUBLE)
       |             ELSE -CAST(embedding[i] AS DOUBLE) END
       |        for i in range(1, 65)], (x, y) -> x + y) / 4
       |     for j in range(1, 17)] AS v
       |  FROM embeddings
       |), eqs AS (
       |  SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id < 20
       |), jqs AS (
       |  SELECT vec_id AS query_id, v AS qv FROM jl WHERE vec_id < 20
       |), exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, e.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qe", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM eqs, embeddings e WHERE e.vec_id <> query_id)
       |  WHERE rn <= 5
       |), approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, jl.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${duckCos("qv", "jl.v", 16)} DESC, jl.vec_id) AS rn
       |    FROM jqs, jl WHERE jl.vec_id <> query_id)
       |  WHERE rn <= 5
       |)
       |SELECT exact.query_id,
       |  CAST(count(approx.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(count(approx.neighbor_id) AS DOUBLE) / 5 AS recall
       |FROM exact LEFT JOIN approx USING (query_id, neighbor_id)
       |GROUP BY 1""".stripMargin,
    "recall@5 of 16-dim JL cosine ranking vs the exact 64-dim top-5") {
    (s, dir) =>
      val e = emb(s, dir)
      val jl = e.select(col("vec_id"), jlProject(col("embedding")).as("v"))
      val eqs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val jqs = jl.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      def top5(cand: DataFrame): DataFrame = cand
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      val exact = top5(e.select(col("vec_id").as("neighbor_id"), col("embedding"))
        .crossJoin(broadcast(eqs))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qe"), col("embedding")).as("cosine")))
      val approx = top5(jl.select(col("vec_id").as("neighbor_id"), col("v"))
        .crossJoin(broadcast(jqs))
        .select(col("query_id"), col("neighbor_id"),
          Vectors.cosine(col("qv"), col("v")).as("cosine")))
      exact.join(approx.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).cast("long").as("n_hits"),
          (count(col("hit")).cast("double") / 5).as("recall"))
  }

  // ---------------------------------------------------------------- q238
  /** MMR rounds after the relevance-only first pick. */
  val MmrRounds = 4

  private def mmrOracle: String = {
    val steps = (2 to MmrRounds + 1).map { k =>
      s"""sc$k AS MATERIALIZED (
         |  SELECT c.probe, c.cand, (c.simq - MAX(p.sim)) / 2 AS score
         |  FROM cand c
         |  JOIN pairs p ON p.probe = c.probe AND p.ca = c.cand
         |  JOIN selall${k - 1} s ON s.probe = p.probe AND s.cand = p.cb
         |  WHERE NOT EXISTS (SELECT 1 FROM selall${k - 1} x
         |    WHERE x.probe = c.probe AND x.cand = c.cand)
         |  GROUP BY c.probe, c.cand, c.simq
         |), pick$k AS MATERIALIZED (
         |  SELECT probe, cand, score, CAST($k AS BIGINT) AS mmr_rank
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe
         |    ORDER BY score DESC, cand) AS rn FROM sc$k) WHERE rn = 1
         |), selall$k AS MATERIALIZED (
         |  SELECT * FROM selall${k - 1} UNION ALL SELECT * FROM pick$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH qs AS MATERIALIZED (
       |  SELECT vec_id AS probe, embedding AS qe FROM embeddings
       |  WHERE vec_id < 4
       |), c0 AS MATERIALIZED (
       |  SELECT probe, vec_id AS cand, embedding AS ce,
       |    ${duckCos("qe", "embedding")} AS simq
       |  FROM qs, embeddings WHERE vec_id <> probe
       |), cand AS MATERIALIZED (
       |  SELECT probe, cand, ce, simq
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe
       |    ORDER BY simq DESC, cand) AS rn FROM c0) WHERE rn <= 12
       |), pairs AS MATERIALIZED (
       |  SELECT a.probe, a.cand AS ca, b.cand AS cb,
       |    ${duckCos("a.ce", "b.ce")} AS sim
       |  FROM cand a JOIN cand b ON a.probe = b.probe AND a.cand <> b.cand
       |), selall1 AS MATERIALIZED (
       |  SELECT probe, cand, simq AS score, CAST(1 AS BIGINT) AS mmr_rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe
       |    ORDER BY simq DESC, cand) AS rn FROM cand) WHERE rn = 1
       |),
       |$steps
       |SELECT probe, mmr_rank, cand AS picked, score
       |FROM selall${MmrRounds + 1}""".stripMargin
  }

  /** Maximal-marginal-relevance diversified top-5 (Carbonell–Goldstein
    * '98, λ = 1/2) — the re-ranking step between retrieval and a
    * training batch / RAG context: plain top-k returns near-duplicates
    * of one neighborhood, MMR greedily picks the next result by
    * relevance MINUS similarity to what's already picked. First pick is
    * pure relevance; each later score is (sim_to_query − max_sim_to_
    * selected)/2 — the subtraction of two fused-kernel cosines and an
    * exact halving, so both engines rank identical doubles (the q187
    * dyadic discipline; deterministic cand tiebreaks throughout).
    *
    * Scale shape: the corpus is touched ONCE by the q30 broadcast-probe
    * top-12 candidate scan (WindowGroupLimit, no corpus shuffle); the
    * greedy loop — pairwise cosines and 4 unrolled argmax rounds — runs
    * entirely on the ≤(probes × 12) candidate frame. At 100 TB the
    * candidate stage swaps for q95b's IVF probe; the MMR algebra is
    * unchanged. The oracle unrolls the identical greedy recurrence. */
  val q238MmrRerank: Q = Q.sql(
    "q238_mmr_rerank",
    mmrOracle,
    "greedy MMR diversified top-5 per probe over exact-cosine candidates") {
    (s, dir) =>
      val e = emb(s, dir)
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("probe"), col("embedding").as("qe"))
      val wCand = Window.partitionBy(col("probe"))
        .orderBy(col("simq").desc, col("cand"))
      val cand = e.select(col("vec_id").as("cand"), col("embedding"))
        .crossJoin(broadcast(qs))
        .filter(col("cand") =!= col("probe"))
        .select(col("probe"), col("cand"), col("embedding").as("ce"),
          Vectors.cosine(col("qe"), col("embedding")).as("simq"))
        .withColumn("rn", row_number().over(wCand))
        .filter(col("rn") <= 12)
        .drop("rn")
        .localCheckpoint()
      val a = cand.select(col("probe"), col("cand").as("ca"),
        col("ce").as("cea"))
      val b = cand.select(col("probe"), col("cand").as("cb"),
        col("ce").as("ceb"))
      val pairs = a.join(b, Seq("probe"))
        .filter(col("ca") =!= col("cb"))
        .select(col("probe"), col("ca"), col("cb"),
          Vectors.cosine(col("cea"), col("ceb")).as("sim"))
        .localCheckpoint()
      var selall = cand
        .withColumn("rn", row_number().over(wCand))
        .filter(col("rn") === 1)
        .select(col("probe"), col("cand"), col("simq").as("score"),
          lit(1L).as("mmr_rank"))
      for (k <- 2 to MmrRounds + 1) {
        val scored = cand.select(col("probe"), col("cand"), col("simq"))
          .join(selall.select(col("probe"), col("cand")), Seq("probe", "cand"),
            "left_anti")
          .join(pairs.withColumnRenamed("ca", "cand"), Seq("probe", "cand"))
          .join(selall.select(col("probe"), col("cand").as("cb")),
            Seq("probe", "cb"))
          .groupBy(col("probe"), col("cand"), col("simq"))
          .agg(max(col("sim")).as("mx"))
          .select(col("probe"), col("cand"),
            ((col("simq") - col("mx")) / 2).as("score"))
        val wPick = Window.partitionBy(col("probe"))
          .orderBy(col("score").desc, col("cand"))
        val pick = scored.withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("probe"), col("cand"), col("score"),
            lit(k.toLong).as("mmr_rank"))
        selall = selall.unionByName(pick)
      }
      selall.select(col("probe"), col("mmr_rank"),
        col("cand").as("picked"), col("score"))
  }

  // ---------------------------------------------------------------- q247
  /** Embedding centroid drift — the "did my embedding distribution move
    * between corpus snapshots" monitor (the embedding-space sibling of
    * q163/q215's tabular drift tests, and the gate an ANN index rebuild
    * hangs on): per label, the cosine between the centroid of snapshot
    * half A (even vec_id) and half B (odd). The float-sum trap is
    * dodged twice: elements quantize to exact ints (q158's ×128 grid),
    * and the cosine is computed on the INTEGER SUM vectors directly —
    * cosine is scale-invariant, so cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb)
    * with no division before the final expression. Dot and norms
    * accumulate in HUGEINT ≡ DECIMAL(38,0) (order-independent), the
    * emitted cosine is one fixed-parenthesization double tree.
    *
    * Scale shape: ONE posexplode pass partial-aggregates to the
    * (label × 64 dim) frame; everything after rides that bounded
    * frame. */
  val q247CentroidDrift: Q = Q.sql(
    "q247_centroid_drift",
    """WITH q AS (
      |  SELECT vec_id, label, vec_id % 2 = 0 AS half_a,
      |    [CAST(floor(CAST(x AS DOUBLE) * 128) AS BIGINT)
      |      for x in embedding] AS qv
      |  FROM embeddings
      |), e AS (
      |  SELECT label, half_a, i AS dim, qv[i] AS qi
      |  FROM q, UNNEST(range(1, 65)) r(i)
      |), s AS (
      |  SELECT label, dim,
      |    CAST(SUM(CASE WHEN half_a THEN qi ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(SUM(CASE WHEN half_a THEN 0 ELSE qi END) AS BIGINT) AS sb
      |  FROM e GROUP BY 1, 2
      |), d AS (
      |  SELECT label,
      |    SUM(CAST(sa AS HUGEINT) * sb) AS dot,
      |    SUM(CAST(sa AS HUGEINT) * sa) AS na2,
      |    SUM(CAST(sb AS HUGEINT) * sb) AS nb2
      |  FROM s GROUP BY 1
      |), n AS (
      |  SELECT label,
      |    CAST(SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN half_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM q GROUP BY 1
      |)
      |SELECT CAST(d.label AS BIGINT) AS label, n_a, n_b,
      |  CAST(dot AS DOUBLE)
      |    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
      |    AS centroid_cosine
      |FROM d JOIN n ON n.label = d.label""".stripMargin,
    "per-label cosine between snapshot-half centroids, exact integer core") {
    (s, dir) =>
      val q = emb(s, dir).select(col("vec_id"), col("label"),
        (col("vec_id") % 2 === 0).as("half_a"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 128).cast("long")).as("qv"))
      val e = q.select(col("label"), col("half_a"),
        posexplode(col("qv")).as(Seq("dim0", "qi")))
      val sFrame = e.groupBy(col("label"), col("dim0"))
        .agg(sum(when(col("half_a"), col("qi")).otherwise(0L)).cast("long")
          .as("sa"),
          sum(when(col("half_a"), 0L).otherwise(col("qi"))).cast("long")
            .as("sb"))
      def big(c: Column): Column = c.cast("decimal(38,0)")
      val d = sFrame.groupBy(col("label"))
        .agg(sum(big(col("sa")) * big(col("sb"))).as("dot"),
          sum(big(col("sa")) * big(col("sa"))).as("na2"),
          sum(big(col("sb")) * big(col("sb"))).as("nb2"))
      val n = q.groupBy(col("label"))
        .agg(sum(when(col("half_a"), 1L).otherwise(0L)).cast("long")
          .as("n_a"),
          sum(when(col("half_a"), 0L).otherwise(1L)).cast("long").as("n_b"))
      d.join(n, Seq("label"))
        .select(col("label").cast("long").as("label"), col("n_a"),
          col("n_b"),
          (col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) *
              sqrt(col("nb2").cast("double")))).as("centroid_cosine"))
  }

  val all: Seq[Q] =
    Seq(q30CosineTopK, q31BucketedAnn, q32EmbeddingNearDup, q33HyperplaneLsh,
      q35LabelCentroids, q92QuantizedAnn, q95AnnRecall, q95bIvfRecall,
      q104DedupRetrieval, q111SemanticDedup, q122PqAdcTopK, q125Ivfadc,
      q148GramMatrix, q155RankFusion, q158Standardize, q172MatryoshkaRecall,
      q194LinkPrediction, q211NnDescent, q217LabelNoise, q222JlProjection,
      q223JlRecall, q238MmrRerank, q247CentroidDrift)
}
