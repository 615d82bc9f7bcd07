package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Graph→tensor export and GraphX bridge — the Spark-native form of the
  * reference's `to_pyg` exporter (`/root/reference/src/managers/
  * game.py:324-656`): dense 0..n-1 ids per node type, per-relation COO
  * `(src_idx, dst_idx)` edge frames, and an in-engine GraphX `Graph` for
  * traversal analytics (BASELINE.json approach).
  *
  * Dense ids are positions in a deterministic natural-key sort
  * (`zipWithIndex`, or a per-partition count for many types at once; no
  * single-partition window) —
  * SURVEY §7.4.5's stability requirement — so the export scales to
  * billion-node graphs and re-runs reproduce identical ids.
  */
object GraphExport {

  /** Assign contiguous dense ids 0..n-1 ordered by the natural key
    * columns. Deterministic: same input ⇒ same ids. */
  def denseIds(df: DataFrame, naturalKey: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(naturalKey.map(col): _*)
    val schema = StructType(sorted.schema.fields :+ StructField("dense_id", LongType, nullable = false))
    val rdd: RDD[Row] = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Dense ids for MANY node types in one pass: sort the unioned node
    * table by (type, naturalKey), then one job counts each partition's
    * rows and notes where each type begins in it. Prefix sums of the
    * counts give every row its global position, and a row's dense id is
    * that position minus its type's first position. The per-type
    * offsets (one per type) travel in the closure: a broadcast join
    * keyed on the type string would pin a 32 MB hash-map page inside the
    * leaf's plan for 10 rows. Same per-type 0..n-1 contiguous ids as
    * calling [[denseIds]] per type, but one sort and two jobs over it
    * instead of 2 jobs per type. Both jobs read the one sorted RDD, so
    * the sort's shuffle is written once.
    *
    * The returned frame is an already-materialized cache leaf
    * (`GraftBridge.cacheLeaf`; callers scan it at least twice — src +
    * dst side of every COO translation). Its cache lives as long as the
    * session's cache does: `unpersist()` on the leaf releases nothing. */
  def denseIdsByType(df: DataFrame, typeCol: String, orderCols: Seq[String]): DataFrame = {
    val sorted = df.filter(col(typeCol).isNotNull) // an untyped row gets no id
      .orderBy((typeCol +: orderCols).map(col): _*)
    val t = sorted.schema.fieldIndex(typeCol)
    val dt = sorted.schema(t).dataType
    val typeOf = (r: InternalRow) => CatalystTypeConverters.convertToScala(r.get(t, dt), dt)
    // per partition: its row count and the (type, local index) of each type's first row
    val parts = sorted.queryExecution.toRdd.mapPartitions { rows =>
      val starts = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
      var n = 0L
      rows.foreach { r =>
        val v = typeOf(r)
        if (starts.isEmpty || starts.last._1 != v) starts += v -> n
        n += 1
      }
      Iterator(n -> starts.toSeq)
    }.collect()
    val base = parts.map(_._1).scanLeft(0L)(_ + _)
    val first = parts.zip(base).toSeq
      .flatMap { case ((_, starts), b) => starts.map { case (v, i) => v -> (b + i) } }
      .groupMapReduce(_._1)(_._2)(math.min)
    val out = org.apache.spark.sql.GraftBridge.cacheLeaf(
      org.apache.spark.sql.GraftBridge.withLongColumn(sorted, "dense_id") { p =>
        var pos = base(p) - 1
        r => { pos += 1; pos - first(typeOf(r)) }
      })
    graft.Force(out)
    out
  }

  /** The SQL spelling of [[denseIdsByType]]: one per-type `row_number`
    * window, no RDD pass. Identical ids by construction. It MEASURED
    * WORSE end-to-end, so it is kept only as the reference the
    * sort-and-count path is tested against. Numbers (against that path's
    * former zipWithIndex spelling, which shares its range sort; q64 full
    * build, tmpfs, local[32]): at sf0.1 the dense-id stage
    * ties (4.4 s both) but the whole build degrades 19.1 s → 38.5 s; at
    * 10× sf0.1 the stage wins (11.4 s → 9.0 s) yet the build still loses
    * (73.5 s → 83.6 s). Two reasons: each node TYPE serializes through
    * one window reducer (the range sort parallelizes within a type), and
    * the window-cached frame is partitioned on the 10-value type key,
    * which collapses the parallelism of every downstream COO join that
    * scans it. The range sort remains the measured AND the billion-node
    * design. */
  private[graph] def denseIdsByTypeWindow(
      df: DataFrame, typeCol: String, orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(typeCol)).orderBy(orderCols.map(col): _*)
    val out = df
      .withColumn("dense_id", (row_number().over(w) - 1).cast("long"))
      .cache()
    out.count()
    out
  }

  /** Rewrite an edge list keyed by natural ids into COO dense-index form:
    * `(src_idx, dst_idx)` against the two node tables' dense ids — the
    * PyG `edge_index` layout, one frame per relation. */
  def cooEdges(
      edges: DataFrame, srcCol: String, dstCol: String,
      srcNodes: DataFrame, srcKey: String,
      dstNodes: DataFrame, dstKey: String): DataFrame = {
    val s = srcNodes.select(col(srcKey).as("__sk"), col("dense_id").as("src_idx"))
    val d = dstNodes.select(col(dstKey).as("__dk"), col("dense_id").as("dst_idx"))
    edges
      .join(s, edges(srcCol) === s("__sk"))
      .join(d, edges(dstCol) === d("__dk"))
      .select(col("src_idx"), col("dst_idx"))
  }

  /** Build a GraphX graph from node frames (each carrying `dense_id`)
    * and typed edge frames. Global VertexId = typeIndex * OFFSET +
    * dense_id, so node types never collide. */
  val TypeOffset: Long = 1L << 40

  def toGraphX(
      spark: SparkSession,
      nodeTables: Seq[(String, DataFrame, String)], // (typeName, df-with-dense_id, labelCol)
      edgeTables: Seq[(String, DataFrame)]): Graph[String, String] = { // (relType, df(src_gid,dst_gid))
    val vertices: RDD[(VertexId, String)] = nodeTables.zipWithIndex.map {
      case ((typeName, df, labelCol), ti) =>
        df.select((col("dense_id") + lit(ti.toLong * TypeOffset)).as("gid"),
            concat_ws(":", lit(typeName), col(labelCol)).as("label"))
          .rdd.map(r => (r.getLong(0), r.getString(1)))
    }.reduce(_ union _)
    val edges: RDD[Edge[String]] = edgeTables.map { case (rel, df) =>
      df.select(col("src_gid"), col("dst_gid"))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), rel))
    }.reduce(_ union _)
    Graph(vertices, edges)
  }
}
