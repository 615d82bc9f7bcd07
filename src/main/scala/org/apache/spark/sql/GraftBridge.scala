package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  * Spark 4 made these conversions `private[sql]` (Column wraps a
  * ColumnNode, not an Expression), so the shim lives in the
  * `org.apache.spark.sql` package — the standard extension-library
  * technique for exposing a custom `Expression` as a user-facing
  * `Column`.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]` in Spark 4). Used by the bounded-frame lint to
    * execute a Window node's input subtree in isolation and measure its
    * cardinality across scale factors. */
  def dataset(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** `df.cache()`, returned as a frame whose logical plan is the cache
    * entry's single `InMemoryRelation` leaf. Same rows, same
    * `CachedRDDBuilder` (forcing the leaf fills `df`'s cache entry, so
    * there is one fill, not two), and the same physical plans, since
    * Catalyst swaps that relation in before optimizing anyway. What it
    * saves is plan analysis: every `select`/`join`/`union` over the leaf
    * analyzes, and every cache lookup canonicalizes, one node instead
    * of the whole upstream DAG.
    *
    * Only for frames that stay cached as long as their holder lives
    * (the [[graft.SessionCache]] entries): `unpersist()` on the leaf
    * releases nothing, and a leaf over an uncached entry would refill
    * blocks that no cache entry tracks. Frames that are unpersisted
    * later keep a plain `.cache()`. */
  def cacheLeaf(df: DataFrame): DataFrame = {
    val ds = df.cache().asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val entry = spark.sharedState.cacheManager.lookupCachedData(ds).get
    // an equal plan cached earlier owns the entry; rebind to df's output
    dataset(spark, entry.cachedRepresentation.withOutput(ds.queryExecution.analyzed.output))
  }

  /** `zipWithIndex` without the external-Row round trip: the input plan's
    * `toRdd` (UnsafeRow) is zipped and re-wrapped via
    * `internalCreateDataFrame` (`private[sql]`), skipping both the
    * catalyst→Row and Row→catalyst per-row conversions that
    * `df.rdd`/`createDataFrame` pay — measurable on wide rows (the PyG
    * node table carries feature arrays through its dense-id sort).
    * UnsafeRows are buffer-reused per partition, hence the `copy()`. */
  def zipWithIndexColumn(df: DataFrame, idxCol: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val schema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(idxCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = ds.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      it.map { case (r, i) =>
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(
          r.copy(),
          org.apache.spark.sql.catalyst.InternalRow(i))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    spark.internalCreateDataFrame(rdd, schema)
  }

  /** For a cached Dataset held behind a [[java.lang.ref.SoftReference]]
    * (see [[graft.SessionCache]]): a cleanup that evicts the dataset's
    * `InMemoryRelation` from the session `CacheManager` AFTER the soft
    * ref has been GC-cleared. Needed because non-canonicalizing plans
    * (`LogicalRDD` from `zipWithIndex` exports, the typed game pipeline)
    * never `sameResult`-match their rebuilt incarnation, so without an
    * explicit eviction each memory-pressure cycle would strand one more
    * dead `InMemoryRelation` in the CacheManager.
    *
    * The closure holds the session and logical plan only WEAKLY: a
    * strong plan ref could pin the session (HadoopFsRelation references
    * it), violating the WeakHashMap keying; and the CacheManager itself
    * pins the plan strongly for exactly as long as there is an entry to
    * evict, so the weak ref is live precisely when cleanup is needed.
    * `uncacheQuery` is `private[sql]`, hence this lives in the bridge.
    */
  def clearedCacheCleanup(v: AnyRef): Option[() => Unit] = v match {
    case ds: classic.Dataset[_] =>
      val sess = new java.lang.ref.WeakReference(ds.sparkSession)
      val plan = new java.lang.ref.WeakReference(ds.queryExecution.logical)
      Some(() =>
        for { s <- Option(sess.get()); p <- Option(plan.get()) }
          scala.util.Try(
            s.sharedState.cacheManager.uncacheQuery(s, p, cascade = false)))
    case _ => None
  }
}
