package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** `SparkSessionExtensions` hook registering graft's native Catalyst
  * expressions as SQL functions, so `spark.sql` reaches them exactly
  * like the DataFrame API does:
  *
  * {{{
  *   SELECT kmv_estimate(h, 16) FROM hashes        -- mergeable KMV sketch
  *   SELECT dot_product(a.embedding, b.embedding)  -- fused codegen'd dot
  * }}}
  *
  * Activated by `spark.sql.extensions=graft.functions.GraftExtensions`,
  * which [[graft.Session]] sets on every session the engine builds — the
  * standard extension-injection path a user of the library would
  * configure on their own cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // portable HOF dot-product spellings → the fused codegen'd kernels
    // (strictly guarded pattern match; see FuseVectorOps)
    ext.injectOptimizerRule(_ => FuseVectorOps)
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(a, b) takes two arrays")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("int_dot_product"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "int_dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "int_dot_product(a, b) takes two arrays")
        IntDotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "winnow_fingerprints(text) takes one string")
        WinnowFingerprints(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_estimate"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_estimate(hash, k) takes two arguments")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"kmv_estimate(hash, k): k must be an INT literal, got $other")
        }
        // bare AggregateFunction: the analyzer wraps it in an
        // AggregateExpression like any built-in aggregate
        KmvSketch(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("mg_candidates"),
      new ExpressionInfo(classOf[MgCandidates].getName, "mg_candidates"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "mg_candidates(hash, k) takes two arguments")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"mg_candidates(hash, k): k must be an INT literal, got $other")
        }
        MgCandidates(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("cms_counts"),
      new ExpressionInfo(classOf[CmsCounts].getName, "cms_counts"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "cms_counts(key, depth, width) takes three arguments")
        val Seq(depth, width) = children.tail.map {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"cms_counts(key, depth, width): depth/width must be INT literals, got $other")
        }
        CmsCounts(children.head, depth, width)
      }))
    ext.injectFunction((
      FunctionIdentifier("hll_registers"),
      new ExpressionInfo(classOf[HllRegisters].getName, "hll_registers"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "hll_registers(hash, p) takes two arguments")
        val p = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"hll_registers(hash, p): p must be an INT literal, got $other")
        }
        HllRegisters(children.head, p)
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_values"),
      new ExpressionInfo(classOf[KmvValues].getName, "kmv_values"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_values(hash, k) takes two arguments")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"kmv_values(hash, k): k must be an INT literal, got $other")
        }
        KmvValues(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("bottom_k_sample"),
      new ExpressionInfo(classOf[BottomKSample].getName, "bottom_k_sample"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "bottom_k_sample(hash, value, k) takes three arguments")
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"bottom_k_sample(hash, value, k): k must be an INT literal, got $other")
        }
        BottomKSample(children.head, children(1), k)
      }))
  }
}
