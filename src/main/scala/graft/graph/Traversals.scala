package graft.graph

import org.apache.spark.graphx.{EdgeDirection, Graph}

/** GraphX traversal analytics over the exported hetero graph — the
  * in-engine form of the reference's graph navigation (its
  * `docs/index.md:119-122`).
  */
object Traversals {

  /** Multi-source BFS hop depth via Pregel, edges treated as UNDIRECTED:
    * vertices satisfying `isSource` start at 0, everything else converges
    * to its minimum hop distance. Each stored edge carries messages both
    * ways, so callers pass the raw directed edge set — no reversed-edge
    * duplication (half the edge RDD of the materialize-both-directions
    * form). Cycle-safe: min-plus messages strictly decrease, so
    * convergence takes diameter supersteps regardless of cycles.
    * Unreached vertices keep Long.MaxValue. */
  def bfsDepth[V: scala.reflect.ClassTag](
      graph: Graph[V, String], isSource: V => Boolean): Graph[(V, Long), String] = {
    val init = graph.mapVertices((_, v) => (v, if (isSource(v)) 0L else Long.MaxValue))
    init.pregel(Long.MaxValue, activeDirection = EdgeDirection.Either)(
      (_, attr, msg) => (attr._1, math.min(attr._2, msg)),
      triplet => {
        val fwd =
          if (triplet.srcAttr._2 != Long.MaxValue &&
              triplet.srcAttr._2 + 1 < triplet.dstAttr._2)
            Iterator((triplet.dstId, triplet.srcAttr._2 + 1))
          else Iterator.empty
        val bwd =
          if (triplet.dstAttr._2 != Long.MaxValue &&
              triplet.dstAttr._2 + 1 < triplet.srcAttr._2)
            Iterator((triplet.srcId, triplet.dstAttr._2 + 1))
          else Iterator.empty
        fwd ++ bwd
      },
      math.min)
  }
}
