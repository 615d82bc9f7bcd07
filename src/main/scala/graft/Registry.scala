package graft

/** All registered engine queries, one per SURVEY.md §2 operator (plus the
  * training-data-pipeline extensions). SparkEntry derives its `queries` /
  * `oracleSql` maps from this list.
  */
object Registry {
  def all: Seq[Q] =
    queries.Relational.all ++
      queries.TextPipeline.all ++
      queries.Embeddings.all ++
      queries.MultimodalQ.all ++
      queries.Graphs.all ++
      queries.Domain.all ++
      queries.StreamingQ.all

  /** The `SPARK_GRAFT_ONLY` query selection: a comma-separated list of
    * name prefixes; blank entries are ignored and `None` selects all. */
  def selector(only: Option[String]): String => Boolean = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    name => prefixes.forall(_.exists(name.startsWith))
  }
}
