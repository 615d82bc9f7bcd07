package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver's testdata tables; SQL-expressible ones
  * carry a DuckDB oracle for the hash-compare correctness gate.
  */
object SparkEntry {

  def registered: Seq[Q] = Registry.all

  /** Flagship query (SURVEY §7.2's end-to-end slice: lineup stints with
    * plus-minus through the full stint-fold → as-of-attribution → score
    * pipeline); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    _root_.graft.queries.Domain.q60StintPlusMinus.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registered.map(q => q.name -> q.oracle).toMap
}
