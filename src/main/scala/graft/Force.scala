package graft

import org.apache.spark.sql.DataFrame

/** Honest plan forcing for the timing harnesses (Bench / Profile /
  * Explain / tools.DensityProfile), and the one-job row count
  * `graph.Superstep` takes of each checkpointed frontier.
  *
  * `df.count()` plans an Aggregate ON TOP of the query, and Catalyst's
  * column pruning then legally deletes any work that only feeds pruned
  * output: the final projection's expressions, aggregate VALUES under a
  * parent that only needs the grouping keys, and — the expensive class —
  * whole subtrees whose only consumer was a pruned column (a left-join
  * right side that exists to produce one flag, a broadcast subquery
  * feeding a dropped measure). The round-9 audit caught q274's
  * fixed-holdout twin timing at 3.2 s under `.count()` vs 549.6 s when
  * every output column is computed — a 170× under-measurement, because
  * pruning `sum(hit)` deleted the left join, whose right side was the
  * entire train-corpus shingle scan.
  *
  * `queryExecution.toRdd` executes the query AS WRITTEN — no parent
  * aggregate exists, so every output column survives pruning and each
  * emitted `UnsafeRow` is fully materialized — while still never
  * collecting rows to the driver (partition-local counts only). The
  * correctness gate (Verify) is unaffected either way: it writes the
  * full result to parquet.
  */
object Force {
  def apply(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
