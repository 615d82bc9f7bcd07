package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark program over the testdata tables
  * plus an equivalent DuckDB oracle query. The driver hash-compares both
  * at sf0.01 (BASELINE.md correctness contract).
  *
  * Determinism rules every query follows so Spark and DuckDB hash-match:
  *   - every output column is explicitly aliased, same name both sides;
  *   - aggregate sums of doubles go through `DECIMAL(28,10)` (exact,
  *     order-independent) and are cast back to double at the end;
  *   - per-row double arithmetic is emitted raw (bit-identical IEEE on
  *     both engines), never `round()`ed (engines disagree on tie-breaks);
  *   - integer outputs are cast to bigint on both sides (DuckDB SUM(int)
  *     is HUGEINT, Spark's is long);
  *   - all window orderings carry a unique tie-break column.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    doc: String = "")

object Q {
  def sql(name: String, oracle: String, doc: String = "")(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, oracle, doc)
}
