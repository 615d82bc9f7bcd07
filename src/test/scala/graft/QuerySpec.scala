package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke-level checks on every registered query: runs at sf0.001, asserts
  * schema sanity and (where cheap) semantic invariants. Deep value
  * correctness is the driver's DuckDB oracle gate (tools/check_oracle.py
  * replays it locally).
  */
class QuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("registry names are unique and well-formed") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("[a-z0-9_]+")))
  }

  for (q <- Registry.all) {
    test(s"${q.name} runs and returns rows") {
      val df = q.run(spark, dir)
      val n = df.count()
      assert(n > 0, s"${q.name} returned no rows at sf0.001")
      // Columns must be explicitly named (no auto-generated agg names) so
      // the driver's column-name-sorted hash compare lines up with the
      // oracle.
      assert(df.columns.forall(c => !c.contains("(")),
        s"${q.name} leaks an unaliased column: ${df.columns.mkString(",")}")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
