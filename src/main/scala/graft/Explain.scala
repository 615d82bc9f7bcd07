package graft

/** Plan inspector: prints the formatted physical plan Bench executes
  * (same [[Session]] conf, so AQE settings, `FuseVectorOps` and the
  * injected functions included) and times each named query through
  * [[Force]] — the ".explain and iterate" loop.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * With no names, explains every registered query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Session.build()
    Registry.all
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        val df = q.run(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        val t0 = System.nanoTime()
        val n = Force(df)
        println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
    spark.stop()
  }
}
