package graft.tools

/** Measurement harness for the q95b IVF default (round-6 item): sweeps
  * the (k cells, nprobe) grid under the existing recall harness and
  * prints mean recall@5, the fraction of the corpus each probe scans
  * (the cost that matters at 100 TB — the exact scan is scan = 1.0),
  * and wall time per point. Run:
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.tools.IvfSweep"
  * }}}
  *
  * The chosen default is recorded in q95b's scaladoc
  * (`queries/Embeddings.scala`) together with this harness's output.
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.build()
    println(s"[ivf-sweep] dir=$dir")
    println("k\tnprobe\trecall@5\tscan_frac\tsec")
    for (k <- Seq(8, 16, 32); np <- Seq(1, 2, 4) :+ k if np <= k) {
      val t0 = System.nanoTime()
      val (recall, frac) = graft.queries.Embeddings.ivfSweepPoint(spark, dir, k, np)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$k%d\t$np%d\t$recall%.3f\t$frac%.3f\t$sec%.1f")
    }
    spark.stop()
  }
}
