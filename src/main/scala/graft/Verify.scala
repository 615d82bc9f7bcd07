package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** One query that threw instead of writing its result. */
  final case class Failure(query: String, exceptionClass: String, message: String)

  /** Writes each query's result to `outDir/<name>` as parquet. A query that
    * throws is recorded, not fatal: every failure goes to stderr and to
    * `outDir/verify_errors.json` (a JSON list of query, exception class
    * and message; `[]` when all pass), and a final
    * `[verify] N ok, M failed` line closes the run. Returns the failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Failure] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(Failure(name, e.getClass.getName, Option(e.getMessage).getOrElse("")))
      }
    }
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), failures.map { f =>
      s"""{"query":${q(f.query)},"exception_class":${q(f.exceptionClass)},"message":${q(f.message)}}"""
    }.mkString("[", ",", "]"))
    System.err.println(s"[verify] ${queries.size - failures.size} ok, ${failures.size} failed")
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in the oracle SQL would otherwise make a consumer's
  // json.load fail and silently zero the run's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE right-size partitions inside cached plans: small cached
      // frames coalesce to few partitions, huge ones keep parallelism --
      // the scale-adaptive alternative to hand-tuned coalesce() calls
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // coalesce post-shuffle partitions by byte size, not parallelism:
      // tiny intermediate shuffles collapse to single-task stages while a
      // 100 TB shuffle still fans out to thousands of partitions
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // single-node harness: scratch I/O on tmpfs so host writeback
      // throttling can't masquerade as engine time (see graft.Scratch)
      .config("spark.local.dir", Scratch.root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // record the scratch medium: a silent tmpfs→disk fallback would make
    // runs non-comparable across hosts with no visible signal
    System.err.println(s"[graft.Verify] scratch=${Scratch.root}")
    // SPARK_GRAFT_ONLY=q116,q117 — builder-side single-query iteration;
    // unset (the driver's invocation) runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    // failures are reported by dump's sidecar and summary line; the exit
    // code stays 0 either way, the oracle compare downstream is the gate
    dump(spark, sfDir, outDir, SparkEntry.queries.toSeq.filter(kv => selected(kv._1)))
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
