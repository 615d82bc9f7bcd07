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
    val spark = Session.build()
    // record the scratch medium: a silent tmpfs→disk fallback would make
    // runs non-comparable across hosts with no visible signal
    System.err.println(s"[graft.Verify] scratch=${Scratch.root}")
    // SPARK_GRAFT_ONLY=q116,q117 — single-query iteration; unset runs everything
    val selected = Registry.selector(sys.env.get("SPARK_GRAFT_ONLY"))
    // failures are reported by dump's sidecar and summary line; the exit
    // code stays 0 either way, the oracle compare downstream is the gate
    dump(spark, sfDir, outDir, SparkEntry.queries.toSeq.filter(kv => selected(kv._1)))
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
