package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark launch: a fresh JVM and a fresh `local[nproc]` session,
  * one cold pass over the workload's queries, then warm passes in the same
  * session until they have taken `seconds` (at least three warm passes).
  * A single driver thread submits the queries one after another (closed
  * loop, one client).
  *
  * Usage (started by `perfbench/run.py`):
  * {{{
  * Harness <stagedDir> <q1,q2,...> <seconds> <trace 0|1> <layerSplit 0|1> <outJson> <dumpDir|->
  * }}}
  * Writes one JSON object to `outJson`, including each query's output
  * digest ([[digest]]), taken after the timed passes. With trace 1 it adds
  * the layer metrics and writes the span file next to `outJson`. A
  * `dumpDir` also receives each result as parquet and the queries' DuckDB
  * oracle SQL in `oracle_sql.json` (how `make_expected.py` ties the
  * digests to the oracle).
  */
object Harness {

  final case class Exec(query: String, pass: Int, wallS: Double, rows: Long,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(dataDir, qList, secondsArg, traceArg, splitArg, outPath, dumpDir) = args
    val names = qList.split(",").toSeq
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val registry = graft.SparkEntry.queries
    names.foreach(n => require(registry.contains(n), s"unknown query $n"))

    val spark = session(traced)
    phase("session built")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    warmUp(spark, dataDir)
    phase("warm-up done")
    drainCache()
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    // setup ends here: the first query is submitted next
    val firstSubmitUs = epochMicros()
    val execs = mutable.ArrayBuffer[Exec]()
    def pass(p: Int): Double = {
      tracer.foreach(_.passStart(p))
      val t0 = System.nanoTime()
      names.foreach { n =>
        tracer.foreach(_.queryStart(n, p))
        val q0 = System.nanoTime()
        // graft.Force computes every output column; an exception is a
        // failed execution, never a timing
        var df: Option[DataFrame] = None
        val (rows, err) =
          try {
            df = Some(registry(n)(spark, dataDir))
            (graft.Force(df.get), None)
          } catch { case e: Throwable =>
            (-1L, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"))
          }
        val wall = (System.nanoTime() - q0) / 1e9
        val builds = drainCache()
        tracer.foreach(_.queryEnd(n, p, builds, df))
        execs += Exec(n, p, wall, rows, err)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.passEnd(p))
      dt
    }

    val gc0 = gcSeconds()
    val cpu0 = cpuBean.getProcessCpuTime
    val cold = pass(0)
    val cpuCore = (cpuBean.getProcessCpuTime - cpu0) / 1e9
    val coldGc = gcSeconds() - gc0
    phase("cold pass done")
    // every build has filled its cache by now, so the cached live set is at
    // its peak; later passes only add per-job status records
    val liveMb = heapLiveMb()
    val coldLayers = tracer.map(_.snapshot(coldGc))

    val warm = mutable.ArrayBuffer[Double]()
    val warmStart = System.nanoTime()
    while (warm.size < 3 || (System.nanoTime() - warmStart) / 1e9 < seconds)
      warm += pass(warm.size + 1)
    phase("warm passes done")

    val digests = names.map(n => n -> digest(registry(n)(spark, dataDir)))
    if (dumpDir != "-") {
      names.foreach { n =>
        registry(n)(spark, dataDir).write.mode("overwrite")
          .parquet(Paths.get(dumpDir, n).toString)
      }
      val oracle = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
        names.flatMap(n => oracle.get(n).map(sql => Json.str(n) + ":" + Json.str(sql)))
          .mkString("{", ",", "}"))
    }

    phase("outputs digested")
    // runs after the timed passes, from a cleared cache so each frame pays
    // its own fill
    val split = if (splitArg == "1") tracer.map(_.layerSplit(dataDir)).getOrElse(Nil) else Nil

    val out = new StringBuilder
    out ++= s"""{"first_submit_us":$firstSubmitUs,"cold_pass_s":$cold,"warm_pass_s":${warm.mkString("[", ",", "]")}"""
    out ++= s""","cpu_core_s":$cpuCore,"heap_live_peak_mb":$liveMb,"cores":${spark.sparkContext.defaultParallelism}"""
    out ++= ",\"digests\":" + digests.map { case (n, (rows, sha)) =>
      s"${Json.str(n)}:{\"rows\":$rows,\"sha256\":\"$sha\"}"
    }.mkString("{", ",", "}")
    out ++= ",\"execs\":" + execs.map { e =>
      s"""{"query":${Json.str(e.query)},"pass":${e.pass},"wall_s":${e.wallS},"rows":${e.rows},"error":${e.error.map(Json.str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    (coldLayers, tracer) match {
      case (Some(layers), Some(t)) =>
        out ++= ",\"layers\":" + Json.obj(layers ++ split)
        out ++= ",\"spans\":" + Json.str(t.writeSpans(outPath + ".spans.jsonl"))
      case _ =>
    }
    out ++= "}"
    phase("layers done")
    spark.stop()
    phase("session stopped")
    Files.writeString(Paths.get(outPath), out.toString)
  }

  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $what")

  /** The session `graft.Bench` builds (AQE settings, UTC, GraftExtensions),
    * with scratch under the working directory. */
  def session(traced: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val local = Paths.get("spark-local").toAbsolutePath.toString
    val b = SparkSession.builder()
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    b.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** (rows, sha256) of a result, independent of row order: each row is
    * rendered with its columns in name order ([[render]]), the lines are
    * sorted, and the column names and types lead the hashed text. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.indices.sortBy(i => (df.columns(i), i))
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val head = order.map(i => df.columns(i) + ":" + df.schema(i).dataType.simpleString)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (head.mkString(",") +: lines).foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    (lines.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** A value as text that does not depend on the JVM's time zone or on
    * map iteration order; NaN reads as null, as in the oracle gate. */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "null" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "null" else java.lang.Float.toString(f)
    case t: java.sql.Timestamp => s"ts(${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos})"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("map(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Same warm-up as `graft.Bench`: codegen, parquet reader, shuffle. */
  def warmUp(spark: SparkSession, dataDir: String): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$dataDir/region.parquet").count()
    spark.range(100)
      .groupBy((org.apache.spark.sql.functions.col("id") % 4).as("k"))
      .count().collect()
  }

  /** Builds recorded by `graft.SessionCache` since the last drain, as
    * (key, self-seconds). */
  def drainCache(): Seq[(String, Double)] = {
    val b = Seq.newBuilder[(String, Double)]
    var e = graft.SessionCache.builds.poll()
    while (e != null) { b += e; e = graft.SessionCache.builds.poll() }
    b.result()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  def epochMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Old-generation occupancy right after a full collection, in MB: the
    * live set held by cached frames and session state. */
  def heapLiveMb(): Double = {
    // a pause for the listener bus and ContextCleaner to catch up, then
    // two collections with a pause: the first queues finalizable and
    // weakly held objects (the cleaner drops unreachable broadcasts and
    // cached blocks asynchronously) that only the second can free
    Thread.sleep(1000); System.gc(); Thread.sleep(250); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")
}
