package graft

/** Full-surface timing record: every registered query (or the
  * `SPARK_GRAFT_ONLY` subset) on the staged `SPARK_GRAFT_SF_DIR`, once
  * cold and then [[Bench.WarmRuns]] times warm. Prints one JSON line and
  * writes it, plus the per-query warm medians and spreads, to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_last.json`). Host calibration
  * probes are recorded, never used to accept or refuse a run. */
object Bench {
  import java.nio.file.{Files, Path, Paths, StandardOpenOption}
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Measured buffered-write+fsync throughput (MB/s) on the volume holding
    * `probeDir` — the in-JVM equivalent of `dd conv=fsync`. The harness
    * host intermittently throttles buffered writeback to ~20 MB/s (vs
    * 200+ MB/s healthy), inflating any timing that touches the volume by
    * 10-50x. Emitting this alongside the timings lets a consumer of the
    * bench JSON tell an engine regression from a throttle window.
    */
  def ioCalibrationMbps(probeDir: String, mb: Int = 100): Double = {
    val f = Files.createTempFile(Paths.get(probeDir), "graft-iocal", ".bin")
    try {
      val chunk = new Array[Byte](1 << 20)
      scala.util.Random.nextBytes(chunk) // defeat any block dedup/compression
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < mb) { ch.write(java.nio.ByteBuffer.wrap(chunk)); i += 1 }
        ch.force(true) // fsync: include writeback, the throttled path
      } finally ch.close()
      mb / ((System.nanoTime() - t0) / 1e9)
    } finally Files.deleteIfExists(f)
  }

  /** Recursive copy of the sf directory into RAM-backed scratch, done
    * OUTSIDE the timed region. Input parquet reads are the one I/O path
    * `spark.local.dir`-on-tmpfs can't shield; one untimed copy (sf0.1 is
    * ~17 MB) makes every timed query's I/O RAM-backed. On a real cluster
    * inputs live on a distributed store and this staging step is moot.
    * The copy is deleted at JVM exit ([[Scratch.tempDir]]).
    */
  def stageInput(sfDir: String): String = {
    val src = Paths.get(sfDir)
    val dst = Scratch.tempDir("bench-sf")
    // Files.list streams hold an open directory fd until closed — always
    // try/finally them or each directory visited leaks a descriptor
    def children(p: Path): Seq[Path] = {
      val st = Files.list(p)
      try {
        val it = st.iterator(); val b = Seq.newBuilder[Path]
        while (it.hasNext) b += it.next()
        b.result()
      } finally st.close()
    }
    def copy(s: Path, d: Path): Unit =
      if (Files.isDirectory(s)) {
        Files.createDirectories(d)
        children(s).foreach(c => copy(c, d.resolve(c.getFileName)))
      } else Files.copy(s, d)
    copy(src, dst.resolve(src.getFileName))
    dst.resolve(src.getFileName).toString
  }

  /** Single-thread CPU calibration: fixed xorshift-mix work, reported as
    * M ops/s. The r6→r7 regression hunt's lesson: the host can lose
    * ~35% effective CPU speed across measurement windows while
    * io_calibration AND cpu_steal both look healthy (same-code A/B:
    * the r5 snapshot re-benched 96.4 s → 148.2 s same surface, io
    * 457 MB/s, steal 0.01) — frequency scaling / SMT-neighbor effects
    * show up in no /proc/stat field, so the bench must carry its own
    * CPU yardstick for cross-window comparability. */
  def cpuCalibrationMops(iters: Long = 400000000L): Double = {
    var x = 0x9E3779B97F4A7C15L
    // untimed warm-up: the first (start-of-run) call otherwise bills
    // interpreter/OSR compilation of this very loop to the measurement,
    // making start vs end Mops not like-for-like
    var w = 0L
    while (w < 10000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      w += 1
    }
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // fold x into the result so the loop cannot be dead-code eliminated
    val dt = (System.nanoTime() - t0) / 1e9
    (iters / 1e6) / dt + (x & 1) * 1e-9
  }

  /** ALL-CORES calibration: the same xorshift yardstick run on one
    * thread per host core at once, reported as summed M ops/s. The
    * single-thread probe is not enough: in round 8 two same-surface runs
    * read 1.45-1.52× the healthy reference while single-thread
    * calibration was FASTER (514-520 vs 471-478 Mops) — the host had lost
    * parallel throughput (SMT neighbors / core allocation), which no
    * per-thread or /proc/stat field shows. Record-only: it describes the
    * host next to the timings and gates nothing. */
  val parCalibrationThreads: Int = Runtime.getRuntime.availableProcessors
  def cpuCalibrationParMops(threads: Int = parCalibrationThreads,
      iters: Long = 100000000L): Double = {
    val mops = new java.util.concurrent.atomic.DoubleAdder
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var w = 0L
        while (w < 10000000L) { // per-thread JIT warm-up, untimed
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          w += 1
        }
        var i = 0L
        val t0 = System.nanoTime()
        while (i < iters) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          i += 1
        }
        val dt = (System.nanoTime() - t0) / 1e9
        mops.add((iters / 1e6) / dt + (x & 1) * 1e-9)
      })
    }
    pool.foreach(_.start())
    pool.foreach(_.join())
    mops.sum()
  }

  /** (steal, total) jiffies from the aggregate /proc/stat cpu line; the
    * delta across the run exposes host CPU contention — the round-5
    * observation that a throttle window can ALSO steal cycles, smearing
    * +50% across every query while tmpfs I/O stays healthy. */
  def cpuStatTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val parts = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (parts(7), parts.sum) // steal is field 8 (0-indexed 7)
      } finally f.close()
    }.toOption

  /** Locale-pinned double formatting for JSON fields: the `f`
    * interpolator is default-locale-sensitive (a de_DE JVM emits comma
    * decimal separators — invalid JSON). */
  def num(fmt: String, d: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(d))

  /** JSON string literal with the same control-char/quote scrubbing the
    * error map uses — env-controlled values (the sf dir) and cache keys
    * (contain paths) must not be interpolated raw. */
  def jstr(s: String): String =
    "\"" + s.map(c => if (c == '"' || c == '\\' || c < ' ') ' ' else c) + "\""

  /** Warm repeats per query, run right after its cold run through the
    * same timing; their median and spread are the query's noise bound. */
  val WarmRuns = 3

  /** (median, max − min) of one query's warm samples. A per-query change
    * between two runs counts only when it moves beyond both spreads. */
  def warmSummary(samples: Seq[Double]): (Double, Double) = {
    val s = samples.sorted
    val n = s.size
    val median = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    (median, s.last - s.head)
  }

  /** One timed execution of a query. */
  final case class Run(netSec: Double, rawSec: Double, err: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDirRaw = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = Registry.selector(sys.env.get("SPARK_GRAFT_ONLY"))
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    // Record-only host calibration at both ends of the run; the volume
    // probe goes BEFORE staging reads warm the page cache
    val ioMbps = ioCalibrationMbps(sys.props("java.io.tmpdir"))
    val cpuMops = cpuCalibrationMops()
    val cpuParMops = cpuCalibrationParMops()
    val cpu0 = cpuStatTicks()
    val sfDir = stageInput(sfDirRaw)
    System.err.println(
      f"[graft.Bench] scratch=${Scratch.root} staged=$sfDir io_calibration=$ioMbps%.1f MB/s")
    val spark = Session.build()
    // warm up session machinery (codegen compiler, parquet reader, shuffle)
    // so the first measured query isn't billed for one-time init
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.range(100)
      .groupBy((org.apache.spark.sql.functions.col("id") % 4).as("k"))
      .count().collect()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => selected(kv._1))
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    var gcTotal = 0L
    // One-time session-cache builds, split out of per-query lines
    // (VERDICT r10 item 3): whichever query runs FIRST in a family pays
    // the family's shared build (q202's 19.08 s line was ~95% the domain
    // pipeline build; its steady state is sub-second), so registry order
    // polluted round-over-round per-query diffs. SessionCache now times
    // every build (self-time, nesting-aware); the drain below attributes
    // that wall to the CACHE KEY in "session_build_sec" and nets it out
    // of the query's line. "value" stays the RAW total (builds included)
    // so totals remain comparable with every prior round's.
    val sessionBuild = scala.collection.mutable.LinkedHashMap[String, Double]()
    def drainBuilds(): Double = {
      var sum = 0.0
      var b = SessionCache.builds.poll()
      while (b != null) {
        sum += b._2
        // keys embed the per-run staged input path — normalize so the
        // session_build_sec map diffs cleanly across rounds
        val k = b._1.replace(sfDir, "<sf>")
        sessionBuild(k) = sessionBuild.getOrElse(k, 0.0) + b._2
        b = SessionCache.builds.poll()
      }
      sum
    }
    drainBuilds() // warm-up-phase builds belong to no query
    def timed(name: String, fn: (SparkSession, String) => DataFrame): Run = {
      val t0 = System.nanoTime()
      val g0 = gcMillis()
      // a failed query must be visible as a failure, never as a timing;
      // Force (not .count()) so column pruning can't delete timed work
      val err = try { Force(fn(spark, sfDir)); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}")
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val gq = gcMillis() - g0
      gcTotal += gq
      val buildSec = drainBuilds()
      // attribute session-cache builds/evictions and GC stalls to the
      // query that paid for them (the r6->r7 in-session regression hunt)
      var ev = List.empty[String]
      var e = SessionCache.events.poll()
      while (e != null) { ev ::= e; e = SessionCache.events.poll() }
      if (ev.nonEmpty || gq > 500) System.err.println(
        f"[graft.Bench] $name%-28s $dt%7.2fs gc=${gq / 1000.0}%.1fs" +
          (if (buildSec > 0.005) f" build=$buildSec%.2fs" else "") +
          (if (ev.nonEmpty) s" cache: ${ev.reverse.mkString("; ")}" else ""))
      // per-query line = wall MINUS in-query shared-cache build time
      // (self-times sum ≤ wall by construction; clamp guards clock skew)
      Run(math.max(0.0, dt - buildSec), dt, err)
    }
    // (name, cold run, warm runs, first error): a failed cold run is not
    // repeated; a failed warm run fails the query like a failed cold one
    val results = ordered.map { case (name, fn) =>
      val cold = timed(name, fn)
      val warm = if (cold.err.isDefined) Nil else List.fill(WarmRuns)(timed(name, fn))
      (name, cold, warm, cold.err.orElse(warm.flatMap(_.err).headOption))
    }
    val warmStats = results.collect { case (k, _, w, None) =>
      k -> warmSummary(w.map(_.netSec))
    }
    // ms resolution: full double precision added ~2.5 KB of digits to a
    // line the driver is known to truncate (see sidecar note below)
    def qmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + num("%.3f", v) }.mkString("{", ",", "}")
    val qs = qmap(results.map { case (k, c, _, _) => k -> c.netSec })
    val sessionBuildJson = sessionBuild
      .map { case (k, v) => jstr(k) + ":" + num("%.3f", v) }
      .mkString("{", ",", "}")
    val sessionBuildTotal = sessionBuild.values.sum
    val failures = results.flatMap { case (k, _, _, err) => err.map(k -> _) }
    // escape like Verify.q(): ANY control char would invalidate the JSON
    val errs = failures.map { case (k, m) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = results.map(_._2.rawSec).sum // RAW cold wall incl. builds
    val warmTotal = warmStats.map(_._2._1).sum
    // End calibration after spark.stop() + a short settle: inside the live
    // session the probes read the bench's own exhaust (executor pools
    // winding down, streaming temp cleanup, GC), not the host.
    spark.stop()
    System.gc()
    Thread.sleep(2000)
    val ioEnd = ioCalibrationMbps(sys.props("java.io.tmpdir"))
    val cpuMopsEnd = cpuCalibrationMops()
    val cpuParMopsEnd = cpuCalibrationParMops()
    val stealPct = (for ((s0, t0) <- cpu0; (s1, t1) <- cpuStatTicks()
      if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(-1.0)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"failed":${failures.size},"sf":${jstr(sfDirRaw)},"staged_input":true,"warm_runs":$WarmRuns,"warm_total_sec":${num("%.2f", warmTotal)},"session_build_sec":$sessionBuildJson,"session_build_total_sec":${num("%.2f", sessionBuildTotal)},"io_calibration_mbps":${num("%.1f", ioMbps)},"io_calibration_end_mbps":${num("%.1f", ioEnd)},"cpu_steal_pct":${num("%.2f", stealPct)},"cpu_calibration_mops":${num("%.0f", cpuMops)},"cpu_calibration_end_mops":${num("%.0f", cpuMopsEnd)},"cpu_calibration_par_mops":${num("%.0f", cpuParMops)},"cpu_calibration_par_end_mops":${num("%.0f", cpuParMopsEnd)},"cpu_calibration_par_threads":$parCalibrationThreads,"gc_sec":${num("%.1f", gcTotal / 1000.0)},"cache_hits":${SessionCache.hits}}"""
    println(json)
    // sidecar: the driver's stdout capture truncates long lines (BENCH_r05
    // lost q01-q29), so round-over-round per-query diffs need the full map
    // durable on disk too; the per-query warm maps go only here
    val sidecar = json.dropRight(1) +
      s""","warm_sec":${qmap(warmStats.map { case (k, (m, _)) => k -> m })},"warm_spread_sec":${qmap(warmStats.map { case (k, (_, s)) => k -> s })}}"""
    scala.util.Try(Files.write(Paths.get(outPath), (sidecar + "\n").getBytes("UTF-8")))
  }
}
