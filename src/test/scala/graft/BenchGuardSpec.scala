package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the bench harness's two honesty mechanisms.
  *
  *  1. NOISE BOUND, NOT HOST GATE — each query runs cold and then
  *     `Bench.WarmRuns` times warm; the warm median and spread (max − min)
  *     are its noise bound. Calibration probes are record-only: Bench
  *     never refuses to measure, and reads no knob beyond its input,
  *     selection and output path.
  *
  *  2. HONEST FORCING — round 9 measured a 170× under-count when
  *     `.count()` timing let Catalyst prune the timed work (q274's left
  *     join deleted wholesale). `graft.Force` executes via
  *     `queryExecution.toRdd` so the plan runs AS WRITTEN; the lint here
  *     pins that Bench/Profile time through Force and that nobody
  *     reintroduces `.count()` on a timed query result.
  */
class BenchGuardSpec extends AnyFunSuite {

  // ---- 1. warm repeats ---------------------------------------------------

  test("warmSummary: median and max − min of the warm samples") {
    assert(Bench.warmSummary(Seq(2.0, 5.0, 3.0)) == (3.0, 3.0))
    assert(Bench.warmSummary(Seq(4.0, 1.0, 3.0, 2.0)) == (2.5, 3.0))
    assert(Bench.warmSummary(Seq(1.5)) == (1.5, 0.0))
  }

  // ---- source lints ------------------------------------------------------

  private def source(rel: String): String = {
    // walk up from the forked test JVM's cwd to the directory holding
    // build.sbt, so a Test/fork baseDirectory change degrades loudly
    // (a lint failure naming the assumption) instead of a silent
    // file-not-found vacuously skipping the guard
    var root = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", ".")).toAbsolutePath
    while (root != null && !java.nio.file.Files.exists(root.resolve("build.sbt")))
      root = root.getParent
    assert(root != null,
      s"no build.sbt found walking up from ${sys.props("user.dir")} — " +
        "the source lints assume the test JVM runs somewhere under the repo")
    val p = root.resolve(rel)
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("lint: Bench reads only its input, selection and output env vars") {
    val b = source("src/main/scala/graft/Bench.scala")
    val keys = """sys\.env[.a-zA-Z]*\("([A-Za-z0-9_.]+)"""".r
      .findAllMatchIn(b).map(_.group(1)).toSet
    assert(keys == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_BENCH_OUT"),
      s"Bench env vars: $keys")
    assert(!b.contains("sys.exit"),
      "Bench must never refuse to measure (VERDICT r10 item 1: an empty " +
        "BENCH_rN is strictly less information than a measured one); " +
        "reserve non-zero exits for real failures, which throw")
  }

  // ---- 2. honest-forcing lint -------------------------------------------

  test("lint: Force executes via toRdd, never a parent count aggregate") {
    val f = source("src/main/scala/graft/Force.scala")
    assert(f.contains("queryExecution.toRdd"),
      "Force must execute the plan AS WRITTEN (toRdd), not under an " +
        "Aggregate whose column pruning deletes timed work")
  }

  test("lint: Bench times queries through Force, not .count()") {
    val b = source("src/main/scala/graft/Bench.scala")
    assert(b.contains("Force(fn(spark, sfDir))"),
      "Bench's timed region must force via graft.Force")
    assert(!b.contains("fn(spark, sfDir).count"),
      ".count() timing lets Catalyst prune timed work (measured 170× " +
        "under-count on q274's twin in round 9)")
  }

  test("lint: Profile's bench-mirror mode times through Force") {
    val p = source("src/main/scala/graft/Profile.scala")
    assert(p.contains("Force(q.run(spark, sfDir))"),
      "Profile queries mode must force via graft.Force")
    assert(!p.contains("q.run(spark, sfDir).count"),
      "no .count() timing on registered queries")
    // Explain prints and times the same registered-query plans
    val e = source("src/main/scala/graft/Explain.scala")
    assert(e.contains("Force(df)"), "Explain must time via graft.Force")
    assert(!e.contains("df.count"), "no .count() timing in Explain")
  }
}
