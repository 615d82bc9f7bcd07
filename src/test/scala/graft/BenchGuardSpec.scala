package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 hardening (VERDICT r09 items 5+6), round-11 revision
  * (VERDICT r10 items 1+5): pins for the bench harness's two honesty
  * mechanisms.
  *
  *  1. ENVELOPE + MEASURE-AND-QUARANTINE — `Bench.withinEnvelope` is the
  *     single decision function the pre-flight probe and the end-of-run
  *     promotion share, now keyed by a per-host-tier table (the round-10
  *     builder-absolutist bars refused the driver host's STEADY state —
  *     cpu 454 Mops, io 138 MB/s — and blanked BENCH_r10 to an empty −1).
  *     This spec pins the tier verdicts on every historically-observed
  *     window, and lints that `main` measures-and-quarantines: a degraded
  *     window gets a full run tagged `window_degraded` (and routed to
  *     bench_unhealthy.json), never a refusal exit.
  *
  *  2. HONEST FORCING — round 9 measured a 170× under-count when
  *     `.count()` timing let Catalyst prune the timed work (q274's left
  *     join deleted wholesale). `graft.Force` executes via
  *     `queryExecution.toRdd` so the plan runs AS WRITTEN; the lint here
  *     pins that Bench/Profile time through Force and that nobody
  *     reintroduces `.count()` on a timed query result.
  */
class BenchGuardSpec extends AnyFunSuite {

  // ---- 1. envelope decision function ------------------------------------

  test("withinEnvelope: r09 driver window (io ok, cpu 444, par 10.5k) refuses") {
    // the exact axes the r09 driver bench started in — the motivating case
    assert(!Bench.withinEnvelope(430.0, 444.0, 10500.0, 32))
  }

  test("withinEnvelope: r08 collapsed window (cpu_end 261 Mops) refuses") {
    assert(!Bench.withinEnvelope(476.0, 261.0, 16000.0, 32))
  }

  test("withinEnvelope: io writeback throttle (88 MB/s) refuses") {
    assert(!Bench.withinEnvelope(88.0, 478.0, 16719.0, 32))
  }

  test("withinEnvelope: r08 par-loss window (cpu healthy, par high/low) refuses") {
    // single-thread cpu read HEALTHY (514-520 Mops) while parallel
    // throughput was gone — the axis round 8 proved discriminating
    assert(!Bench.withinEnvelope(450.0, 514.0, 10900.0, 32))
    assert(!Bench.withinEnvelope(450.0, 514.0, 21500.0, 32))
  }

  test("withinEnvelope: healthy reference window passes") {
    assert(Bench.withinEnvelope(457.0, 478.0, 16719.0, 32))
    // band edges are inclusive
    assert(Bench.withinEnvelope(300.0, 470.0, 11000.0, 32))
    assert(Bench.withinEnvelope(300.0, 470.0, 21000.0, 32))
  }

  test("withinEnvelope: par band gates only at the 32-thread baseline shape") {
    // on any other host shape the par axis is record-only (no committed
    // baseline band for that shape) — io+cpu still gate
    assert(Bench.withinEnvelope(450.0, 500.0, 5000.0, 16))
    assert(!Bench.withinEnvelope(450.0, 400.0, 5000.0, 16))
  }

  // ---- driver tier (round 11: VERDICT r10 items 1+5) ---------------------

  test("withinEnvelope: r10 driver steady state (io 138, cpu 454, par 12.6k) passes") {
    // the window the round-10 absolutist gate refused 4× — it is the
    // driver HOST's normal, not a degraded builder window
    assert(Bench.withinEnvelope(137.8, 454.0, 12619.0, 32))
  }

  test("withinEnvelope: driver-tier genuine io collapse (41 MB/s) refuses") {
    // the r09 end-of-run reading — a real writeback throttle, below even
    // the driver tier's floor
    assert(!Bench.withinEnvelope(41.0, 454.0, 12619.0, 32))
  }

  test("withinEnvelope: cpu below every tier band refuses") {
    // no committed tier covers a 400-Mops host; record-only, never promote
    assert(!Bench.withinEnvelope(450.0, 420.0, 16000.0, 32))
  }

  test("withinEnvelope: builder-host contention window (cpu 454, io 304) refuses") {
    // the round-11 first full-bench attempt: builder-volume io with
    // driver-band cpu is the BUILDER degraded (it read +24% vs the r10
    // reference), not the driver's normal — the joint (cpu, io)
    // fingerprint must not let it promote through the driver tier
    assert(!Bench.withinEnvelope(303.6, 454.0, 11241.0, 32))
    // the round-11 third attempt's start probe: io contended DOWN to 246
    // (cpu 451, steal 3%) — still the builder degraded, and still above
    // the driver volume's steady 130-140; the driver io cap must exclude it
    assert(!Bench.withinEnvelope(246.3, 451.0, 12908.0, 32))
  }

  test("sameTier: a cross-tier bracket is a contention signature, not a window") {
    // probe 24 of the round-11 contention evening: the contended builder
    // read (cpu 444, io 97.4) — INSIDE the driver rectangle — minutes
    // after builder-volume io 300+ readings. A run bracketed by one
    // builder-healthy and one driver-shaped probe cannot be a real host
    // (hardware identity is run-constant), so promotion requires tier
    // agreement at both ends
    assert(!Bench.sameTier(480.0, 400.0, 444.0, 97.4))
    assert(!Bench.sameTier(454.0, 137.8, 478.0, 500.0))
    // genuine windows: both ends the same fingerprint
    assert(Bench.sameTier(478.0, 433.8, 472.0, 319.3)) // r10 promoted run
    assert(Bench.sameTier(454.0, 137.8, 444.0, 130.0)) // driver steady state
    // no-tier ends never agree into a promotion
    assert(!Bench.sameTier(420.0, 450.0, 420.0, 450.0))
  }

  test("tierOf: the (cpu, io) fingerprint selects the tier exclusively") {
    // a builder-tier cpu must be held to builder bars — the driver
    // tier's lower io floor must not leak upward (io 88 at cpu 478
    // stays a refusal, as the round-7 throttle window was)
    assert(Bench.tierOf(478.0, 500.0).map(_.name).contains("builder"))
    assert(Bench.tierOf(478.0, 88.0).isEmpty)
    assert(Bench.tierOf(454.0, 137.8).map(_.name).contains("driver"))
    assert(Bench.tierOf(454.0, 303.6).isEmpty) // builder degraded, not driver
    assert(Bench.tierOf(420.0, 450.0).isEmpty)
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

  test("lint: BASELINE.md tier table matches Bench.envelopeTiers") {
    // the envelope constants are contractually "derived from a committed
    // table in BASELINE.md" (VERDICT r10 item 5) — pin doc and code
    // against each other so neither drifts silently
    val doc = source("BASELINE.md")
    val builder = Bench.envelopeTiers.find(_.name == "builder").get
    val driver = Bench.envelopeTiers.find(_.name == "driver").get
    assert(doc.contains(
      s"| builder | ≥ ${builder.cpuLo.toInt} | ≥ ${builder.ioLo.toInt} " +
        s"| [11,000, 21,000] @ ${builder.parThreads} |"),
      "BASELINE.md's builder tier row no longer matches Bench.envelopeTiers")
    assert(doc.contains(
      s"| driver | [${driver.cpuLo.toInt}, ${driver.cpuHi.toInt}) " +
        s"| [${driver.ioLo.toInt}, ${driver.ioHi.toInt}) " +
        s"| [11,000, 21,000] @ ${driver.parThreads} |"),
      "BASELINE.md's driver tier row no longer matches Bench.envelopeTiers")
    assert(builder.parLo == 11000 && builder.parHi == 21000 &&
      driver.parLo == 11000 && driver.parHi == 21000,
      "par band changed in code — update the [11,000, 21,000] doc rows AND this lint")
  }

  test("lint: Bench.main measures-and-quarantines, never refuses") {
    val b = source("src/main/scala/graft/Bench.scala")
    assert(b.contains("\"preflight_abort\":true"),
      "a degraded pre-flight must leave a parseable probe record")
    assert(b.contains("bench_preflight_abort.json"),
      "the probe record sidecar keeps the round-10 name for tooling")
    assert(b.contains("\"window_degraded\""),
      "the full-run JSON must carry the quarantine tag")
    assert(!b.contains("sys.exit"),
      "Bench must never refuse to measure (VERDICT r10 item 1: an empty " +
        "BENCH_rN is strictly less information than a quarantined one); " +
        "reserve non-zero exits for real failures, which throw")
    assert(b.contains("withinEnvelope(ioMbps, cpuMops, cpuParMops"),
      "the quarantine decision must use the shared envelope function")
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
