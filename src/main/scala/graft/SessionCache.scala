package graft

import java.lang.ref.SoftReference
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import org.apache.spark.sql.SparkSession

/** The one per-session memo cache behind every "build this frame once per
  * (session, sf dir)" site (shingle index, char-gram index, game
  * pipeline, PyG export, graph edge frames, streaming sink paths).
  *
  * Two disciplines, both load-bearing:
  *
  *  - '''Memoized-future shape''' (same as the r4 `streamOnce` fix): the
  *    map only ever holds a cheap `putIfAbsent` of an empty future; the
  *    winner runs `build` OUTSIDE any map lock, losers block on the
  *    future — a slow build never blocks unrelated keys on a hash-bin
  *    lock, and a failed build is evicted rather than poisoning the key.
  *
  *  - '''Weak session keying''': the outer map is a `WeakHashMap` keyed
  *    by the session, so a long-lived multi-session JVM (notebook
  *    server, test matrix) can't have dead sessions pinned by this
  *    static registry. `WeakHashMap`'s contract requires that values
  *    not strongly reference their keys — a cached `DataFrame` DOES
  *    reference its session — so session-referencing values are held
  *    through a [[java.lang.ref.SoftReference]] ([[once]]). Soft, not
  *    weak, deliberately: a weakly-held frame is cleared at the first
  *    GC after the query that used it returns, and a rebuild is NOT
  *    free — plans holding a `LogicalRDD` (the PyG export's dense
  *    ids, the typed game pipeline) never canonicalize equal to
  *    their previous incarnation, so the session `CacheManager` cannot
  *    resurrect the materialized data and the whole build re-runs (a
  *    measured 3.7 s → 15 s regression on the BFS query when this was
  *    a `WeakReference`). A soft ref survives ordinary GC and is
  *    cleared only under memory pressure, which bounds the worst case:
  *    a dead session's frames linger at most until the heap needs the
  *    space, never to OOM. Values that provably do NOT reference the
  *    session (e.g. sink path strings) use [[onceStrong]] and are
  *    never re-built.
  */
object SessionCache {

  /** Observability (r6→r7 regression hunt): every memo build appends a
    * `build <key>` event; a soft-cleared value detected at lookup appends
    * `cleared <key>` before its rebuild; plain hits only bump [[hits]].
    * `Bench` drains [[events]] per query to attribute in-session cache
    * pressure to the query that paid for it. Bounded twice over: one
    * entry per build/eviction (never per lookup), and a hard drop-oldest
    * cap — only Bench ever drains the queue, so a long-lived non-bench
    * session (Verify, spec matrix, notebook) would otherwise accumulate
    * one string per build forever. */
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String] {
    private val cap = 1024
    override def add(e: String): Boolean = {
      while (size() >= cap) poll()
      super.add(e)
    }
  }

  /** `(key, self-seconds)` per memo build — drained by `Bench` per query
    * to split one-time session-cache builds out of the per-query timing
    * lines (the q202 head was ~95% the shared domain-pipeline build;
    * whichever query runs first in a family paid it, so registry order
    * polluted round-over-round per-query diffs). Self-time EXCLUDES
    * nested builds (a build that triggers another key's build reports
    * only its own wall), so summing a drain is wall-additive and the
    * subtraction in Bench can never exceed the query's measured wall.
    * Only captures work done INSIDE build blocks — eager builds (the
    * LPA `localCheckpoint`, stream runs behind `onceStrong`) are fully
    * captured; a lazily `.cache()`-marked frame's FILL still bills to
    * the first query that forces it. One accounting caveat: the
    * nesting ledger is a ThreadLocal, so a memo build reached from a
    * DIFFERENT thread than its parent (e.g. via a stream-execution
    * thread inside an `onceStrong` stream-run build) is recorded but
    * not subtracted from the parent's self-time — both walls are then
    * reported, and Bench's `max(0, dt − builds)` clamp bounds the
    * damage to an under-read of that one query's net line. Same
    * bounded-queue discipline as [[events]]. */
  val builds = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)] {
    private val cap = 1024
    override def add(e: (String, Double)): Boolean = {
      while (size() >= cap) poll()
      super.add(e)
    }
  }
  // per-thread accumulator of nested builds' TOTAL wall, so a parent
  // build can report self = total − children (single-cell array: cheap
  // mutable box without ThreadLocal churn per update)
  private val childSecs = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = Array(0.0)
  }

  private val hitsC = new java.util.concurrent.atomic.LongAdder
  def hits: Long = hitsC.sum()

  private sealed trait Box { def get: AnyRef; def onCleared(): Unit = () }
  private final class Strong(v: AnyRef) extends Box { def get: AnyRef = v }
  private final class Soft(v: AnyRef) extends Box {
    private val r = new SoftReference[AnyRef](v)
    // captured at wrap time, holds session/plan only weakly: evicts the
    // orphaned InMemoryRelation of a GC-cleared cached frame, since the
    // rebuild's non-canonicalizing plan can't resurrect (or replace) it
    private val cleanup = org.apache.spark.sql.GraftBridge.clearedCacheCleanup(v)
    def get: AnyRef = r.get()
    override def onCleared(): Unit = cleanup.foreach(f => f())
  }

  private type Inner = ConcurrentHashMap[String, CompletableFuture[Box]]

  private val outer = new java.util.WeakHashMap[SparkSession, Inner]()

  private def innerFor(s: SparkSession): Inner = outer.synchronized {
    var m = outer.get(s)
    if (m == null) { m = new ConcurrentHashMap(); outer.put(s, m) }
    m
  }

  private def get[V <: AnyRef](s: SparkSession, key: String, wrap: AnyRef => Box)(
      build: => V): V = {
    val inner = innerFor(s)
    while (true) {
      val fresh = new CompletableFuture[Box]()
      val prior = inner.putIfAbsent(key, fresh)
      if (prior == null) {
        val acc = childSecs.get(); val saved = acc(0); acc(0) = 0.0
        val t0 = System.nanoTime()
        try {
          events.add(s"build $key")
          val v = build
          val total = (System.nanoTime() - t0) / 1e9
          builds.add(key -> (total - acc(0))) // self = total − nested builds
          acc(0) = saved + total // report full wall to an enclosing build
          fresh.complete(wrap(v))
          return v
        } catch {
          case e: Throwable =>
            // the failed build records nothing, but its SUCCESSFUL child
            // builds did enqueue self-times — propagate their wall to the
            // enclosing frame so an outer build still subtracts them
            // (dropping them would double-count: outer self would include
            // walls already recorded under the children's keys, breaking
            // the "self-times sum ≤ wall" invariant Bench subtracts on)
            acc(0) = saved + acc(0)
            inner.remove(key, fresh)
            fresh.completeExceptionally(e)
            throw e
        }
      } else {
        // unwrap join()'s CompletionException so losers see the same raw
        // build failure the winning thread threw
        val box =
          try prior.join()
          catch {
            case e: java.util.concurrent.CompletionException if e.getCause != null =>
              throw e.getCause
          }
        val v = box.get
        if (v != null) { hitsC.increment(); return v.asInstanceOf[V] }
        events.add(s"cleared $key")
        box.onCleared() // evict the orphaned cache entry before rebuilding
        inner.remove(key, prior) // GC cleared between uses: rebuild
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Memoize `build` per (session, key); the value is softly held (use
    * for values that reference the session, e.g. `DataFrame`s). */
  def once[V <: AnyRef](s: SparkSession, key: String)(build: => V): V =
    get(s, key, new Soft(_))(build)

  /** Memoize `build` per (session, key) with a strongly-held value —
    * ONLY for values that do not reference the session (paths, ids),
    * where a re-build would repeat real work (e.g. a stream run). */
  def onceStrong[V <: AnyRef](s: SparkSession, key: String)(build: => V): V =
    get(s, key, new Strong(_))(build)
}
