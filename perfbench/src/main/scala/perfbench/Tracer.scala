package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Planning phases of every action run through a Dataset API, in any
  * session (registered by class name through the static
  * `spark.sql.queryExecutionListeners` conf, so the cloned sessions the
  * streaming drains use report too). */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.recordPlan(qe)
}

object Tracer {
  final case class Task(start: Long, end: Long, runMs: Long, cpuNs: Long, inBytes: Long,
      shWrite: Long, shWriteNs: Long, shRead: Long, fetchWaitMs: Long, spill: Long,
      peakExec: Long)
  final case class Progress(at: Long, durMs: Long, runId: String, rows: Long,
      addBatchMs: Long, walMs: Long, stateRows: Long, stateMem: Long)
  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int,
      queryId: String)

  /** (name, start ms, end ms) of one planning phase. */
  private[perfbench] val phases = new ConcurrentLinkedQueue[(String, Long, Long)]

  def recordPlan(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }
}

/** Per-layer instrumentation of one launch, recorded from outside the
  * engine: a `SparkListener` (jobs, stages, tasks, streaming progress),
  * the [[PlanListener]], `graft.SessionCache`'s public counters, and the
  * harness's own query boundaries. Events are kept in memory with their
  * timestamps; the layer metrics cover the cold pass, and the spans are
  * written out once the launch ends. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val tasks = new ConcurrentLinkedQueue[Task]
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]
  private val stages = new ConcurrentLinkedQueue[(Int, Int, Long, Long)] // (stage, attempt, submit, end)
  private val progress = new ConcurrentLinkedQueue[Progress]
  private val received = new java.util.concurrent.atomic.AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      received.incrementAndGet(); jobStart.put(e.jobId, (e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      received.incrementAndGet()
      Option(jobStart.get(e.jobId)).foreach(s => jobs.add((e.jobId, s._1, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      received.incrementAndGet()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages.add((i.stageId, i.attemptNumber(), s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      received.incrementAndGet()
      val i = e.taskInfo; val m = e.taskMetrics
      if (m != null) tasks.add(Task(i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        received.incrementAndGet()
        val q = p.progress
        val d = q.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val at = java.time.Instant.parse(q.timestamp).toEpochMilli
        progress.add(Progress(at, d.getOrElse("triggerExecution", 0L), q.runId.toString,
          q.numInputRows, d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L),
          q.stateOperators.map(_.numRowsTotal).sum, q.stateOperators.map(_.memoryUsedBytes).sum))
      case _ =>
    }
  }
  spark.sparkContext.addSparkListener(listener)

  // harness-side boundaries
  private val spans = mutable.ArrayBuffer[Span]()
  private val runSpan = open("run", -1, "")
  private var passSpan = -1
  private var querySpan = -1
  private val queryWindows = mutable.ArrayBuffer[(String, Int, Long, Long, Double)]() // name, pass, start, end, build s
  private val cacheEvents = mutable.ArrayBuffer[(Int, String)]() // pass, event
  private var coldHits = (0L, 0L) // SessionCache.hits at the cold pass's start and end
  private val layerSpans = mutable.LinkedHashMap[String, Double]()

  private def open(name: String, parent: Int, qid: String): Int = {
    val id = spans.size
    spans += Span(id, name, System.currentTimeMillis(), -1L, parent, qid)
    id
  }
  private def close(id: Int): Unit =
    spans(id) = spans(id).copy(end = System.currentTimeMillis())

  def passStart(p: Int): Unit = {
    if (p == 0) coldHits = (graft.SessionCache.hits, 0L)
    passSpan = open(s"pass.$p", runSpan, "")
  }
  def passEnd(p: Int): Unit = {
    close(passSpan)
    if (p == 0) coldHits = (coldHits._1, graft.SessionCache.hits)
  }
  def queryStart(name: String, p: Int): Unit =
    querySpan = open(s"query.$name", passSpan, s"$p:$name")
  def queryEnd(name: String, p: Int, builds: Seq[(String, Double)], df: Option[DataFrame]): Unit = {
    close(querySpan)
    val s = spans(querySpan)
    df.foreach(d => recordPlan(d.queryExecution))
    var e = graft.SessionCache.events.poll()
    while (e != null) { cacheEvents += (p -> e); e = graft.SessionCache.events.poll() }
    queryWindows += ((name, p, s.start, s.end, builds.map(_._2).sum))
  }

  /** Waits until the listener bus has delivered everything posted so far
    * (no public flush exists: wait for the event count to settle). */
  def settle(): Unit = {
    var last = -1L; var stable = 0
    while (stable < 4) {
      Thread.sleep(50)
      val n = received.get()
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Layer metrics over the pass-0 (cold) window. */
  def snapshot(coldGcS: Double): Seq[(String, Double)] = {
    settle()
    val cold = queryWindows.filter(_._2 == 0).toSeq
    val (w0, w1) = (cold.map(_._3).min, cold.map(_._4).max)
    def in(t: Long) = t >= w0 && t <= w1
    val ts = tasks.asScala.filter(t => in(t.start)).toSeq
    val js = jobs.asScala.filter(j => in(j._2)).toSeq
    val ss = stages.asScala.filter(s => in(s._3)).toSeq
    val pr = progress.asScala.filter(p => in(p.at)).toSeq
    val plan = phases.asScala.filter(p => in(p._3)).map(p => p._3 - p._2).sum / 1e3
    // wall time of each query with no task running
    val gap = cold.map { case (_, _, s, e, _) =>
      val iv = ts.filter(t => t.end >= s && t.start <= e)
        .map(t => (math.max(t.start, s), math.min(t.end, e))).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (e - s - covered) / 1e3
    }.sum
    val builds = cold.map(_._5).sum
    val nBuilds = cacheEvents.count(e => e._1 == 0 && e._2.startsWith("build "))
    val cleared = cacheEvents.count(e => e._1 == 0 && e._2.startsWith("cleared "))
    val hits = (coldHits._2 - coldHits._1).toDouble
    val lastPerQuery = pr.groupBy(_.runId).values.map(_.maxBy(_.at))
    Seq(
      "planning.plan_s" -> plan,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.driver_gap_s" -> gap,
      "executor.run_s" -> ts.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "scan.input_bytes" -> ts.map(_.inBytes).sum.toDouble,
      "shuffle.write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.write_s" -> ts.map(_.shWriteNs).sum / 1e9,
      "memory.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "memory.peak_exec_bytes" -> (0L +: ts.map(_.peakExec)).max.toDouble,
      "jvm.gc_s" -> coldGcS,
      "SessionCache.build_s" -> builds,
      "SessionCache.builds" -> nBuilds.toDouble,
      "SessionCache.hits" -> hits,
      "SessionCache.cleared" -> cleared.toDouble,
      "SessionCache.hit_ratio" -> (if (hits + nBuilds > 0) hits / (hits + nBuilds) else 0.0),
      "streaming.batches" -> pr.size.toDouble,
      "streaming.input_rows" -> pr.map(_.rows).sum.toDouble,
      "streaming.add_batch_s" -> pr.map(_.addBatchMs).sum / 1e3,
      "streaming.wal_commit_s" -> pr.map(_.walMs).sum / 1e3,
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_mem_bytes" -> lastPerQuery.map(_.stateMem).sum.toDouble,
    ) ++ cold.map { case (n, _, s, e, b) => s"queries.${n}_s" -> math.max(0.0, (e - s) / 1e3 - b) }
  }

  /** The game pipeline's frames forced one by one in dependency order (the
    * split `graft.Profile` prints), then the PyG export, from a cleared
    * cache so each step pays its own fill. */
  def layerSplit(dataDir: String): Seq[(String, Double)] = {
    import graft.nba.{GameFeed, GamePipeline}
    spark.catalog.clearCache()
    val root = open("layer_split", runSpan, "layer_split")
    def time(name: String)(f: => Unit): Unit = {
      val id = open(name, root, "layer_split")
      val t0 = System.nanoTime()
      f
      layerSpans(name) = (System.nanoTime() - t0) / 1e9
      close(id)
    }
    val p = GamePipeline.run(spark, GameFeed.pbp(spark, dataDir),
      GameFeed.starters(spark, dataDir), GameFeed.gameTeams(spark, dataDir).cache())
    time("nba.periods_s")(graft.Force(p.periods))
    time("nba.lineup_stints_s")(graft.Force(p.lineupStints))
    time("nba.player_stints_s")(graft.Force(p.playerStints))
    time("nba.attributed_events_s")(graft.Force(p.attributedEvents))
    time("nba.score_chain_s")(graft.Force(p.scoreChain))
    time("nba.stint_pm_s")(graft.Force(p.stintPlusMinus))
    time("nba.player_pm_s")(graft.Force(p.playerPlusMinus))
    time("graph.pyg_build_s") {
      val (nodes, edges) = graft.graph.PyGExport.build(p, GameFeed.gameTeams(spark, dataDir))
      graft.Force(nodes); graft.Force(edges)
    }
    close(root)
    layerSpans.toSeq
  }

  /** Writes every span as one JSON line: harness spans (run, pass, query,
    * layer split) and the engine spans placed under them by time (jobs,
    * stages, planning phases, streaming batches). Returns the path. */
  def writeSpans(path: String): String = {
    close(runSpan)
    settle()
    val all = mutable.ArrayBuffer[Span]() ++= spans
    val queries = spans.filter(_.name.startsWith("query.")).toSeq
    def owner(t: Long): (Int, String) = queries.find(q => t >= q.start && t <= q.end)
      .map(q => (q.id, q.queryId)).getOrElse((runSpan, ""))
    val jobSpan = mutable.Map[Int, Int]()
    jobs.asScala.toSeq.sortBy(_._2).foreach { case (id, s, e) =>
      val (parent, qid) = owner(s)
      jobSpan(id) = all.size
      all += Span(all.size, s"job.$id", s, e, parent, qid)
    }
    val stageJob = jobStart.asScala.flatMap { case (j, (_, st)) => st.map(_ -> j) }
    stages.asScala.toSeq.sortBy(_._3).foreach { case (st, att, s, e) =>
      val parent = stageJob.get(st).flatMap(jobSpan.get).getOrElse(owner(s)._1)
      all += Span(all.size, s"stage.$st.$att", s, e, parent, all(parent).queryId)
    }
    phases.asScala.toSeq.foreach { case (n, s, e) =>
      val (parent, qid) = owner(e)
      all += Span(all.size, s"plan.$n", s, e, parent, qid)
    }
    progress.asScala.toSeq.sortBy(_.at).foreach { p =>
      val (parent, qid) = owner(p.at)
      all += Span(all.size, s"stream.batch.${p.runId}", p.at, p.at + p.durMs, parent, qid)
    }
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.start},"end_ms":${s.end},"parent":${if (s.parent < 0) "null" else s.parent.toString},"query_id":${Json.str(s.queryId)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
    path
  }
}
