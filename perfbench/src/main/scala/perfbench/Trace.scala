package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchAccess, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared clock for every span: epoch milliseconds with sub-ms precision,
  * so listener timestamps (epoch ms) and harness timestamps line up. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval. Levels: query, build, action, catalyst, job, stage.
  * `pass` is the pass the span belongs to: SetupPass, ColdPass (0) or a
  * warm pass (1, 2, ...). A catalyst or job span finds its parent build/action
  * span through `qid` and `phase`. */
final case class Span(id: Long, parent: Long, pass: Int, qid: String, level: String,
                      name: String, phase: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Per-pass counters filled by the listeners. */
final class PassAcc {
  var jobs, stages, tasksLaunched, tasksEnded, tasksOk = 0L
  var busyMs, waitMs = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
  var blocks, blockBytes = 0L
  var batches, streamsStarted = 0L
  val batchMs = ArrayBuffer.empty[Double]
  var addBatchMs, streamPlanningMs, commitMs = 0.0
  var analysisMs, optimizationMs, planningMs = 0.0
  var rewrites, graftExprs = 0L
  var scratchPeakBytes, scratchPeakFiles = 0L
  var codegenCount = 0L
  var codegenMs = 0.0
}

/** In-memory span and counter store. Listener events are attributed to
  * the pass current when they are delivered; the harness drains the
  * listener bus before it moves to the next pass. */
object Recorder {
  val SetupPass = -1
  val ColdPass = 0
  @volatile var on = false
  @volatile var pass: Int = SetupPass

  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  val spans = new ConcurrentLinkedQueue[Span]()
  private val accs = new ConcurrentHashMap[Int, PassAcc]()
  def acc(p: Int): PassAcc = accs.computeIfAbsent(p, _ => new PassAcc)

  def span(parent: Long, qid: String, level: String, name: String, phase: String,
           start: Double, end: Double): Long = {
    val id = nextId()
    if (on) spans.add(Span(id, parent, pass, qid, level, name, phase, start, end))
    id
  }

  // --- listener state -----------------------------------------------------
  private final case class OpenJob(id: Long, qid: String, phase: String, start: Double, pass: Int)
  private val openJobs = new ConcurrentHashMap[Int, OpenJob]()
  private val stageJob = new ConcurrentHashMap[Int, OpenJob]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Double]()
  /** SQL execution id -> (qid, phase), learned from job properties. */
  private val execOwner = new ConcurrentHashMap[Long, (String, String)]()

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val j = OpenJob(nextId(), prop("perfbench.qid"), prop("perfbench.phase"), e.time.toDouble, pass)
      openJobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
      val exec = prop("spark.sql.execution.id")
      if (exec.nonEmpty) execOwner.put(exec.toLong, (j.qid, j.phase))
      val a = acc(pass); a.synchronized(a.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = openJobs.remove(e.jobId)
      if (j != null && on)
        spans.add(Span(j.id, 0, j.pass, j.qid, "job", s"job ${e.jobId}", j.phase, j.start, e.time.toDouble))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val i = e.stageInfo
      val at: Double = i.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
      stageSubmit.put((i.stageId, i.attemptNumber()), at)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val start = Option(stageSubmit.remove((i.stageId, i.attemptNumber())))
        .map(_.doubleValue).getOrElse(i.submissionTime.getOrElse(0L).toDouble)
      val j = stageJob.get(i.stageId)
      spans.add(Span(nextId(), if (j == null) 0 else j.id, pass, if (j == null) "" else j.qid,
        "stage", s"stage ${i.stageId}.${i.attemptNumber()} ${i.numTasks} tasks", "",
        start, i.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
      val a = acc(pass); a.synchronized(a.stages += 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = if (on) {
      val submit = stageSubmit.get((e.stageId, e.stageAttemptId))
      val a = acc(pass)
      a.synchronized {
        a.tasksLaunched += 1
        if (submit != null) a.waitMs += math.max(0.0, e.taskInfo.launchTime - submit.doubleValue)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val a = acc(pass)
      val m = Option(e.taskMetrics)
      a.synchronized {
        a.tasksEnded += 1
        if (e.reason == Success) a.tasksOk += 1
        a.busyMs += e.taskInfo.duration
        m.foreach { t =>
          a.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += t.shuffleReadMetrics.totalBytesRead
          a.spill += t.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (on) {
      val b = e.blockUpdatedInfo
      val size = b.memSize + b.diskSize
      if (b.blockId.isRDD && size > 0) {
        val a = acc(pass); a.synchronized { a.blocks += 1; a.blockBytes += size }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case p: QueryProgressEvent =>
        val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val a = acc(pass)
        a.synchronized {
          a.batches += 1
          d.get("triggerExecution").foreach(a.batchMs += _)
          a.addBatchMs += d.getOrElse("addBatch", 0.0)
          a.streamPlanningMs += d.getOrElse("queryPlanning", 0.0)
          a.commitMs += d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0)
        }
      case _: QueryStartedEvent =>
        val a = acc(pass); a.synchronized(a.streamsStarted += 1)
      case _ => ()
    }
  }

  /** Graft plan rewrites and graft expressions in an executed plan. A
    * rewrite is a graft physical node (the as-of join) or a join keyed on
    * the bucket attributes the range/similarity join rules add. */
  private object Plans extends AdaptiveSparkPlanHelper {
    private val rewriteAttrs = Seq("__grj_", "__sjr_")
    def graftNodes(qe: QueryExecution): (Long, Long) = {
      def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")
      def rewrittenJoin(p: SparkPlan) = p.getClass.getSimpleName.contains("Join") &&
        p.expressions.exists(_.references.exists(a => rewriteAttrs.exists(a.name.startsWith)))
      val plans = collectWithSubqueries(qe.executedPlan) { case p => p }
      (plans.count(p => isGraft(p) || rewrittenJoin(p)).toLong,
        plans.map(_.expressions.map(_.collect { case x if isGraft(x) => x }.size).sum).sum.toLong)
    }
  }

  def onQueryExecution(qe: QueryExecution): Unit = if (on) {
    val (qid, phase) = Option(execOwner.get(qe.id)).getOrElse(("", ""))
    val a = acc(pass)
    val phases = qe.tracker.phases
    phases.foreach { case (name, ps) =>
      spans.add(Span(nextId(), 0, pass, qid, "catalyst", name, phase,
        ps.startTimeMs.toDouble, ps.endTimeMs.toDouble))
    }
    val (nodes, exprs) = try Plans.graftNodes(qe) catch { case _: Throwable => (0L, 0L) }
    a.synchronized {
      a.analysisMs += phases.get("analysis").map(_.durationMs).getOrElse(0L)
      a.optimizationMs += phases.get("optimization").map(_.durationMs).getOrElse(0L)
      a.planningMs += phases.get("planning").map(_.durationMs).getOrElse(0L)
      a.rewrites += nodes
      a.graftExprs += exprs
    }
  }

  /** Attach to a (new) context; the bus drain at pass ends needs it. */
  def attach(sc: SparkContext): Unit = sc.addSparkListener(Jobs)

  def drain(sc: SparkContext): Unit = PerfbenchAccess.drainListenerBus(sc)

  // --- JVM-side samplers ---------------------------------------------------
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private var passCodegen0 = 0L

  /** Start pass `p`: drain the previous pass's events, then switch. */
  def beginPass(sc: SparkContext, p: Int): Unit = {
    if (on) drain(sc)
    pass = p
    passCodegen0 = PerfbenchAccess.codegenCompiles()._1
  }

  /** Close the current pass: drain events and take the codegen delta. */
  def endPass(sc: SparkContext): Unit = if (on) {
    drain(sc)
    val a = acc(pass)
    val (n, meanMs) = PerfbenchAccess.codegenCompiles()
    a.synchronized {
      a.codegenCount = n - passCodegen0
      a.codegenMs = a.codegenCount * meanMs
    }
  }

  /** Samples the scratch trees (TmpDirs roots and spark.local.dir) every
    * 200 ms while tracing; keeps each pass's peak bytes and file count. */
  def startScratchSampler(roots: () => Seq[java.io.File]): Thread = {
    val t = new Thread(() => {
      try while (true) {
        if (on) {
          var bytes, files = 0L
          def walk(f: java.io.File): Unit = {
            val kids = f.listFiles()
            if (kids == null) { if (f.isFile) { bytes += f.length; files += 1 } }
            else kids.foreach(walk)
          }
          roots().foreach(walk)
          val a = acc(pass)
          a.synchronized {
            a.scratchPeakBytes = a.scratchPeakBytes max bytes
            a.scratchPeakFiles = a.scratchPeakFiles max files
          }
        }
        Thread.sleep(200)
      } catch { case _: InterruptedException => () }
    }, "perfbench-scratch")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so it sees the
  * queries of every session on the context, including the `newSession()`
  * sessions the streaming round-trips run in. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Recorder.onQueryExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Recorder.onQueryExecution(qe)
}

/** Self times of the span tree and the per-pass layer split. */
object SelfTime {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def cover(lo: Double, hi: Double, ivs: Iterable[(Double, Double)]): Double = {
    val clipped = ivs.iterator.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = curB max b
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** Split of one pass's query time into construction self time, jobs
    * started during construction, Catalyst phases of executed queries,
    * jobs of the action, and action self time (seconds each). Catalyst
    * and job spans are matched to a build/action span by query id when
    * the job properties name it, otherwise by time containment. */
  final case class Split(buildSelf: Double, buildJobs: Double, catalyst: Double,
                         actionJobs: Double, actionSelf: Double, buildGapPerQuery: Map[Long, Double])

  def split(spans: Seq[Span]): Split = {
    val jobs = spans.filter(_.level == "job")
    val cats = spans.filter(_.level == "catalyst")
    def children(s: Span, level: String, from: Seq[Span]) = from.filter { c =>
      if (c.qid.nonEmpty) c.qid == s.qid && c.phase == level
      else c.start >= s.start && c.start < s.end
    }.map(c => (c.start, c.end))
    var bs, bj, ct, aj, as = 0.0
    val gaps = Map.newBuilder[Long, Double]
    spans.filter(_.level == "build").foreach { b =>
      val j = cover(b.start, b.end, children(b, "build", jobs))
      val all = cover(b.start, b.end, children(b, "build", jobs) ++ children(b, "build", cats))
      bj += j; bs += b.dur - all; ct += all - j
      gaps += b.parent -> (b.dur - j)
    }
    spans.filter(_.level == "action").foreach { a =>
      val j = cover(a.start, a.end, children(a, "action", jobs))
      val all = cover(a.start, a.end, children(a, "action", jobs) ++ children(a, "action", cats))
      aj += j; ct += all - j; as += a.dur - all
    }
    Split(bs / 1e3, bj / 1e3, ct / 1e3, aj / 1e3, as / 1e3, gaps.result().view.mapValues(_ / 1e3).toMap)
  }
}
