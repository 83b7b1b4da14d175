package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `run` groups the spans of one analyst
  * answer or one load; `attrs` holds counts the benchmark records at the
  * boundary (rows returned, bytes written, ...).
  */
final class Span(val id: Long, val name: String, val parent: Long, val run: Long,
    val thread: Long, val startMs: Long, val startNs: Long, val gcStartMs: Long) {
  var endMs = 0L
  var endNs = 0L
  var gcEndMs = 0L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def wallS: Double = (endNs - startNs) / 1e9
  def contains(tMs: Long): Boolean = tMs >= startMs && tMs <= endMs
}

/** Span recorder. Off by default: then [[span]] only runs its body. On,
  * it stamps the span id into a Spark local property of the calling
  * thread, so the listeners can attribute the jobs it submits.
  */
object Trace {
  val Prop = "perfbench.span"
  @volatile var enabled = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val mainThread: Long = Thread.currentThread().getId

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def newRun(): Long = ids.incrementAndGet()

  def span[T](spark: SparkSession, name: String, run: Long = 0L)(body: Span => T): T = {
    val parent = current.get
    val s = new Span(ids.incrementAndGet(), name, if (parent == null) 0L else parent.id,
      if (run != 0L || parent == null) run else parent.run,
      Thread.currentThread().getId, System.currentTimeMillis(), System.nanoTime(),
      if (enabled) gcMs() else 0L)
    if (!enabled) return body(s)
    val sc = spark.sparkContext
    current.set(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcEndMs = gcMs()
      spans.add(s)
      current.set(parent)
      sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
    }
  }
}

/** Collects job, stage, task and planning counters; attribution to
  * spans happens once, at the end of the run ([[Attribution]]).
  */
final class Collector extends SparkListener with QueryExecutionListener {
  import Collector._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val qes = new ConcurrentLinkedQueue[Qe]()

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new Stage)
  private def longProp(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, longProp(e.properties, Trace.Prop),
      longProp(e.properties, "spark.sql.execution.id"), e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      s.recordsWritten += m.outputMetrics.recordsWritten
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  /** The listener runs on the bus thread, after the query: the end of
    * planning (a time inside the submitting span) stands in for its
    * submission time when no job ties it to a span.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker
    val plan = t.phases.values.map(_.durationMs).sum
    val planned = if (t.phases.isEmpty) -1L else t.phases.values.map(_.endTimeMs).max
    val graftRules = t.rules.filter(_._1.startsWith("graft.plans")).values
    qes.add(Qe(qe.id, planned, plan,
      graftRules.map(_.totalTimeNs).sum, graftRules.map(_.numInvocations).sum,
      graftRules.map(_.numEffectiveInvocations).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}


object Collector {
  final case class Job(id: Int, timeMs: Long, span: Long, execId: Long, stages: Seq[Int])
  final class Stage {
    var submitMs = 0L; var doneMs = 0L
    var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
    var recordsRead = 0L; var recordsWritten = 0L; var peakMem = 0L
  }
  final case class Qe(execId: Long, plannedMs: Long, planMs: Long, ruleNs: Long, ruleInv: Long, ruleEff: Long)
}

/** Per-span counters after attribution. */
final class SpanStats {
  var jobs = 0L; var tasks = 0L; var busyS = 0.0; var shuffleWrite = 0L; var spill = 0L
  var recordsRead = 0L; var recordsWritten = 0L; var planS = 0.0
  var ruleS = 0.0; var ruleInv = 0L; var ruleEff = 0L; var qes = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every job, stage and planned query to the innermost span
  * that submitted it. A job carries its span in a local property; a job
  * submitted from a pooled thread may carry a stale one (pool threads
  * inherit the properties of the thread that created them), so a
  * property whose span was not open at the job's start falls back to
  * the innermost open span of the benchmark's main thread.
  */
final class Attribution(spans: Seq[Span], c: Collector) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val mainSpans = spans.filter(_.thread == Trace.mainThread)
  val stats: Map[Long, SpanStats] = spans.map(_.id -> new SpanStats).toMap

  private def owner(prop: Long, tMs: Long): Option[Span] =
    byId.get(prop).filter(_.contains(tMs)).orElse {
      val open = mainSpans.filter(_.contains(tMs))
      if (open.isEmpty) None else Some(open.maxBy(_.startNs))
    }

  private val jobOwner: Map[Int, Span] =
    c.jobs.asScala.toSeq.flatMap(j => owner(j.span, j.timeMs).map(j.id -> _)).toMap
  private val execOwner: Map[Long, Span] =
    c.jobs.asScala.toSeq.filter(j => j.execId >= 0 && jobOwner.contains(j.id))
      .map(j => j.execId -> jobOwner(j.id)).toMap

  locally {
    val seenStage = mutable.HashSet.empty[Int]
    c.jobs.asScala.foreach { j =>
      jobOwner.get(j.id).foreach { sp =>
        val st = stats(sp.id)
        st.jobs += 1
        j.stages.filter(seenStage.add).foreach { sid =>
          Option(c.stages.get(sid)).filter(_.tasks > 0).foreach { s =>
            st.tasks += s.tasks; st.busyS += s.runMs / 1e3; st.shuffleWrite += s.shuffleWrite
            st.spill += s.spill; st.recordsRead += s.recordsRead
            st.recordsWritten += s.recordsWritten
            if (s.doneMs > 0) st.stageIntervals += ((s.submitMs, s.doneMs))
          }
        }
      }
    }
    c.qes.asScala.foreach { q =>
      execOwner.get(q.execId).orElse(owner(-1L, q.plannedMs)).foreach { sp =>
        val st = stats(sp.id)
        st.planS += q.planMs / 1e3; st.ruleS += q.ruleNs / 1e9
        st.ruleInv += q.ruleInv; st.ruleEff += q.ruleEff; st.qes += 1
      }
    }
  }

  /** Length of the union of `iv` clipped to [lo, hi], in seconds. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L; var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total / 1e3
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
    math.max(0.0, s.wallS - covered(kids, s.startMs, s.endMs))
  }

  /** Time the span's own stages left the cores waiting on the driver. */
  def idleS(s: Span): Double =
    math.max(0.0, s.wallS - covered(stats(s.id).stageIntervals.toSeq, s.startMs, s.endMs))
}
