package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace. Layers, outermost first: pass, op, model | query,
  * job, stage. Times are `System.nanoTime` based; listener times (epoch
  * ms) are mapped onto that clock. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Everything observed during one pass. Written by listener threads and
  * read by the driver after a bus drain, always under the stats' lock. */
final class PassStats {
  var tasks, jobs, stages = 0L
  var taskCpuNs, taskRunMs, taskGcMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, peakTaskMemB = 0L
  val jobSpans = mutable.Map[Int, (Long, Long, String)]() // jobId -> (start, end ns, group)
  val cpuByGroup = mutable.Map[String, Long]()     // job group -> task cpu ns

  var actions, analysisMs, optimizerMs, planningMs, planNodes = 0L

  var queries, batches, rowsIn = 0L
  var addBatchMs, queryPlanningMs, walCommitMs = 0L
  val triggerMs = mutable.ArrayBuffer[Double]()
  val queryStart = mutable.Map[String, Long]()     // runId -> ns
  val queryLife = mutable.ArrayBuffer[Double]()    // finished queries, ms
  val queryTriggerMs = mutable.Map[String, Double]() // runId -> sum ms

  val spans = mutable.ArrayBuffer[Span]()

  def cpuNs: Long = synchronized(taskCpuNs)
}

/** The benchmark's view of Spark: one `SparkListener` on the shared bus
  * (tasks, stages, jobs, and the streaming events every session posts
  * there — the rigs run their streams on cloned sessions, whose own
  * `StreamingQueryManager`s a session-level listener would miss), plus
  * [[CatalystListener]], which Spark instantiates in every session from
  * `spark.sql.queryExecutionListeners`. */
object Meters extends SparkListener {
  /** Spans and planning counters are kept only while this is set. */
  @volatile var tracing = false
  @volatile private var cur = new PassStats
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  def newId(): Long = nextId.getAndIncrement()

  /** The op span now running on the benchmark's driver thread; events
    * that carry no job group are attributed to it. */
  @volatile var currentOp = 0L

  private val nsPerMsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def msToNs(ms: Long): Long = ms * 1000000L + nsPerMsOffset

  def startPass(): PassStats = { val s = new PassStats; cur = s; s }

  /** Latest job end (ns) per job group in the current pass. */
  def jobEndsByGroup(sc: org.apache.spark.SparkContext): Map[String, Long] = {
    org.apache.spark.graftbench.BusDrain(sc)
    val s = cur
    s.synchronized(s.jobSpans.values.groupBy(_._3).map { case (g, js) => g -> js.map(_._2).max })
  }

  private def withStats(f: PassStats => Unit): Unit = {
    val s = cur
    s.synchronized(f(s))
  }

  def addSpan(sp: Span): Unit = if (tracing) withStats(_.spans += sp)

  // stage -> (job group, job span id); job -> (span id, start ns, parent)
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val jobOpen = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val queryOpen = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = groupOf(e.properties)
    val query = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    val parent = query.flatMap(q => Option(queryOpen.get(q)).map(_._1))
      .orElse(group.toLongOption).getOrElse(currentOp)
    val id = newId()
    val start = msToNs(e.time)
    jobOpen.put(e.jobId, (id, start, parent))
    jobGroup.put(e.jobId, group)
    e.stageIds.foreach(s => stageOwner.put(s, (group, id)))
    withStats { s => s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (id, start, parent) =>
      val end = msToNs(e.time)
      val group = Option(jobGroup.remove(e.jobId)).getOrElse("")
      withStats { s =>
        s.jobSpans(e.jobId) = (start, end, group)
        if (tracing) s.spans += Span(id, parent, "job", s"job ${e.jobId}", start, end)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val owner = Option(stageOwner.remove(info.stageId))
    withStats { s =>
      s.stages += 1
      if (tracing) for (sub <- info.submissionTime; done <- info.completionTime) {
        val parent = owner.map(_._2).getOrElse(0L)
        s.spans += Span(newId(), parent, "stage", s"stage ${info.stageId}",
          msToNs(sub), msToNs(done))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val group = Option(stageOwner.get(e.stageId)).map(_._1).getOrElse("")
      withStats { s =>
        s.tasks += 1
        s.taskCpuNs += m.executorCpuTime
        s.taskRunMs += m.executorRunTime
        s.taskGcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled
        s.peakTaskMemB = math.max(s.peakTaskMemB, m.peakExecutionMemory)
        s.cpuByGroup(group) = s.cpuByGroup.getOrElse(group, 0L) + m.executorCpuTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: StreamingQueryListener.QueryStartedEvent =>
      val now = System.nanoTime()
      val id = newId()
      queryOpen.put(q.id.toString, (id, now))
      withStats { s => s.queries += 1; s.queryStart(q.runId.toString) = now }
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      withStats { s =>
        s.batches += 1
        s.rowsIn += pr.numInputRows
        s.triggerMs += d("triggerExecution").toDouble
        s.addBatchMs += d("addBatch")
        s.queryPlanningMs += d("queryPlanning")
        s.walCommitMs += d("walCommit")
        val run = pr.runId.toString
        s.queryTriggerMs(run) = s.queryTriggerMs.getOrElse(run, 0.0) + d("triggerExecution")
      }
    case t: StreamingQueryListener.QueryTerminatedEvent =>
      val now = System.nanoTime()
      val open = Option(queryOpen.remove(t.id.toString))
      withStats { s =>
        s.queryStart.remove(t.runId.toString).foreach { st =>
          s.queryLife += (now - st) / 1e6
        }
        if (tracing) open.foreach { case (id, st) =>
          s.spans += Span(id, currentOp, "query", s"query ${t.id}", st, now)
        }
      }
    case _ => ()
  }

  /** Planning phases of one finished action (called from every session's
    * [[CatalystListener]]). */
  def onAction(qe: QueryExecution): Unit = if (tracing) {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val nodes = qe.optimizedPlan.collect { case _ => 1L }.sum
    withStats { s =>
      s.actions += 1
      s.analysisMs += ms("analysis")
      s.optimizerMs += ms("optimization")
      s.planningMs += ms("planning")
      s.planNodes += nodes
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session — including the ones rigs clone — reports its actions. */
class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Meters.onAction(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Meters.onAction(qe)
}

/** Self time of each layer: a span's duration minus the part of it that
  * its children cover (children may overlap each other). */
object SelfTime {
  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { sp =>
        val covered = union(kids.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs)))
          .filter(iv => iv._2 > iv._1))
        (sp.endNs - sp.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Total length of the union of intervals. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
