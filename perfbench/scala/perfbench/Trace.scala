package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds. Harness spans and listener event times
  * (epoch milliseconds) are placed on this one axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, parent: Int, name: String, startUs: Long, var endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store: run → pass → step → build/consume/write/hash from
  * the harness, job → stage from the listener. Written out when the run ends. */
final class Spans {
  private val next = new AtomicInteger(1)
  private val store = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def open(parent: Int, name: String): Span = {
    val s = Span(next.getAndIncrement(), parent, name, Clock.nowUs, -1L)
    store.add(s); s
  }
  def close(s: Span): Unit = s.endUs = Clock.nowUs
  def add(parent: Int, name: String, startUs: Long, endUs: Long): Span = {
    val s = Span(next.getAndIncrement(), parent, name, startUs, endUs)
    store.add(s); s
  }
  def all: Seq[Span] = store.asScala.toSeq.filter(_.endUs >= 0)

  /** Self time of every span under `root`. Children are laid end to end in
    * start order and clipped to their parent, so the self times of a subtree
    * add up to the root's duration; concurrent siblings (parallel stages,
    * broadcast jobs) are charged once, to the one that started first. */
  def selfTimes(root: Span): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[Int, Long]()
    def walk(s: Span, lo: Long, hi: Long): Unit = {
      var cursor = lo
      var covered = 0L
      kids.getOrElse(s.id, Nil).sortBy(c => (c.startUs, c.id)).foreach { c =>
        val cs = math.max(c.startUs, cursor)
        val ce = math.min(c.endUs, hi)
        if (ce > cs) {
          walk(c, cs, ce)
          covered += ce - cs
          cursor = ce
        } else out(c.id) = 0L
      }
      out(s.id) = (hi - lo) - covered
    }
    walk(root, root.startUs, root.endUs)
    out.toMap
  }
}

/** Local property the harness sets around every layer call; jobs carry it,
  * so each job is attached to the step phase that submitted it. */
object StepProperty {
  val Key = "perfbench.span"
  def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Key))).flatMap(_.toIntOption)
}

/** Always attached: counts jobs per harness span, so a step that reads
  * parquet but launches no job (a result carried over) is caught. */
final class JobCounter extends SparkListener {
  private val counts = new ConcurrentHashMap[Int, AtomicInteger]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    StepProperty.spanOf(e.properties).foreach(id =>
      counts.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet())
  def jobs(spanIds: Iterable[Int]): Int =
    spanIds.iterator.map(id => Option(counts.get(id)).map(_.get).getOrElse(0)).sum
}

/** Task-metric sums for one harness span. */
final class TaskAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shufWrite = 0L; var shufRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  var peakMem = 0L; var inBytes = 0L; var inRows = 0L
  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shufWrite += o.shufWrite; shufRead += o.shufRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    inBytes += o.inBytes; inRows += o.inRows
  }
}

final case class JobRec(jobId: Int, span: Int, startUs: Long, var endUs: Long,
                        stageIds: Seq[Int])
final case class StageRec(stageId: Int, startUs: Long, endUs: Long)
final case class PlanRec(span: Int, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's listener: jobs, stages, tasks, block and unpersist events
  * from the scheduler, planning phases from each finished query execution.
  * Plan records are attributed to the span current when they are delivered;
  * the harness drains the bus after every phase in traced passes, so that is
  * the phase that ran the query. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val rddsMaterialized = ConcurrentHashMap.newKeySet[Int]()
  val rddsUnpersisted = new AtomicLong()
  @volatile var currentSpan: Int = 0

  def reset(): Unit = {
    jobs.clear(); stageJob.clear(); submitted.clear(); stages.clear()
    tasks.clear(); plans.clear(); rddsMaterialized.clear(); rddsUnpersisted.set(0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = StepProperty.spanOf(e.properties).getOrElse(0)
    val ids = e.stageInfos.map(_.stageId)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time * 1000L, -1L, ids))
    ids.foreach(id => stageJob.putIfAbsent(id, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000L)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.put(i.stageId, StageRec(i.stageId, s * 1000L, c * 1000L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val span = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      .map(_.span).getOrElse(0)
    val a = tasks.computeIfAbsent(span, _ => new TaskAgg)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      b.blockId.asRDDId.foreach(r => rddsMaterialized.add(r.rddId))
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    rddsUnpersisted.incrementAndGet()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    plans.add(PlanRec(currentSpan, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** False for a stage a job listed but never ran: its output was reused. */
  def ran(stageId: Int): Boolean = submitted.contains(stageId)
}
