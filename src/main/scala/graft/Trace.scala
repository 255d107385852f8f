package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbridge.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job attribution for any registered query. Each leg starts from
  * [[Bench.resetRound]], counts the query, and prints its wall time and
  * rows, then one line per job: duration, task count, summed executor run
  * time, and the first `graft` frame of the code that launched the job.
  * Leg 1 pays JIT/codegen; later legs time the plan.
  *
  * Usage: graft.Trace <query>[,<query>...] [sfDir] [--legs n]
  */
object Trace {
  final case class Job(id: Int, seconds: Double, tasks: Int,
                       taskSeconds: Double, site: String)
  final case class Leg(query: String, leg: Int, wallSeconds: Double,
                       rows: Long, jobs: Seq[Job]) {
    def lines: Seq[String] =
      (f"[trace] $query leg $leg wall=$wallSeconds%.2f s rows=$rows " +
        f"jobs=${jobs.size} jobsum=${jobs.map(_.seconds).sum}%.2f s") +:
        jobs.map(j => f"[trace]   job ${j.id}%4d ${j.seconds}%7.2f s " +
          f"tasks=${j.tasks}%5d ttime=${j.taskSeconds}%7.2f s  ${j.site}")
  }

  def main(args: Array[String]): Unit = {
    val at = args.indexOf("--legs")
    val legs = if (at < 0) 2 else args.lift(at + 1).flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(sys.error("--legs needs a positive int"))
    val positional = if (at < 0) args.toSeq else args.toSeq.patch(at, Nil, 2)
    val names = positional.headOption.getOrElse(sys.error(
      "usage: graft.Trace <query>[,<query>...] [sfDir] [--legs n]"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val dir = positional.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Verify.makeSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try for (q <- names; leg <- 1 to legs) run(spark, q, dir, leg).lines.foreach(println)
    finally spark.stop()
  }

  /** One traced leg of `query` on `spark`; the session stays open. */
  def run(spark: SparkSession, query: String, dir: String, leg: Int): Leg = {
    val sc = spark.sparkContext
    Bench.resetRound(spark)
    // events of earlier work must not reach this leg's listener
    ListenerBusBridge.drain(sc)
    val listener = new JobListener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(query)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusBridge.drain(sc)
      Leg(query, leg, wall, rows, listener.jobs)
    } finally sc.removeSparkListener(listener)
  }

  // A job's site is the first graft frame (other than this runner) in its
  // last stage's long-form callsite. AQE and broadcast jobs run on pool
  // threads whose stacks hold no graft frame; they carry the SQL execution
  // id instead, whose start event holds the stack of the launching action.
  private final class JobListener extends SparkListener {
    private val byJob = new ConcurrentHashMap[Int, Job]()
    private val startMs = new ConcurrentHashMap[Int, Long]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val execFrame = new ConcurrentHashMap[String, String]()

    private def graftFrame(stack: String): Option[String] = stack.linesIterator
      .map(_.trim).find(l => l.startsWith("graft.") && !l.startsWith("graft.Trace"))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        graftFrame(s.details).foreach(execFrame.put(s.executionId.toString, _))
      case _ =>
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties).flatMap(p =>
        Option(execFrame.get(p.getProperty(SQLExecution.EXECUTION_ID_KEY, ""))))
      val site = j.stageInfos.lastOption.fold("?")(si =>
        si.name + graftFrame(si.details).orElse(exec).map(" | " + _).getOrElse(""))
      startMs.put(j.jobId, j.time)
      byJob.put(j.jobId, Job(j.jobId, 0.0, 0, 0.0, site))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      byJob.computeIfPresent(stageJob.getOrDefault(s.stageInfo.stageId, -1),
        (_, j) => j.copy(tasks = j.tasks + s.stageInfo.numTasks,
          taskSeconds = j.taskSeconds + s.stageInfo.taskMetrics.executorRunTime / 1e3))

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      byJob.computeIfPresent(e.jobId,
        (_, j) => j.copy(seconds = (e.time - startMs.get(e.jobId)) / 1e3))

    def jobs: Seq[Job] = byJob.values.asScala.toSeq.sortBy(_.id)
  }
}
