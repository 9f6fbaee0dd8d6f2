package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Per-stage task totals, filled from task-end events. */
final class StageAgg {
  var tasks = 0
  var useful = 0 // tasks that read at least one record
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var start = -1L
  var end = -1L
}

final class JobRec(val jobId: Int, val queryId: String, val batchId: Long,
                   val execId: Long, val start: Long, val stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** Job, stage and task metrics from Spark's public listener bus. Jobs
  * run by a micro-batch carry the stream's query id and batch id as job
  * properties, which parents them to their trigger.
  */
final class JobTrace extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageAgg]()
  /** SQL executions whose plan deduplicates on the sink key, which is
    * how DerbySink's write (dropDuplicates("event_id") + foreachPartition)
    * is told apart from the other actions of a trigger.
    */
  private val sinkExecutions = mutable.HashSet[Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("hashpartitioning(event_id#") =>
      synchronized(sinkExecutions += s.executionId)
    case _ =>
  }

  def isSinkJob(j: JobRec): Boolean = synchronized(sinkExecutions(j.execId))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = new JobRec(e.jobId, prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
    a.start = e.stageInfo.submissionTime.getOrElse(-1L)
    a.end = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead > 0) a.useful += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Waits until every job seen so far has ended; the bus is asynchronous. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.end < 0)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def snapshot(): (Seq[JobRec], Map[Int, StageAgg]) = synchronized {
    (jobs.values.toList, stages.toMap)
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * action the session runs, from its public execution listener.
  */
final class PhaseTrace extends QueryExecutionListener {
  private val totals = mutable.HashMap[String, Double]().withDefaultValue(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) => totals(phase) += s.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def total: Double = synchronized(totals.values.sum)
  def byPhase: Map[String, Double] = synchronized(totals.toMap)
}

object Spans {
  /** Trigger phases in the order the micro-batch engine runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  val PhaseName = Map("latestOffset" -> "stream.latest_offset",
    "walCommit" -> "stream.wal_commit", "getBatch" -> "stream.get_batch",
    "queryPlanning" -> "stream.planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "stream.commit_offsets")

  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** The part of [start, end] covered by the union of `children`. */
  def covered(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = start
    children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(s.start, s.end, c))
    }.toMap
  }
}
