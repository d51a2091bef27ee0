package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side layer counters of a traced run, attributed to the
  * harness operation that caused them.
  *
  *  - Scheduler and executor work: a `SparkListener`; each job carries
  *    the operation id as its job group (`Recorder.op`).
  *  - Catalyst: a `QueryExecutionListener`; each query execution's
  *    analysis/optimization/planning phases are attributed to the
  *    operation whose interval contains the execution's first phase.
  *  - Module attribution: Spark records the call site of each action
  *    ("collect at Dedup.scala:123") on its SQL execution, or for a
  *    plain RDD job on its stages; task time and jobs are summed by that
  *    source file, so work issued inside `llm.Dedup`, `operators.Bounds`,
  *    `dml.VersionedTable` or `sources.CsvImporter` is attributed without
  *    tracing inside them. Jobs that adaptive execution submits from its
  *    own threads carry the SQL execution id, so they are attributed to
  *    the action that started the execution. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  /** op id -> counter -> value; op 0 = work outside any operation. */
  val perOp = TrieMap.empty[Int, mutable.Map[String, Double]]
  /** op id -> job (start ms, end ms) intervals. */
  val jobIntervals = TrieMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  /** (first phase start ms, phase -> seconds) per query execution. */
  val executions = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]

  private val jobOp = TrieMap.empty[Int, Int]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageOp = TrieMap.empty[Int, Int]
  private val stageModule = TrieMap.empty[Int, String]
  private val executionModule = TrieMap.empty[Long, String]

  private def add(op: Int, k: String, v: Double): Unit = {
    val m = perOp.getOrElseUpdate(op, mutable.Map.empty)
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executionModule(s.executionId) = s.rootExecutionId.collect {
        case root: Long if root != s.executionId => executionModule.get(root)
      }.flatten.getOrElse(SparkTrace.caller(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(SparkTrace.GroupKey).flatMap(_.toIntOption).getOrElse(0)
    jobOp(e.jobId) = op
    jobStart(e.jobId) = e.time
    val sql = prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(executionModule.get)
    e.stageInfos.foreach { s =>
      stageOp(s.stageId) = op
      stageModule(s.stageId) = sql.getOrElse(SparkTrace.module(s.name))
    }
    add(op, "sched.jobs", 1)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    add(op, s"module.${sql.getOrElse(SparkTrace.module(site))}.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.getOrElse(e.jobId, 0)
    val buf = jobIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty)
    buf.synchronized { buf += ((jobStart.getOrElse(e.jobId, e.time), e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageOp.getOrElse(e.stageInfo.stageId, 0), "sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.getOrElse(e.stageId, 0)
    add(op, "sched.tasks", 1)
    val m = e.taskMetrics
    if (m == null) return
    val run = m.executorRunTime / 1e3
    add(op, "exec.run_s", run)
    add(op, "exec.cpu_s", m.executorCpuTime / 1e9)
    add(op, "exec.gc_s", m.jvmGCTime / 1e3)
    add(op, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
    add(op, "exec.input_rows", m.inputMetrics.recordsRead.toDouble)
    add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
    add(op, "spill.mem_bytes", m.memoryBytesSpilled.toDouble)
    add(op, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
    add(op, "collect.result_bytes", m.resultSize.toDouble)
    // the Spark UI's scheduler delay: task time not spent deserializing,
    // running, serializing the result or fetching it
    val info = e.taskInfo
    val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime
    add(op, "sched.delay_s", math.max(0L, delay) / 1e3)
    add(op, s"module.${stageModule.getOrElse(e.stageId, "other")}.task_s", run)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) executions.synchronized {
      executions += ((ph.values.map(_.startTimeMs).min,
        ph.map { case (k, v) => k -> v.durationMs / 1e3 }))
    }
  }
}

object SparkTrace {
  val GroupKey = "spark.jobGroup.id"
  private val Site = """.* at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+.*""".r

  private val Frame = """\s*([\w.$]+)\(([A-Za-z0-9_$]+)\.(?:scala|java):\d+\)""".r

  /** Source file (without extension) of a stage's call site. */
  def module(stageName: String): String = stageName match {
    case Site(file) => file
    case _ => "other"
  }

  /** Source file of the first frame outside Spark and the standard
    * libraries in a SQL execution's call-site stack. */
  def caller(stack: String): String =
    stack.split("\n").iterator.collect { case Frame(method, file) => (method, file) }
      .find { case (m, _) => !Seq("org.apache.spark.", "scala.", "java.").exists(m.startsWith) }
      .map(_._2).getOrElse("other")

  def install(spark: SparkSession): SparkTrace = {
    val t = new SparkTrace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerDrain(spark.sparkContext)
}
