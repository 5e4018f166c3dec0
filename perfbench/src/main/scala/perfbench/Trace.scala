package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store for a traced run. A span is one interval at a
  * layer boundary: name, start and end (epoch microseconds, the same
  * clock the Python client uses), the request id it belongs to, and
  * counters measured at that boundary. Nothing is written until the run
  * ends ([[writeJsonl]]).
  */
object Trace {
  private val RidTag = "perfbench-rid-"

  /** Run `f` with every Spark job and SQL execution it starts tagged
    * with request (or operator call) id `rid`. Job tags are per thread.
    */
  def tagged[T](sc: org.apache.spark.SparkContext, rid: String)(f: => T): T = {
    sc.addJobTag(RidTag + rid)
    try f finally sc.removeJobTag(RidTag + rid)
  }

  def ridOf(tags: Iterable[String]): String =
    tags.collectFirst { case t if t.startsWith(RidTag) => t.stripPrefix(RidTag) }.getOrElse("")

  final case class Span(name: String, rid: String, startUs: Long, endUs: Long, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def record(name: String, rid: String, startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(name, rid, startUs, endUs, attrs))

  /** Time `f`, recording it as span `name`. */
  def span[T](name: String, rid: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    val t0 = nowUs()
    try f finally record(name, rid, t0, nowUs(), attrs)
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { s =>
      val base = Map[String, Any]("name" -> s.name, "rid" -> s.rid, "start_us" -> s.startUs, "end_us" -> s.endUs)
      sb.append(graft.api.Json.write(base ++ s.attrs)).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Job, stage and task counters from Spark's public listener API.
  * Registered through `spark.extraListeners`, so it sees the server's
  * own SparkContext from its first job. Emits one `spark.job` span per
  * job and one `spark.sqlexec` span per SQL execution, each with the
  * request id it ran under. A SQL execution also lists its plan's metric
  * accumulator ids, which is how `spark.query` spans find their request.
  */
class SparkTrace extends SparkListener {
  private final class JobAcc(val rid: String, val execId: String, val startUs: Long) {
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputRecords = 0L
    var bytesWritten = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val rid = Trace.ridOf(props.flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq.flatMap(_.split(',')))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobs.put(e.jobId, new JobAcc(rid, exec, e.time * 1000L))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
      a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { a =>
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Trace.record("spark.sqlexec", Trace.ridOf(s.jobTags), s.time * 1000L, s.time * 1000L, Map(
        "exec" -> s.executionId.toString, "accs" -> accIds(s.sparkPlanInfo)))
    case _ => ()
  }

  private def accIds(p: SparkPlanInfo): Seq[Long] =
    p.metrics.map(_.accumulatorId) ++ p.children.flatMap(accIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val a = jobs.remove(e.jobId)
    if (a == null) return
    a.synchronized {
      Trace.record("spark.job", a.rid, a.startUs, e.time * 1000L, Map(
        "job" -> e.jobId, "exec" -> a.execId, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_ms" -> a.taskMs, "gc_ms" -> a.gcMs, "shuffle_write_bytes" -> a.shuffleWrite,
        "spill_bytes" -> a.spill, "input_records" -> a.inputRecords, "bytes_written" -> a.bytesWritten))
    }
  }
}

/** Planning phases and plan-shape counts from Spark's public
  * QueryExecutionListener API (registered through
  * `spark.sql.queryExecutionListeners`). Emits one `spark.query` span per
  * finished query execution with its analysis, optimization and planning
  * times, the partition count of any in-memory snapshot (LogicalRDD) it
  * read, and its plan's metric accumulator ids.
  */
class QeTrace extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = emit(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = emit(funcName, qe, ok = false)

  private def emit(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val accs = collectWithSubqueries(qe.executedPlan) { case p => p.metrics.values.map(_.id) }.flatten
    val snapshotParts = qe.optimizedPlan.collect { case l: LogicalRDD => l.rdd.getNumPartitions }
    Trace.record("spark.query", "", start * 1000L, Trace.nowUs(), Map(
      "func" -> funcName, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
      "accs" -> accs, "snapshot_partitions" -> snapshotParts.maxOption.getOrElse(0)))
  }
}
