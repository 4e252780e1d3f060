package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's layers. The
  * untraced runs use [[Spans.off]]: the body runs and nothing is kept. */
trait Spans {
  def span[T](name: String)(f: => T): T
}

object Spans {
  val off: Spans = new Spans { def span[T](name: String)(f: => T): T = f }
}

/** The traced run's recorder. Each span names a job group (thread-local,
  * inherited by threads the program starts inside it), so every Spark
  * job, stage, task and SQL execution is keyed to the innermost span
  * that caused it. Catalyst's analysis, optimization and planning times
  * come from the query execution each SQL-execution-end event carries;
  * the QueryExecutionListener counts the actions, by name. Jobs and SQL
  * executions keep their call site (`<action> at <File>:<line>`), the
  * program's frame that started them. Events stay
  * in memory and are written out once at the end; the analysis lives in
  * `perfbench/trace.py`. Times are
  * seconds since the tracer started, on the wall clock Spark's own
  * task and job timestamps use. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Spans {
  private val sc = spark.sparkContext
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private def now: Double = (System.nanoTime() - originNs) / 1e9
  private def rel(epochMs: Long): Double = (epochMs - originMs) / 1e3

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()
  private val sqls = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private val GroupKey = "spark.jobGroup.id"

  def span[T](name: String)(f: => T): T = {
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, name)
    val t0 = now
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      spans.add(Map("name" -> name, "parent" -> Option(prev), "start" -> t0,
        "end" -> now, "ok" -> ok))
      sc.setLocalProperty(GroupKey, prev)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    jobStart.put(e.jobId, Map("id" -> e.jobId, "group" -> prop(GroupKey),
      "start" -> rel(e.time), "stages" -> e.stageIds,
      "call_site" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name),
      "sql_id" -> prop("spark.sql.execution.id").map(_.toLong)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { j =>
      jobs.add(j ++ Map("end" -> rel(e.time),
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks,
      "start" -> s.submissionTime.map(rel), "end" -> s.completionTime.map(rel),
      "failure" -> s.failureReason))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mv(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks.add(Map("stage" -> e.stageId, "start" -> rel(i.launchTime),
      "end" -> rel(i.finishTime), "failed" -> i.failed,
      "run_s" -> mv(_.executorRunTime) / 1e3,
      "cpu_s" -> mv(_.executorCpuTime) / 1e9,
      "gc_s" -> mv(_.jvmGCTime) / 1e3,
      "shuffle_read" -> mv(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> mv(_.shuffleWriteMetrics.bytesWritten),
      "spill" -> mv(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      "input_bytes" -> mv(_.inputMetrics.bytesRead),
      "output_bytes" -> mv(_.outputMetrics.bytesWritten),
      "records_written" -> mv(_.outputMetrics.recordsWritten)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlStart.put(s.executionId, Map("id" -> s.executionId,
        "group" -> s.jobGroupId, "call_site" -> s.description, "start" -> rel(s.time)))
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.PerfbenchSqlAccess.queryExecution(s)
        .foreach(qe => phases.putIfAbsent(s.executionId, phaseTimes(qe)))
      Option(sqlStart.remove(s.executionId)).foreach(x =>
        sqls.add(x ++ Map("end" -> rel(s.time))))
    case _ =>
  }

  private def phaseTimes(qe: QueryExecution): Map[String, Any] = {
    val ph = qe.tracker.phases
    def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    Map("analysis_s" -> s("analysis"), "optimization_s" -> s("optimization"),
      "planning_s" -> s("planning"))
  }
  /** Actions reported to the QueryExecutionListener, by function name. */
  private val actions = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.merge(funcName, 1, _ + _)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    actions.merge(funcName + ":failed", 1, _ + _)

  /** Drain the listener buses, detach, and return every event. */
  def finish(): Map[String, Any] = {
    org.apache.spark.PerfbenchAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    val sq = sqls.asScala.toSeq.map { s =>
      s ++ phases.getOrDefault(s("id").asInstanceOf[Long],
        Map("analysis_s" -> 0.0, "optimization_s" -> 0.0, "planning_s" -> 0.0))
    }
    Map("spans" -> spans.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
      "sql" -> sq, "actions" -> actions.asScala.toMap)
  }
}
