package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Raw trace records, gathered by listeners the benchmark registers
  * only in traced runs. Records are kept in memory and written once at
  * the end of the run; all attribution (job → span through the job
  * group, QE → span through the SQL execution id) is done by the
  * reporting side from these records. */
final class Trace extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val stages = ArrayBuffer.empty[Map[String, Any]]
  val qes = ArrayBuffer.empty[Map[String, Any]]
  val aqeUpdates = ArrayBuffer.empty[Long]
  /** QueryExecution id → SQL execution id (the id Spark jobs carry). */
  val execOfQe = scala.collection.mutable.Map.empty[Long, Long]
  val progress = ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
    jobStarts(e.jobId) = Map("job" -> e.jobId, "start" -> e.time,
      "group" -> prop("spark.jobGroup.id"),
      "exec_id" -> prop("spark.sql.execution.id"),
      "stream_query" -> prop("sql.streaming.queryId"),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { s =>
      jobs += s + ("end" -> e.time) +
        ("ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val base = Map[String, Any]("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "submit" -> i.submissionTime.getOrElse(0L),
      "end" -> i.completionTime.getOrElse(0L), "tasks" -> i.numTasks)
    val m = Option(i.taskMetrics).map { t =>
      Map[String, Any]("run_ms" -> t.executorRunTime,
        "cpu_ms" -> t.executorCpuTime / 1e6, "gc_ms" -> t.jvmGCTime,
        "scan_bytes" -> t.inputMetrics.bytesRead,
        "scan_rows" -> t.inputMetrics.recordsRead,
        "shuffle_write_bytes" -> t.shuffleWriteMetrics.bytesWritten,
        "shuffle_write_ms" -> t.shuffleWriteMetrics.writeTime / 1e6,
        "shuffle_read_bytes" -> t.shuffleReadMetrics.totalBytesRead,
        "shuffle_fetch_wait_ms" -> t.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (t.memoryBytesSpilled + t.diskBytesSpilled),
        "records_written" -> t.outputMetrics.recordsWritten)
    }.getOrElse(Map.empty)
    synchronized { stages += base ++ m }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized { aqeUpdates += u.executionId }
    case e: SparkListenerSQLExecutionEnd =>
      Option(org.apache.spark.sql.PerfbenchBridge.queryExecution(e)).foreach { qe =>
        synchronized { execOfQe(qe.id) = e.executionId }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs) }
    val (vin, vout) = Trace.verifyRows(qe)
    val rec = Map[String, Any]("qe_id" -> qe.id, "func" -> funcName,
      "end" -> System.currentTimeMillis(), "duration_ms" -> durationNs / 1e6,
      "analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "verify_in" -> vin, "verify_out" -> vout,
      "output" -> Trace.outputPath(qe).orNull)
    synchronized { qes += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Streaming progress: one record per micro-batch. */
  def streamListener(jobOf: java.util.UUID => Option[String]): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val job = jobOf(p.id).orNull
        val st = p.stateOperators
        val rec = Map[String, Any]("job" -> job, "batch" -> p.batchId,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
          "late_dropped_rows" -> st.map(_.numRowsDroppedByWatermark).sum)
        Trace.this.synchronized { progress += rec }
      }
    }

  def toJson: String = synchronized {
    Json.obj("jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "qes" -> qes.toSeq,
      "aqe_updates" -> aqeUpdates.toSeq, "progress" -> progress.toSeq,
      "exec_of_qe" -> execOfQe.toSeq.map { case (q, e) => Seq(q, e) })
  }
}

object Trace {
  /** Every node of an executed plan, looking through executed commands
    * (a write), adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  private def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** The first node at or under `p` (along single-child chains) that
    * counts its output rows. */
  private def inputRows(p: SparkPlan): Long = rowsOut(p).getOrElse(
    p.children match {
      case Seq(c) => inputRows(c)
      case _ => 0L
    })

  /** (rows in, rows out) of filters whose condition calls one of the
    * engine's `graft_*` expressions (the native verify kernels). */
  def verifyRows(qe: QueryExecution): (Long, Long) =
    try {
      val fs = nodes(qe.executedPlan).collect {
        case f: FilterExec if f.condition.exists(_.prettyName.startsWith("graft_")) => f
      }
      (fs.map(f => inputRows(f.child)).sum, fs.flatMap(rowsOut).sum)
    } catch { case _: Exception => (0L, 0L) }

  def outputPath(qe: QueryExecution): Option[String] =
    try Seq(qe.logical, qe.analyzed).iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).nextOption()
    catch { case _: Exception => None }
}

/** Minimal JSON rendering for the record types above. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case r: RawJson => r.json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
