package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same time base as the millisecond stamps of Spark's events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records the run's spans in memory and writes them out once the run
  * ends, one JSON object per line.
  *
  * Driver-side spans (operations, their `entry.build`/`entry.action`
  * phases and lake calls) are timed here. SQL executions, Spark jobs,
  * stages, tasks and Catalyst phase times come from Spark's public
  * listeners while a traced operation runs, and the listener bus is
  * drained before tracing stops; stream batches come from
  * Spark's own progress events. Records are linked to their operation
  * afterwards by time, which is unambiguous in a closed loop with one
  * client.
  */
object Tracer {
  private val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val on = new AtomicBoolean(false)
  private var opId = 0L

  private[graftbench] def tracing: Boolean = on.get
  private[graftbench] def add(r: Map[String, Any]): Unit = records.add(r)

  /** Session confs that install the Catalyst and stream listeners, so
    * that every session a gate creates (`newSession()` ones too)
    * reports here.
    */
  val confs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[CatalystListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[BatchListener].getName)

  /** Times `body` as a span of `kind` inside the current operation. */
  def span[T](kind: String, name: String, extra: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = Clock.ms
    try body
    finally add(Map("t" -> kind, "op" -> opId, "name" -> name, "start" -> t0, "end" -> Clock.ms) ++ extra)
  }

  /** Times one operation; returns its (start, end, id). */
  def op(body: => Unit): (Double, Double, Long) = {
    opId += 1
    val t0 = Clock.ms
    body
    (t0, Clock.ms, opId)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      add(Map("t" -> "job", "job" -> e.jobId, "start" -> e.time.toDouble,
        "exec" -> exec.map(_.toLong).getOrElse(-1L), "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("t" -> "job_end", "job" -> e.jobId, "end" -> e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(Map("t" -> "stage", "stage" -> e.stageInfo.stageId, "tasks" -> e.stageInfo.numTasks))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) add(Map("t" -> "task", "stage" -> e.stageId,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input" -> m.inputMetrics.bytesRead, "output" -> m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        add(Map("t" -> "sql", "exec" -> s.executionId, "start" -> s.time.toDouble))
      case s: SparkListenerSQLExecutionEnd =>
        add(Map("t" -> "sql_end", "exec" -> s.executionId, "end" -> s.time.toDouble))
      case _ =>
    }
  }

  def attach(spark: SparkSession): Unit =
    if (!on.getAndSet(true)) spark.sparkContext.addSparkListener(sparkListener)

  /** Stops tracing once the listener bus has delivered every event of
    * the traced work. */
  def detach(spark: SparkSession): Unit = if (on.get) {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    on.set(false)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try records.asScala.foreach { r => w.write(Json.render(r)); w.write('\n') }
    finally w.close()
  }
}

/** Catalyst phase times (`qe.tracker`) of every execution while traced. */
final class CatalystListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit = if (Tracer.tracing) {
    val ps = qe.tracker.phases
    if (ps.nonEmpty) Tracer.add(Map("t" -> "catalyst",
      "start" -> ps.values.map(_.startTimeMs).min.toDouble,
      "end" -> ps.values.map(_.endTimeMs).max.toDouble) ++
      ps.map { case (k, v) => s"${k}_ms" -> v.durationMs })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Spark's own per-micro-batch progress. It is kept in untraced runs
  * too, as the source of the batch latency metrics.
  */
final class BatchListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Tracer.add(Map("t" -> "batch", "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "input_rows" -> p.numInputRows,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum) ++
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue })
  }
}
