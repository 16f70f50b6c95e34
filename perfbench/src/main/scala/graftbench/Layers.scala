package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Names the layers share. The per-layer metric names and units live in
  * `BENCHMARK.json`; `perfbench/run.py` picks them out of the record.
  */
object Layers {
  val streamQueries: Seq[String] = Seq("page_views", "redis_page_views",
    "user_sessions", "conversions", "redis_purchases", "device_stats")
  val jdbcTables: Seq[String] = Seq("page_view_stats", "user_sessions",
    "purchase_stats", "device_stats")
  val families: Seq[String] = Seq("ops", "text", "sim", "mm")

  /** Local property carrying "spanId|requestId" of the span a Spark job
    * belongs to.
    */
  val SpanKey = "graftbench.span"
}

/** SparkListener totals: jobs, stages, tasks and task metrics, plus the
  * wall-clock interval of every job (for driver gaps and job spans).
  */
final class SparkLayer(tracer: Tracer) extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskCpuNs, taskRunMs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val inBytes, inRecords = new AtomicLong
  private val started = new ConcurrentHashMap[Int, (Long, String)]()
  /** (start ms, end ms) of every finished job. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val tag = Option(e.properties).map(_.getProperty(Layers.SpanKey)).orNull
    started.put(e.jobId, (e.time, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, tag) =>
      intervals.add((t0, e.time))
      if (tag != null) {
        val Array(parent, req) = tag.split("\\|", 2)
        tracer.add(s"job ${e.jobId}", "spark.job", t0 * 1000L, e.time * 1000L,
          parent.toLong, req)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      taskRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Milliseconds of [fromMs, toMs] covered by no job. */
  def gapMs(fromMs: Long, toMs: Long): Double = {
    val iv = intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curEnd = fromMs
    iv.foreach { case (a, b) =>
      val s = math.max(a, curEnd)
      if (b > s) { covered += b - s; curEnd = b }
    }
    math.max(0L, (toMs - fromMs) - covered).toDouble
  }

  def totals: Map[String, Double] = Map(
    "source.scan_bytes" -> inBytes.get.toDouble,
    "source.scan_records" -> inRecords.get.toDouble,
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs.get / 1e6,
    "spark.task_run_ms" -> taskRunMs.get.toDouble,
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble)
}

/** Catalyst planning time (`QueryExecution.tracker` phases) summed over
  * every successful query execution.
  */
final class PlanLayer extends QueryExecutionListener {
  val planMs = new DoubleAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One trigger of one streaming query, from its progress event. */
final case class Trigger(query: String, queryId: String, batchId: Long,
                         startUs: Long, endUs: Long, rows: Long)

/** Progress of the streaming queries. In every run it tracks how many
  * source rows each query has committed (the closed loop waits on it);
  * in a traced run it also keeps each trigger's durations and state.
  */
final class StreamLayer extends StreamingQueryListener {
  private val committed = new ConcurrentHashMap[String, java.lang.Long]()
  private val lock = new Object
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a, b) => a + b)
  private def put(k: String, v: Double): Unit = sums.put(k, v)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val q = p.name
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue().toDouble }
    def dur(k: String): Double = d.getOrElse(k, 0.0)
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    triggers.add(Trigger(q, p.id.toString, p.batchId, startUs,
      startUs + (dur("triggerExecution") * 1000).toLong, p.numInputRows))
    add(s"runtime.$q.trigger_ms", dur("triggerExecution"))
    add(s"runtime.$q.add_batch_ms", dur("addBatch"))
    add(s"runtime.$q.planning_ms", dur("queryPlanning"))
    add(s"runtime.$q.wal_ms", dur("walCommit") + dur("commitOffsets"))
    add(s"runtime.$q.batches", 1.0)
    p.stateOperators.foreach { so =>
      put(s"runtime.$q.state_rows", so.numRowsTotal.toDouble)
      put(s"runtime.$q.state_bytes", so.memoryUsedBytes.toDouble)
      add(s"runtime.$q.state_commit_ms", so.commitTimeMs.toDouble)
      add(s"runtime.$q.late_rows", so.numRowsDroppedByWatermark.toDouble)
    }
    lock.synchronized {
      committed.merge(q, p.numInputRows, (a, b) => a + b)
      lock.notifyAll()
    }
  }

  def committedRows(q: String): Long = Option(committed.get(q)).fold(0L)(_.longValue)

  /** Block until every query in `queries` has committed at least `rows`
    * source rows; false on timeout.
    */
  def awaitCommitted(queries: Seq[String], rows: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (!queries.forall(committedRows(_) >= rows)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) return false
        lock.wait(math.min(left, 50L))
      }
    }
    true
  }

  def totals: Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}
