package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced pass, fed from outside the engine:
  * Spark's own scheduler, query-execution and streaming listeners, plus
  * spans the benchmark records around the public calls it makes.
  * Listeners are installed only for the traced pass, so the timed
  * passes run without them. */
object Trace {
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  /** job id → start time (ms) of jobs still running. */
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  /** finished job intervals (start ms, end ms), for overlap queries. */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  /** streaming run id → state rows at its latest progress. */
  private val stateRows = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var installed: SparkSession = null

  def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  /** Run `f`, adding its wall time in ms to counter `k`. */
  def span[T](k: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(k, (System.nanoTime() - t0) / 1e6)
  }

  def phases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"catalyst.${p}_ms", s.durationMs.toDouble))
    }
  }

  def install(spark: SparkSession): Unit = synchronized {
    if (installed != null) return
    installed = spark
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        add("exec.jobs", 1)
        jobStart.put(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { s =>
          add("exec.wall_ms", (e.time - s).toDouble)
          jobIntervals.add((s.longValue, e.time))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        add("exec.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("exec.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.task_gc_ms", m.jvmGCTime.toDouble)
          add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
          add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
        }
      }
    })
    // actions a query builder runs internally (collect, checkpoint, write)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).fold(0L)(_.longValue)
        add("streaming.batches", 1)
        add("streaming.add_batch_ms", ms("addBatch").toDouble)
        add("streaming.overhead_ms", (ms("triggerExecution") - ms("addBatch")).toDouble)
        stateRows.put(p.runId.toString, p.stateOperators.map(_.numRowsTotal).sum)
      }
    })
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit =
    if (installed != null) org.apache.spark.perfbench.Bus.drain(installed.sparkContext)

  /** Counters so far (drained); state rows summed over stream runs. */
  def snapshot(): Map[String, Double] = {
    drain()
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap +
      ("streaming.state_rows" -> stateRows.values.asScala.map(_.doubleValue).sum)
  }

  /** ms of Spark job time inside [fromMs, toMs] (wall-clock epoch ms). */
  def jobMsWithin(fromMs: Long, toMs: Long): Double = {
    drain()
    jobIntervals.asScala.iterator.map { case (s, e) =>
      math.max(0L, math.min(e, toMs) - math.max(s, fromMs))
    }.sum.toDouble
  }
}
