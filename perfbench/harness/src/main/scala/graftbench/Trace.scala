package graftbench

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Engine counters fed by three listeners: Spark's scheduler and block
  * events, Catalyst's per-action planning phases, and streaming progress.
  * All fields are written from the listener bus thread and read by the
  * harness after draining the bus.
  */
final class Counters {
  private val v = mutable.LinkedHashMap[String, Double](
    Counters.Names.map(_ -> 0.0): _*)
  // (start ms, end ms) of every finished job, for the driver-gap reading
  private val jobStart = mutable.HashMap[Int, Long]()
  private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()

  def add(name: String, x: Double): Unit = synchronized { v(name) += x }
  def jobStarted(id: Int, t: Long): Unit = synchronized { jobStart(id) = t }
  def jobEnded(id: Int, t: Long): Unit = synchronized {
    jobStart.remove(id).foreach(s => jobSpans += ((s, t)))
  }
  def snapshot(): Map[String, Double] = synchronized { v.toMap }

  /** Milliseconds of [from, to] during which no job was running. */
  def idleMs(from: Long, to: Long): Double = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    math.max(0L, (to - from) - busy).toDouble
  }
}

object Counters {
  val Names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.blocks_put", "spark.block_mb",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.input_mb", "spark.output_mb",
    "catalyst.actions", "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "streaming.batches", "streaming.batch_s")
  private val MB = 1024.0 * 1024.0

  def install(spark: SparkSession, c: Counters): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        c.add("spark.jobs", 1); c.jobStarted(e.jobId, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = c.jobEnded(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          c.add("spark.executor_run_s", m.executorRunTime / 1e3)
          c.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
          c.add("spark.gc_s", m.jvmGCTime / 1e3)
          c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          c.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          c.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
          c.add("spark.input_mb", m.inputMetrics.bytesRead / MB)
          c.add("spark.output_mb", m.outputMetrics.bytesWritten / MB)
        }
      }
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val info = e.blockUpdatedInfo
        if (info.blockId.isRDD && info.storageLevel.isValid) {
          c.add("spark.blocks_put", 1)
          c.add("spark.block_mb", (info.memSize + info.diskSize) / MB)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        c.add("catalyst.actions", 1)
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          ph.get(p).foreach(s => c.add(s"catalyst.${p}_s", s.durationMs / 1e3))
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        c.add("streaming.batches", 1)
        c.add("streaming.batch_s", e.progress.batchDuration / 1e3)
      }
    })
  }
}

/** One layer call: its name, the pass it belongs to, whether it is a
  * whole operation (`top`) or a layer call inside one, its duration and
  * the engine counters it moved (including `spark.driver_gap_s`).
  */
final case class Span(name: String, pass: Int, top: Boolean, seconds: Double, ok: Boolean,
    counts: Map[String, Double])

/** Spans around layer calls. Disabled (the untraced run) it only runs the
  * body: no listener is installed and the bus is never drained.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new Counters
  val spans = mutable.ArrayBuffer[Span]()
  var pass = 0
  if (enabled) Counters.install(spark, counters)

  def span[T](name: String, top: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      Bus.drain(spark.sparkContext)
      val before = counters.snapshot()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var ok = false
      try {
        val r = body
        ok = true
        r
      } finally {
        val secs = (System.nanoTime() - t0) / 1e9
        Bus.drain(spark.sparkContext)
        val wall1 = System.currentTimeMillis()
        val after = counters.snapshot()
        val delta = after.map { case (k, x) => k -> (x - before(k)) } +
          ("spark.driver_gap_s" -> counters.idleMs(wall0, wall1) / 1e3)
        spans += Span(name, pass, top, secs, ok, delta)
      }
    }
}
