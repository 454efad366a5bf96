package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval in epoch microseconds. `name` is `layer:detail`. */
final case class Span(name: String, startUs: Long, endUs: Long)

/** Spans recorded by the benchmark around its calls into the engine, kept
  * in memory and written out after the run. Disabled, every call is a
  * plain pass-through. */
final class Trace(val enabled: Boolean) {
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val recordNs = new java.util.concurrent.atomic.AtomicLong()

  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  def add(name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      spans.add(Span(name, startUs, endUs))
      recordNs.addAndGet(System.nanoTime() - t0)
    }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = nowUs
      try body finally add(name, s, nowUs)
    }

  def recordMs: Double = recordNs.get / 1e6
}

/** Per-layer counters from Spark's public listener APIs: scheduler and task
  * metrics (`SparkListener`), Catalyst phase times (`QueryExecutionListener`
  * with `QueryExecution.tracker`) and micro-batch progress
  * (`StreamingQueryListener`). Counters are read after [[BusDrain]], never
  * inside a timed window. */
final class Probe(spark: SparkSession, trace: Trace) {
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var cbNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    c.synchronized {
      body
      cbNs += System.nanoTime() - t0
    }
  }
  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed(add("sched.jobs", 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(add("sched.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("sched.delay_s", math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
        add("scan.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(phases(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timed(phases(qe))
  }

  private def phases(qe: QueryExecution): Unit =
    for ((phase, p) <- qe.tracker.phases) {
      add(s"catalyst.${phase}_s", p.durationMs / 1e3)
      trace.add(s"catalyst:$phase", p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Counter values once every posted event has been delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    c.synchronized(c.toMap)
  }

  def callbackMs: Double = cbNs / 1e6

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }

  /** Progress phases in the order a micro-batch runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Spans for one micro-batch's progress phases, laid end to end from the
    * trigger start (progress reports durations, not start times). */
  def phaseSpans(p: StreamingQueryProgress, trace: Trace): Unit = {
    var t = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val d = p.durationMs.asScala
    for (ph <- Phases; ms <- d.get(ph)) {
      trace.add(s"microbatch:$ph", t, t + ms * 1000L)
      t += ms * 1000L
    }
  }
}
