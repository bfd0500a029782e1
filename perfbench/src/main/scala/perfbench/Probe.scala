package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Per-layer instrumentation for a traced run, attached from outside the
  * program: a SparkListener and a QueryExecutionListener that keep
  * cumulative counters, the codegen compile counters, and an in-memory span
  * log. The listeners are attached only during traced passes.
  */
final class Probe(spark: SparkSession, val runId: String) {

  // cumulative counters; written by the listener bus thread, read by the
  // harness thread only after Bus.drain
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) epoch ms of every finished job, in completion order. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run.ms", m.executorRunTime)
        add("spark.task_cpu.ns", m.executorCpuTime)
        add("spark.gc.ms", m.jvmGCTime)
        // the delay the UI reports: task wall time not spent running,
        // deserializing, serializing the result or fetching it
        val delay = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime
        add("spark.sched_delay.ms", math.max(0L, delay))
        add("spark.input.bytes", m.inputMetrics.bytesRead)
        add("spark.output.bytes", m.outputMetrics.bytesWritten)
        add("spark.shuffle_read.bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("spark.shuffle_write.bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spark.spill.bytes", m.memoryBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe.replans", 1)
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      action(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      action(qe)
    private def action(qe: QueryExecution): Unit = {
      add("sql.actions", 1)
      val phases = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "catalyst.analysis.ms",
          "optimization" -> "catalyst.optimization.ms", "planning" -> "catalyst.planning.ms"))
        phases.get(phase).foreach(p => add(key, p.durationMs))
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_bucket_cap"))
          add("bucket_cap.dropped_rows", row.getAs[Long]("dropped_rows"))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Counter values now (after draining the bus), codegen included. */
  def snapshot(): Map[String, Long] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    c.asScala.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "codegen.compile.ns" -> CodeGenerator.compileTime,
      "codegen.classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  // ---- spans ---------------------------------------------------------
  private val spanSeq = new AtomicLong
  private var stack: List[Long] = Nil
  /** (id, parent, name, op, startNs, endNs); parent 0 is the op root. */
  val spans = mutable.ArrayBuffer[(Long, Long, String, Int, Long, Long)]()
  var op: Int = -1

  def span[T](name: String)(body: => T): T = {
    val id = spanSeq.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += ((id, parent, name, op, t0, System.nanoTime()))
      stack = stack.tail
    }
  }
}

object Probe {
  /** Tracing is optional everywhere: an untraced run passes None and the
    * body runs bare. */
  def span[T](p: Option[Probe], name: String)(body: => T): T = p match {
    case Some(probe) => probe.span(name)(body)
    case None => body
  }
}
