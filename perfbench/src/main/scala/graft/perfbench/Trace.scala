package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and Catalyst counters of one session. Registered only in a
  * traced run, so an untraced run pays for no listener at all. */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val taskWaitS, taskCpuS, taskGcS = new DoubleAdder
  val shuffleWriteB, shuffleReadB, spillB = new AtomicLong
  val analysisS, optimizationS, planningS = new DoubleAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      // scheduler delay as the Spark UI derives it, plus deserialization
      val delayMs = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      taskWaitS.add((delayMs + m.executorDeserializeTime) / 1e3)
      taskCpuS.add(m.executorCpuTime / 1e9)
      taskGcS.add(m.jvmGCTime / 1e3)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def add(phase: String, to: DoubleAdder): Unit =
      p.get(phase).foreach(s => to.add(s.durationMs / 1e3))
    add("analysis", analysisS)
    add("optimization", optimizationS)
    add("planning", planningS)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every counter by its per-layer metric name. */
  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_wait_s" -> taskWaitS.sum,
    "spark.task_cpu_s" -> taskCpuS.sum,
    "spark.task_gc_s" -> taskGcS.sum,
    "spark.shuffle_write_mb" -> shuffleWriteB.get / 1e6,
    "spark.shuffle_read_mb" -> shuffleReadB.get / 1e6,
    "spark.spill_mb" -> spillB.get / 1e6,
    "catalyst.analysis_s" -> analysisS.sum,
    "catalyst.optimization_s" -> optimizationS.sum,
    "catalyst.planning_s" -> planningS.sum)
}

/** Times every call the benchmark makes into a layer of the engine.
  *
  * Untraced, a span is just a wall-clock timer. Traced, each span also
  * waits for the listener bus at its start and end, counts the Spark jobs
  * the call started, and is written to a JSON-lines file as
  * (run, id, parent, name, start, end, jobs). The wait is what makes the
  * job count exact, and it is part of the tracing overhead. */
final class Tracer(spark: SparkSession, val runId: String, val traced: Boolean) {
  val counters: Option[Counters] =
    if (!traced) None
    else {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }

  private val t0 = System.nanoTime()
  private val lines = mutable.ArrayBuffer.empty[String]
  private var stack = List.empty[Long]
  private var nextId = 0L

  def drain(): Unit =
    if (traced) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  def jobs: Long = counters.fold(0L)(_.jobs.get)

  /** Result, wall seconds and jobs started of one call. */
  final case class Span[T](value: T, seconds: Double, jobs: Long)

  def span[T](name: String)(f: => T): Span[T] = {
    drain()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1L)
    stack = id :: stack
    val j0 = jobs
    val start = System.nanoTime()
    val v = try f finally stack = stack.tail
    val end = System.nanoTime()
    drain()
    val j = jobs - j0
    if (traced)
      lines += s"""{"run":"$runId","id":$id,"parent":$parent,"name":"$name",""" +
        f""""start_s":${(start - t0) / 1e9}%.6f,"end_s":${(end - t0) / 1e9}%.6f,"jobs":$j}"""
    Span(v, (end - start) / 1e9, j)
  }

  def write(path: Path): Unit =
    if (traced) {
      Files.createDirectories(path.getParent)
      Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
}
