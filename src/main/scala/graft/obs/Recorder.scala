package graft.obs

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{ListenerBusBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution

/** One task's `TaskMetrics` at its end: CPU time in ns, other times in ms.
  * A task that read shuffle input is a reduce-side task. */
final case class TaskRecord(runMs: Long, cpuNs: Long, gcMs: Long,
    deserializeMs: Long, resultSerializeMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def readsShuffle: Boolean = shuffleReadBytes > 0
}

final case class StageRecord(name: String, rddNames: Seq[String])

/** One job as it started. Outside a SQL execution it is a bare RDD job,
  * such as a Parquet footer merge, not a Dataset action. */
final case class JobRecord(id: Int, stages: Seq[StageRecord], inSqlExecution: Boolean)

final case class Recorded[T](value: T, jobs: Seq[JobRecord], tasks: Seq[TaskRecord])

/** The project's one Spark listener. Mains and specs that count jobs or
  * fold task metrics read the records of a [[Recorder.record]] scope. */
final class Recorder private () extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRecord]
  private val tasks = ArrayBuffer.empty[TaskRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRecord(e.jobId,
      e.stageInfos.map(s => StageRecord(s.name, s.rddInfos.map(_.name))),
      Option(e.properties).exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRecord(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
  }
}

object Recorder {

  /** Runs `f` and returns its result with exactly the jobs and tasks it
    * caused. The listener bus is drained before a fresh [[Recorder]] is
    * registered, so no event of an earlier call reaches it, and again
    * after `f`, so every event of `f` has: no sleep, and no count that
    * comes up short under load. Jobs another thread runs on `sc`
    * meanwhile are recorded too, so scopes run one at a time. */
  def record[T](sc: SparkContext)(f: => T): Recorded[T] = {
    ListenerBusBridge.drain(sc)
    val r = new Recorder
    sc.addSparkListener(r)
    try {
      val v = f
      ListenerBusBridge.drain(sc)
      r.synchronized(Recorded(v, r.jobs.toSeq, r.tasks.toSeq))
    } finally sc.removeSparkListener(r)
  }
}
