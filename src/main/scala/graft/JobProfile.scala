package graft

import java.util.Locale
import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB anatomy of ONE registered query: runs it once (noop sink) and
  * prints every Spark job's duration and callsite — the measurement that
  * says where a multi-job operator (the artifact maintenance legs) spends
  * its wall clock, job by job, instead of one opaque total. Usage:
  * `sbt "runMain graft.JobProfile <query> [sfDir]"`. */
object JobProfile {

  private final class JobListener extends SparkListener {
    val started = TrieMap.empty[Int, (Long, String)]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      started.put(e.jobId, (e.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      started.remove(e.jobId).foreach { case (t0, site) =>
        lines.add(String.format(Locale.ROOT, "[job] %4d  %8.3f s  %s",
          Integer.valueOf(e.jobId),
          java.lang.Double.valueOf((e.time - t0) / 1e3), site))
      }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("c14_pagerank_layout_delete")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "2").toInt
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    (1 to reps).foreach { rep =>
      if (rep == reps) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(String.format(Locale.ROOT, "[rep %d] wall %.3f s",
        Integer.valueOf(rep),
        java.lang.Double.valueOf((System.nanoTime() - t0) / 1e9)))
    }
    // drain after the last rep so listener delivery settles
    Thread.sleep(500)
    listener.lines.forEach(l => println(l))
    spark.stop()
  }
}
