package graft

import java.util.Locale

import graft.obs.{Recorder, TaskRecord}

/** Per-query CPU anatomy: runs ONE registered query (args(0), default
  * c14_pagerank) `SPARK_GRAFT_PROF_REPS` times (default 3) in one JVM and
  * prints, per rep, where the process CPU went:
  *
  *   wall        — elapsed seconds
  *   proc_cpu    — whole-process CPU delta (what Bench records as cpu_s)
  *   task_cpu    — Σ executor task CPU (TaskMetrics.executorCpuTime): the
  *                 actual distributed work the plan did
  *   task_run, task_gc, task_deser — run, GC and deserialize time
  *                 summed over the rep's tasks (`tasks` of them)
  *   jvm_gc      — collector-reported GC wall across the JVM (×threads ≈
  *                 the GC share of proc_cpu)
  *
  * The point (round-11 verdict, PageRank directive): Bench's cpu_s is
  * whole-process CPU on a local[32] JVM — driver planning, codegen, and a
  * 32-thread collector all land in it. proc_cpu − task_cpu − GC is the
  * overhead a plan change cannot remove; task_cpu is what a plan change
  * could. This main makes that split a one-command measurement instead of
  * a guess. */
object ProfileQuery {

  private def procCpu: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  private def gcStats: (Long, Double) = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum / 1e3)
  }

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.2f", v)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("c14_pagerank")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROF_REPS", "3").toInt
    val q = Registry.defs.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (1 to reps).foreach { rep =>
      val (gcC0, gcT0) = gcStats
      val cpu0 = procCpu
      val rec = Recorder.record(spark.sparkContext) {
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val (gcC1, gcT1) = gcStats
      def sum(f: TaskRecord => Long): Long = rec.tasks.map(f).sum
      println(s"[prof] $name rep=$rep wall=${fmt(rec.value)}s " +
        s"proc_cpu=${fmt(procCpu - cpu0)}s " +
        s"task_cpu=${fmt(sum(_.cpuNs) / 1e9)}s " +
        s"task_run=${fmt(sum(_.runMs) / 1e3)}s " +
        s"task_gc=${fmt(sum(_.gcMs) / 1e3)}s " +
        s"task_deser=${fmt(sum(_.deserializeMs) / 1e3)}s " +
        s"jvm_gc=${fmt(gcT1 - gcT0)}s gc_n=${gcC1 - gcC0} " +
        s"tasks=${rec.tasks.size}")
    }
    spark.stop()
  }
}
