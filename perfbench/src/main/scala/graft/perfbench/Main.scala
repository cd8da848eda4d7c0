package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One workload per JVM, one client thread, a
  * closed loop of passes for `--seconds`, then one record line and, last,
  * the result line `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  * Main --workload etl_hourly|query_mix|artifact_maint --seed N --seconds S
  *      --trace 0|1 --data DIR --bench-dir DIR [--smoke 1]
  * Main --canary --data DIR --bench-dir DIR
  * }}}
  */
object Main {

  val workloads: Seq[String] = Seq("etl_hourly", "query_mix", "artifact_maint")
  val modules: Seq[String] =
    Seq("queries", "dedup", "similarity", "text", "pipelines", "multimodal", "functions")

  /** Every per-layer metric with its unit, in output order. */
  val layerMetrics: Seq[(String, String)] =
    Seq("tables.load_s" -> "s", "tables.load_jobs" -> "count") ++
      modules.flatMap(m => Seq(s"$m.build_s" -> "s", s"$m.build_jobs" -> "count", s"$m.exec_s" -> "s")) ++
      Seq("catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s").map(_ -> "s") ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_wait_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_gc_s" -> "s",
        "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB") ++
      Seq("etl.guard_s" -> "s", "etl.plan_s" -> "s", "etl.write_s" -> "s",
        "etl.jobs_per_batch" -> "count", "etl.rows_out_per_in" -> "ratio",
        "etl.table_files" -> "count", "etl.bytes_per_row" -> "B") ++
      Seq("ann", "layout").flatMap(a => Seq(s"$a.commit_jobs" -> "count",
        s"$a.files_written" -> "count", s"$a.files_deleted" -> "count",
        s"$a.live_files" -> "count", s"$a.generation" -> "count",
        s"$a.ensure_s" -> "s", s"$a.read_jobs" -> "count")) ++
      Seq("traced.pass_s" -> "s")

  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "fast_p50_s" -> "s", "slow_p50_s" -> "s", "pass_s" -> "s")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  private def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val dataDir = Paths.get(arg(args, "--data").getOrElse(sys.error("--data is required"))).toAbsolutePath.toString
    val benchDir = Paths.get(arg(args, "--bench-dir").getOrElse(sys.error("--bench-dir is required"))).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val seed = arg(args, "--seed").fold(1L)(_.toLong)
    val seconds = arg(args, "--seconds").fold(10)(_.toInt)
    val traced = arg(args, "--trace").contains("1")
    val smoke = arg(args, "--smoke").contains("1")
    val workload = arg(args, "--workload").getOrElse("query_mix")
    require(workloads.contains(workload), s"unknown workload $workload")
    val runId = s"$workload-s$seed-t${if (traced) 1 else 0}-${ProcessHandle.current.pid}"
    val work = benchDir.resolve(".work").resolve(runId)
    Bench.deleteTree(work)
    Files.createDirectories(work)
    // both artifact roots live inside this run's directory
    System.setProperty("graft.artifacts.root", work.resolve("artifacts").toString)
    val load0 = Bench.loadAvg1
    val steal0 = Bench.stealS
    val spark = session(work, cores)
    try {
      if (args.contains("--canary")) {
        val c = graft.Bench.runCanary(spark)
        println(obj(Seq("canary" -> obj(c.map { case (k, v) => k -> num(v) }))))
        return
      }
      val sessionS = (System.nanoTime() - t0) / 1e9
      val tracer = new Tracer(spark, runId, traced)
      val report = new Report
      val ctx = new Ctx(spark, tracer, report, work, dataDir, benchDir, seed, seconds, smoke)
      val w: Workload = workload match {
        case "etl_hourly" => new EtlHourly(ctx)
        case "query_mix" => new QueryMix(ctx)
        case "artifact_maint" => new ArtifactMaint(ctx)
      }
      def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9 }
      // an artifact build costs seconds, so artifact_maint builds once
      val reps = if (smoke || workload == "artifact_maint") 1 else 3
      val setupReps = (0 until reps).map(r => timed(w.setupRep(r)))
      val warmupS = timed(w.warmup())
      // warm-up operations count as attempted, but their times are no samples
      report.samples.clear()
      report.layer.clear()
      val setupS = sessionS + Bench.median(setupReps) + warmupS

      // measurement: whole passes until the time is up; Spark counters
      // are summed over the passes only, never over probes or checks
      val c = tracer.counters
      var layerDelta = Map.empty[String, Double]
      val passTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val m0 = System.nanoTime()
      while (passTimes.isEmpty || (!smoke && (System.nanoTime() - m0) / 1e9 < seconds)) {
        tracer.drain()
        val before = c.fold(Map.empty[String, Double])(_.snapshot)
        passTimes += timed(w.pass())
        tracer.drain()
        c.foreach(_.snapshot.foreach { case (k, v) =>
          layerDelta += k -> (layerDelta.getOrElse(k, 0.0) + v - before(k))
        })
        w.probe()
      }
      val measuredS = (System.nanoTime() - m0) / 1e9
      w.finish()
      val load1 = Bench.loadAvg1
      val stealS = Bench.stealS - steal0

      val passes = passTimes.size.toDouble
      val passS = Bench.median(passTimes)
      val layers: Map[String, Double] = if (!traced) Map.empty else {
        val l = report.layer
        def per(a: String, b: String): Double = {
          val d = l.getOrElse(b, 0.0)
          if (d == 0) 0.0 else l.getOrElse(a, 0.0) / d
        }
        val perPass = layerDelta.map { case (k, v) => k -> v / passes } ++
          (Seq("tables.load_s", "tables.load_jobs") ++
            modules.flatMap(m => Seq(s"$m.build_s", s"$m.build_jobs", s"$m.exec_s")))
            .map(k => k -> l.getOrElse(k, 0.0) / passes)
        perPass ++ Map(
          "etl.guard_s" -> per("etl.guard_s", "etl.batches"),
          "etl.plan_s" -> per("etl.plan_s", "etl.batches"),
          "etl.write_s" -> per("etl.write_s", "etl.batches"),
          "etl.jobs_per_batch" -> per("etl.jobs", "etl.batches"),
          "etl.rows_out_per_in" -> per("etl.rows_out", "etl.rows_in"),
          "etl.table_files" -> l.getOrElse("etl.table_files_sum", 0.0) / passes,
          "etl.bytes_per_row" -> per("etl.table_bytes", "etl.rows_out"),
          "traced.pass_s" -> passS) ++
          Seq("ann", "layout").flatMap(a => Seq(
            s"$a.commit_jobs" -> per(s"$a.commit_jobs", s"$a.commits"),
            s"$a.files_written" -> per(s"$a.files_written", s"$a.commits"),
            s"$a.files_deleted" -> per(s"$a.files_deleted", s"$a.commits"),
            s"$a.live_files" -> l.getOrElse(s"$a.live_files", 0.0),
            s"$a.generation" -> l.getOrElse(s"$a.generation", 0.0),
            s"$a.ensure_s" -> per(s"$a.ensure_s", s"$a.ensures"),
            s"$a.read_jobs" -> per(s"$a.read_jobs", s"$a.reads")))
      }
      tracer.write(benchDir.resolve("out").resolve(s"$runId.spans.jsonl"))

      val e2e = Map(
        "setup_s" -> setupS,
        "fast_p50_s" -> w.fastP50(report),
        "slow_p50_s" -> w.slowP50(report),
        "pass_s" -> passS)
      val named = ("setup_s", setupS, "s") +: w.named(report) :+
        (("fail_ratio", report.failed.toDouble / math.max(1L, report.attempted), "ratio"))
      val correct = report.failed == 0 && e2e.values.forall(v => !v.isNaN && v > 0)
      def metric(v: Double, unit: String): String = s"""{"value":${num(v)},"unit":"$unit"}"""
      val record = obj(Seq(
        "workload" -> s""""$workload"""",
        "seed" -> seed.toString,
        "trace" -> (if (traced) "1" else "0"),
        "nproc" -> cores.toString,
        "load1_before" -> num(load0),
        "load1_after" -> num(load1),
        "steal_s" -> num(stealS),
        "passes" -> passTimes.size.toString,
        "measured_s" -> num(measuredS),
        "session_s" -> num(sessionS),
        "setup_reps_s" -> setupReps.map(num).mkString("[", ",", "]"),
        "warmup_s" -> num(warmupS),
        "e2e" -> obj(endToEnd.map { case (k, u) => k -> metric(e2e(k), u) }),
        "named" -> obj(named.map { case (k, v, u) => k -> metric(v, u) }),
        "samples" -> obj(report.samples.toSeq.map { case (k, v) => k -> v.size.toString }),
        "layers" -> obj(layerMetrics.filter(_ => traced).map { case (k, u) => k -> metric(layers.getOrElse(k, 0.0), u) })))
      println(s"""{"record":$record}""")
      val out = if (traced) layerMetrics.map { case (k, u) => k -> metric(layers.getOrElse(k, 0.0), u) }
        else endToEnd.map { case (k, u) => k -> metric(e2e(k), u) }
      println(obj(Seq("correct" -> correct.toString, "attempted" -> report.attempted.toString,
        "failed" -> report.failed.toString, "metrics" -> obj(out))))
    } finally {
      spark.stop()
      Bench.deleteTree(work)
    }
  }
}
