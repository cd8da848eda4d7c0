package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.obs.Timing

/** Isolated per-query benchmark: one FRESH JVM (and therefore a fresh
  * SparkSession, codegen cache, JIT profile, block manager) per headline
  * query, 3-rep median inside each child — the measurement the in-suite
  * numbers in BENCHFULL.json cannot give.
  *
  * Why this exists (round-10 verdict directive): the suite runs 155
  * queries back-to-back in one JVM, so any query's in-suite wall time
  * carries whatever JVM state the previous 150 left behind — two rounds in
  * a row an apparent regression (`c14_pagerank` r9, `c17_dedup_clusters`
  * r10) dissolved when re-measured alone. Committing BENCHISO.json kills
  * that ambiguity at the measurement layer: a real plan regression moves
  * BOTH records; JVM-state noise moves only the in-suite one.
  *
  * Mechanics: each child is `java -cp <this classpath> graft.Bench` with
  * `SPARK_GRAFT_BENCH_ONLY=<query>` — the exact committed bench code path,
  * so the two records differ only in process isolation, never in timing
  * harness. Children start with this JVM's own flags (build.sbt's module
  * opens and heap). Results land in BENCHISO.json unless
  * SPARK_GRAFT_BENCH_NOFILE is set; a run that writes its record also
  * takes the canary, in this JVM once the last child has exited: a fresh
  * JVM that has run no Spark job, like every child. */
object BenchIsolated {

  private val mapper = new ObjectMapper

  /** Fork one `graft.Bench` child timing `query` alone and return the
    * query's (wall, cpu) medians from the child's full record. */
  private def runChild(query: String, jvmFlags: Seq[String]): Option[(Double, Double)] = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder((Seq(javaBin) ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench")): _*)
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY", query)
    pb.environment().put("SPARK_GRAFT_BENCH_NOFILE", "1")
    // stderr INHERITs (Spark logs are chatty enough to fill a pipe
    // buffer and deadlock the child if left unread)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(
      org.apache.commons.io.IOUtils.toByteArray(p.getInputStream),
      StandardCharsets.UTF_8)
    val code = p.waitFor()
    val full = out.linesIterator
      .find(_.contains("\"metric\":\"total_all_queries\"")).map(mapper.readTree)
    val wall = full.flatMap(r => Option(r.path("queries").get(query))).map(_.asDouble)
    val cpu = full.flatMap(r => Option(r.path("cpu_s").get(query))).fold(-1.0)(_.asDouble)
    if (code != 0 || wall.isEmpty)
      System.err.println(s"[bench-iso] $query FAILED (exit $code)")
    else
      System.err.println(s"[bench-iso] $query ${wall.get}s wall, ${cpu}s cpu")
    wall.map(_ -> cpu)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Bench.headline)
    val recordFile = Timing.recordFile("BENCHISO.json")
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    System.err.println(s"[bench-iso] child JVM flags: ${jvmFlags.mkString(" ")}")
    val results = queries.flatMap(q => runChild(q, jvmFlags).map { case (w, c) => (q, w, c) })
    // the canary is paid once per record, not once per child: per-query
    // children run with NOFILE and take none
    val canary: Seq[(String, Double)] = if (recordFile.isEmpty) Seq.empty else {
      val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try Bench.runCanary(spark)
      catch { case e: Throwable =>
        System.err.println(s"[bench-iso] canary FAILED: ${e.getMessage}")
        Seq.empty
      } finally spark.stop()
    }
    val line = Timing.obj(Seq(
      "metric" -> Timing.str("total_isolated"),
      "value" -> Timing.num(results.map(_._2).sum),
      "unit" -> Timing.str("sec"),
      "n_queries" -> results.size.toString) ++
      (if (canary.isEmpty) Nil else Seq("canary" -> Timing.nums(canary))) ++ Seq(
      "queries" -> Timing.nums(results.map(r => r._1 -> r._2)),
      "cpu_s" -> Timing.nums(results.map(r => r._1 -> r._3)),
      "sf" -> Timing.str(sfDir)): _*)
    println(line)
    recordFile.foreach(Timing.write(_, line))
  }
}
