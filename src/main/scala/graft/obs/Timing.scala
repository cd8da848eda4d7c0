package graft.obs

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.util.JsonStr

/** What the bench mains share to time a call and write its record: the
  * median, the process-CPU and JVM-GC readings, the noop-write force, a
  * JSON writer that prints the same numbers in every default locale, and
  * the record-file contract. */
object Timing {

  /** The middle of a non-empty sample; the upper middle of an even one. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def medianSeconds(reps: Int)(f: => Unit): Double =
    median((1 to reps).map(_ => seconds(f)))

  /** Whole-JVM CPU seconds: the driver and every local[N] executor thread,
    * so it can exceed wall time. External load inflates wall time but not
    * this, which is how a contaminated rep shows itself. -1 where the JVM
    * does not report it. */
  def processCpuS: Double =
    try ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
    catch { case _: Throwable => -1.0 }

  /** Collection time so far, summed over this JVM's collectors. */
  def jvmGcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Runs the full plan of `df`, every output column materialized. A
    * `count()` would let Catalyst prune columns and collapse a
    * projection-only query to a metadata scan. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def num(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def str(s: String): String = JsonStr.quote(s)

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")

  /** A JSON object from already-encoded values, in the given order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def nums(fields: Seq[(String, Double)]): String =
    obj(fields.map { case (k, v) => k -> num(v) }: _*)

  /** Where a run writes its record: `SPARK_GRAFT_BENCH_OUT`, else
    * `default`, or nowhere when `SPARK_GRAFT_BENCH_NOFILE` is set (smoke
    * and dev-loop runs must not overwrite a committed record). A run takes
    * the canary exactly when it has a record file, so every written record
    * can be drift-normalized and no printed partial carries one. */
  def recordFile(default: String): Option[Path] =
    if (sys.env.contains("SPARK_GRAFT_BENCH_NOFILE")) None
    else Some(Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", default)))

  /** Writes the record line directly to its file (no write-then-move
    * window). The line is already on stdout, so a failed write is reported
    * and the run goes on to print the rest. */
  def write(file: Path, line: String): Unit =
    try Files.write(file, (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] record write to $file failed: ${e.getMessage}")
    }
}
