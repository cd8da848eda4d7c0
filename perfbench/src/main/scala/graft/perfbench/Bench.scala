package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one run collects: latency samples, the operation tally and the
  * per-layer sums. */
final class Report {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def addLayer(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $msg")
  }

  /** Run one operation: counted as attempted, and as failed if it throws. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case e: Exception => fail(s"$what: $e"); None }
  }

  def quantile(name: String, q: Double): Double =
    samples.get(name).filter(_.nonEmpty).fold(Double.NaN)(Bench.quantile(_, q))
}

/** Shared context of one run. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val report: Report,
    val workDir: Path,
    val dataDir: String,
    val benchDir: Path,
    val seed: Long,
    val seconds: Int,
    val smoke: Boolean)

/** A workload: set-up that can be repeated, a warm-up, then passes. */
trait Workload {
  /** One set-up repetition into a fresh directory; the last one is used. */
  def setupRep(rep: Int): Unit
  /** Untimed first pass that pays JIT and codegen. */
  def warmup(): Unit
  /** One pass of the workload's fixed operation sequence. */
  def pass(): Unit
  /** Optional per-layer probes run after a pass, outside its timing. */
  def probe(): Unit = ()
  /** Checks that need the whole run (after the last pass). */
  def finish(): Unit = ()
  /** Issue-named end-to-end metrics, by name with unit. */
  def named(r: Report): Seq[(String, Double, String)]
  /** The contract's generic latency classes. */
  def fastP50(r: Report): Double
  def slowP50(r: Report): Double
}

object Bench {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Forces the full plan, like `graft.Bench`: a noop write materializes
    * every output column. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and order-independent content hash of a frame, collected
    * by the same action that times it (an `observe` node on top of the
    * plan, so no sort is removed and no column is pruned). */
  final case class Digest(rows: Long, hash: String)

  private def hashInput(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => col(s"`${f.name}`"))
    // maps cannot be hashed directly; hash their JSON form instead
    if (df.schema.fields.exists(_.dataType.simpleString.contains("map<")))
      xxhash64(to_json(struct(cols: _*)))
    else xxhash64(cols: _*)
  }

  def runDigest(df: DataFrame, name: String)(action: DataFrame => Unit): Digest = {
    val obs = Observation(s"digest_$name")
    val observed = df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(hashInput(df).cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("h"))
    action(observed)
    val m = obs.get
    Digest(m("n").asInstanceOf[Long], m("h").toString)
  }

  def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Every regular file under a directory, relative to it. */
  def listFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try {
        val out = mutable.Set.empty[String]
        s.filter(f => Files.isRegularFile(f)).forEach(f => out += p.relativize(f).toString)
        out.toSet
      } finally s.close()
    }

  /** CPU seconds of the whole JVM: driver and every local executor thread. */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the hypervisor gave to other guests, summed over every
    * CPU since boot (`steal` in /proc/stat, in 1/100 s): its growth over a
    * run shows contention that the load average does not. */
  def stealS: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
      .linesIterator.next().split("\\s+")(8).toDouble / 100
    catch { case _: Exception => -1.0 }

  def loadAvg1: Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}
