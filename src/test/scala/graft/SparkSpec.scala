package graft

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — specs run
  * in a single forked JVM, so getOrCreate dedupes). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // local[4, 2] = 4 threads, maxTaskFailures 2: a task may be retried once,
  // which the sink retry-semantics test relies on (plain local[N] aborts the
  // job on the first task failure). Other suites are unaffected — a retry
  // only happens when a task actually throws.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** A fresh temp directory, deleted when the test JVM exits. */
  def tempDir(prefix: String): Path = SparkSpec.tempDir(prefix)

  override def afterAll(): Unit = {
    // keep the session alive across suites; stopped by the JVM exiting
    super.afterAll()
  }
}

object SparkSpec {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(made.forEach(dir => FileUtil.fullyDelete(dir)))

  /** A fresh temp directory under `java.io.tmpdir`: every one made in
    * this JVM is deleted, with its contents, by one shutdown hook. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir.toFile)
    dir
  }
}
