package graft.etl

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.obs.Recorder
import HourlyBatches.Row

/** A10/A12 ordered append (`Purchases.writeOrdered`): a batch Spark reads
  * as one split is sorted in place and appended in one job; any other
  * input keeps the range-shuffled global sort. Either way the part files,
  * read in name order, never decrease in `purchase_date`, and the `buyer`
  * multiset is the JDK SHA-1 of the input emails. */
class OrderedAppendSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private final case class Append(jobs: Int, rangeShuffles: Int, newFiles: Seq[Path])

  /** Appends `df` to `table` through `writeOrdered`, counting the Spark
    * jobs it starts and the range-partitioning shuffles its plan holds. */
  private def append(df: DataFrame, table: Path): Append = {
    val rangeShuffles = new AtomicInteger
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        rangeShuffles.addAndGet(collect(qe.executedPlan) {
          case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
        }.size)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = partFiles(table).toSet
    // registered inside the recorded scope: its events, delivered on the
    // same listener bus, are drained before and after like the job records
    val jobs =
      try Recorder.record(spark.sparkContext) {
        spark.listenerManager.register(planListener)
        Purchases.writeOrdered(df, table.toString)
      }.jobs.size
      finally spark.listenerManager.unregister(planListener)
    Append(jobs, rangeShuffles.get, partFiles(table).filterNot(before))
  }

  /** Parquet part files of `table`, in name order. */
  private def partFiles(table: Path): Seq[Path] =
    if (!Files.exists(table)) Nil
    else Files.list(table).iterator().asScala.toSeq
      .filter { p => val n = p.getFileName.toString; n.startsWith("part-") && n.endsWith(".parquet") }
      .sortBy(_.getFileName.toString)

  private def assertContent(files: Seq[Path], input: Seq[Row]): Unit = {
    val dates = files.flatMap(HourlyBatches.datesInFileOrder(spark, _))
    assert(HourlyBatches.nonDecreasing(dates), "purchase_date decreases in file order")
    val buyers = spark.read.parquet(files.map(_.toString): _*).select("buyer")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(buyers === input.map(r => HourlyBatches.sha1Hex(r._1)).sorted)
  }

  /** One file of shuffled rows through `etlOf` and `writeOrdered`, appended
    * after an earlier batch: one job, no range shuffle, one new part file. */
  private def assertOneJobAppend(ext: String, etlOf: String => DataFrame): Unit = {
    val table = tempDir("ordered_append").resolve("purchases")
    val earlier = tempDir("landing")
    HourlyBatches.write(earlier, HourlyBatches.name(0, ext), HourlyBatches.rows(0))
    append(etlOf(earlier.toString), table)

    val rows = HourlyBatches.shuffled(HourlyBatches.rows(1), 7L)
    assert(rows.map(_._5) !== rows.map(_._5).sorted, "input must be out of order")
    val landing = tempDir("landing")
    HourlyBatches.write(landing, HourlyBatches.name(1, ext), rows)
    val df = etlOf(landing.toString)
    assert(Purchases.readsOneSplit(df))
    assert(df.rdd.getNumPartitions === 1) // Spark's own planning agrees

    val a = append(df, table)
    assert(a.jobs === 1)
    assert(a.rangeShuffles === 0)
    assert(a.newFiles.size === 1)
    assertContent(a.newFiles, rows)
  }

  test("A12 one-split batch: CSV append sorts in place in one job") {
    assertOneJobAppend("csv", Purchases.etl(spark, _))
  }

  test("A12 one-split batch: JSON-lines append sorts in place in one job") {
    assertOneJobAppend("jsonl", Purchases.etlJsonl(spark, _))
  }

  /** The range-sort path: a range shuffle in the write plan, and part
    * files that give a total order when read in name order. */
  private def assertGlobalSort(df: DataFrame, input: Seq[Row]): Unit = {
    assert(!Purchases.readsOneSplit(df))
    val a = append(df, tempDir("ordered_append").resolve("purchases"))
    assert(a.rangeShuffles === 1)
    assert(a.jobs > 1)
    assert(a.newFiles.nonEmpty)
    assertContent(a.newFiles, input)
  }

  test("A12 fallback: a landing directory of three hourly files keeps the global sort") {
    val (landing, batches) = HourlyBatches.landing(0 until 3)
    assertGlobalSort(Purchases.etl(spark, landing.toString), batches.flatten)
  }

  test("A12 fallback: one file read as several splits keeps the global sort") {
    val (landing, batches) = HourlyBatches.landing(Seq(2))
    val maxBytes = 2048L
    assert(Files.size(landing.resolve(HourlyBatches.name(2))) > maxBytes)
    spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes.toString)
    try {
      val df = Purchases.etl(spark, landing.toString)
      assert(df.rdd.getNumPartitions > 1) // Spark's own planning agrees
      assertGlobalSort(df, batches.flatten)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
