package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Purchases

/** `etl_hourly`: the paper's pipeline. Hourly purchase batches, generated
  * from the seed and written as headerless CSV with plain JVM I/O, are
  * ingested in arrival order — guard, `Purchases.etl`,
  * `Purchases.writeOrdered` — into one growing table, and the three
  * published reads run over it.
  *
  * A pass is a fixed unit of work: `batchesPerPass` batches into a fresh
  * table, then `readRounds` rounds of the reads. Every read round
  * therefore scans a table of the same size, however many passes fit in a
  * run. Listing,
  * checking and deleting the table happen after the pass, untimed. */
final class EtlHourly(ctx: Ctx) extends Workload {
  import ctx._

  private val batchesPerPass = if (smoke) 2 else 10
  /** Read rounds per pass: one round is three short reads, and a second
    * halves how much one slow read moves the run's median round. */
  private val readRounds = 2
  private val hour0 = LocalDateTime.of(2021, 3, 21, 0, 0)

  private final case class Batch(
      file: Path, rows: Seq[(String, Int, Int, Int, String)], event: Map[String, String])

  private var batches: IndexedSeq[Batch] = IndexedSeq.empty
  private var next = 0
  private val table = workDir.resolve("purchases")
  /** Batches of the pass that built `table`. */
  private var tableBatches: Seq[Batch] = Nil

  private def makeBatch(dir: Path, h: Int): Batch = {
    val hour = hour0.plusHours(h.toLong)
    val rows = Purchases.generate(seed + h, hour)
    val name = hour.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH")) + ".csv"
    val body = rows.map { case (e, i, q, p, t) => s"$e,$i,$q,$p,$t" }.mkString("", "\n", "\n")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val file = dir.resolve(name)
    Files.write(file, bytes)
    Batch(file, rows, Map("bucket" -> "landing", "contentType" -> "text/csv",
      "name" -> name, "size" -> bytes.length.toString))
  }

  /** Batches for more passes than a run can make; a run that gets past
    * them starts over at the first (each pass writes a fresh table). */
  private def batchCount: Int = batchesPerPass * (if (smoke) 2 else math.max(8, 2 * seconds))

  def setupRep(rep: Int): Unit = {
    val landing = workDir.resolve(s"landing-$rep")
    Bench.deleteTree(landing)
    Files.createDirectories(landing)
    batches = (0 until batchCount).map(makeBatch(landing, _))
  }

  /** Guard → plan → ordered append of one batch into `dest`. */
  private def ingest(b: Batch, dest: Path): Unit =
    report.op(s"ingest ${b.file.getFileName}") {
      val g = tracer.span("etl.guard")(Purchases.shouldProcess(b.event))
      if (!g.value) sys.error("guard rejected a valid batch")
      val p = tracer.span("etl.plan")(Purchases.etl(spark, b.file.toString))
      val w = tracer.span("etl.write")(Purchases.writeOrdered(p.value, dest.toString))
      report.sample("ingest_s", g.seconds + p.seconds + w.seconds)
      report.addLayer("etl.guard_s", g.seconds)
      report.addLayer("etl.plan_s", p.seconds)
      report.addLayer("etl.write_s", w.seconds)
      report.addLayer("etl.jobs", (g.jobs + p.jobs + w.jobs).toDouble)
      report.addLayer("etl.rows_in", b.rows.size.toDouble)
      report.addLayer("etl.batches", 1)
    }

  /** The three published reads over the table (A13, B2, B3), each checked
    * against the rows ingested into it. */
  private def reads(src: Path, expected: Long): Unit = {
    var roundS = 0.0
    def read(name: String, build: DataFrame => DataFrame, total: Column): Unit =
      report.op(s"read $name") {
        val sp = tracer.span(s"etl.read:$name") {
          val df = build(spark.read.parquet(src.toString))
          val obs = org.apache.spark.sql.Observation(s"read_$name")
          Bench.noop(df.observe(obs, coalesce(sum(total), lit(0L)).as("rows")))
          obs.get("rows").asInstanceOf[Long]
        }
        roundS += sp.seconds
        report.sample("read_s", sp.seconds)
        if (sp.value != expected) report.fail(s"read $name saw ${sp.value} rows, expected $expected")
      }
    val money = col("quantity").cast("long") * col("price")
    read("a13_ordered_scan",
      _.orderBy("purchase_date", "buyer", "item_id", "quantity", "price"), lit(1L))
    read("b2_hourly_trend",
      _.groupBy(date_trunc("hour", col("purchase_date")).as("hr"))
        .agg(count(lit(1)).as("cnt"), sum(money).as("revenue")).orderBy("hr"),
      col("cnt"))
    read("b3_buyer_spend",
      _.groupBy("buyer")
        .agg(count(lit(1)).as("n_purchases"), sum(money).as("total_spend")).orderBy("buyer"),
      col("n_purchases"))
    report.sample("read_round_s", roundS)
  }

  private def nextBatches(): Seq[Batch] = (0 until batchesPerPass).map { _ =>
    val b = batches(next % batches.size)
    next += 1
    b
  }

  def warmup(): Unit = {
    // a throwaway table: JIT and codegen for the ingest and read paths
    val warm = workDir.resolve("warmup")
    val extra = (0 until 2).map(i => makeBatch(Files.createDirectories(workDir.resolve("warm-landing")), 10000 + i))
    extra.foreach(ingest(_, warm))
    reads(warm, extra.map(_.rows.size.toLong).sum)
    Bench.deleteTree(warm)
  }

  def pass(): Unit = {
    val bs = nextBatches()
    bs.foreach(ingest(_, table))
    (0 until readRounds).foreach(_ => reads(table, bs.map(_.rows.size.toLong).sum))
    tableBatches = bs
  }

  /** Checks the pass's table, then deletes it. Each ingest appends one
    * write job, whose part files share the job's id in their names. Per
    * batch: its rows equal the generated count and each buyer is the JDK
    * SHA-1 of an email of the batch; per part file: purchase_date never
    * decreases. */
  override def probe(): Unit = {
    val files = Bench.listFiles(table).filter(_.endsWith(".parquet"))
    report.addLayer("etl.table_files_sum", files.size.toDouble)
    report.addLayer("etl.table_bytes", files.toSeq.map(f => Files.size(table.resolve(f))).sum.toDouble)
    val rows = spark.read.parquet(table.toString)
      .select(input_file_name().as("f"), monotonically_increasing_id().as("pos"),
        col("buyer"), col("purchase_date"))
      .collect()
    report.addLayer("etl.rows_out", rows.length.toDouble)
    val byFile = rows.groupBy(r => Paths.get(new java.net.URI(r.getString(0))).getFileName.toString)
    val JobFile = """part-\d+-(.+)-c\d+.*""".r
    val byJob = byFile.toSeq.groupBy { case (f, _) => f match { case JobFile(job) => job; case _ => f } }
    var jobs = byJob.values.map(_.flatMap(_._2).map(_.getString(2)).sorted).toList
    tableBatches.foreach { b =>
      val want = b.rows.map(r => Bench.sha1Hex(r._1)).sorted
      if (jobs.contains(want)) jobs = jobs.diff(Seq(want))
      else report.fail(s"batch ${b.file.getFileName}: table content does not match its input")
    }
    if (jobs.nonEmpty) report.fail(s"${jobs.size} append jobs in the table match no batch")
    byFile.foreach { case (f, rs) =>
      val ts = rs.sortBy(_.getLong(1)).map(_.get(3).asInstanceOf[LocalDateTime])
      if (ts.indices.drop(1).exists(i => ts(i).isBefore(ts(i - 1))))
        report.fail(s"part file $f: purchase_date decreases")
    }
    Bench.deleteTree(table)
  }

  def named(r: Report): Seq[(String, Double, String)] = {
    val ingestTotal = r.samples.get("ingest_s").fold(0.0)(_.sum)
    Seq(
      ("ingest_p50_s", r.quantile("ingest_s", 0.5), "s"),
      ("ingest_p90_s", r.quantile("ingest_s", 0.9), "s"),
      ("ingest_rows_per_s", r.layer.getOrElse("etl.rows_in", 0.0) / ingestTotal, "rows/s"),
      ("read_p50_s", r.quantile("read_s", 0.5), "s"))
  }
  def fastP50(r: Report): Double = r.quantile("ingest_s", 0.5)
  def slowP50(r: Report): Double = r.quantile("read_round_s", 0.5)
}
