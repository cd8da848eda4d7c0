package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference ETL pipeline (SURVEY.md §2 Tier A), re-expressed Spark-first.
  *
  * Reference semantics (all cites into /root/reference/):
  *  - A1/A2: hourly headerless CSV of purchases, 5 positional columns
  *    `email,item_id,quantity,price,purchase_date`
  *    (cloud_function.py:121–122, data_generator.py:72–76).
  *  - A5: `buyer = sha1(email)` lowercase hex — deliberately deterministic and
  *    salt-less so one buyer hashes identically across files
  *    (cloud_function.py:70, README.md:249). Spark's `sha1` is byte-identical
  *    to Python's `hashlib.sha1(...).hexdigest()`.
  *  - A6: item_id/quantity/price string→int casts (cloud_function.py:73–75).
  *  - A9: purchase_date parsed with format `yyyy-MM-ddTHH:mm:ss`
  *    (cloud_function.py:88 — QuestDB `to_timestamp`).
  *  - A7/A8: the reference's record "filter" is a no-op (cloud_function.py:124)
  *    and malformed rows abort the whole batch (ValueError in the
  *    comprehension). FAILFAST reproduces abort-the-batch; PERMISSIVE +
  *    na.drop reproduces the documented intent (README.md:331).
  *  - A10/A12/A14: append into `purchases(buyer,item_id,quantity,price,
  *    purchase_date)` with designated timestamp `purchase_date` — rows arrive
  *    in non-decreasing purchase_date order (sql/create-table.sql:1,
  *    README.md:373).
  *
  * Scale notes: the CSV scan parallelizes per file/split; the transform is a
  * narrow projection (whole-stage codegen, no shuffle). The only shuffle is
  * the global sort before an ordered append of a batch that Spark reads as
  * more than one split; an hourly file (~20 KB) is one split, so its append
  * sorts in place and writes in a single job (see `writeOrdered`). At 100 TB
  * the ordered sink should switch to hour-partitioned writes where order is
  * only enforced within a partition (see `writeOrderedPartitioned`).
  */
object Purchases {

  /** Raw positional schema — all strings, exactly as bytes arrive (A2). */
  val rawSchema: StructType = StructType(Seq(
    StructField("email", StringType),
    StructField("item_id", StringType),
    StructField("quantity", StringType),
    StructField("price", StringType),
    StructField("purchase_date", StringType)))

  /** Clean `purchases` table schema (sql/create-table.sql:1). */
  val tableSchema: StructType = StructType(Seq(
    StructField("buyer", StringType),
    StructField("item_id", IntegerType),
    StructField("quantity", IntegerType),
    StructField("price", IntegerType),
    StructField("purchase_date", TimestampNTZType)))

  /** Typed record for the Dataset API (LocalDateTime ⇔ TIMESTAMP_NTZ). */
  final case class Purchase(
      buyer: String, item_id: Int, quantity: Int, price: Int,
      purchase_date: java.time.LocalDateTime)

  /** The committed hourly example CSVs, `example/` at the repo root
    * (FIXTURES.md §1), resolved against the working directory to an
    * absolute path so the DuckDB oracle SQL that `Verify` writes opens the
    * same files from any directory. */
  val exampleDir: String = java.nio.file.Paths.get("example").toAbsolutePath.toString

  /** A3: event-validity guard — the trigger event must carry all required
    * keys (cloud_function.py:29–38); run BEFORE any data is fetched,
    * cheapest predicate first (cloud_function.py:103–104). */
  def isEventValid(event: Map[String, String]): Boolean =
    Seq("bucket", "contentType", "name", "size").forall(event.contains)

  /** A4: object-validity guard — non-empty AND text/csv, conjunctive
    * short-circuit exactly as the reference (cloud_function.py:41–50). */
  def isObjectValid(event: Map[String, String]): Boolean =
    event.get("size").exists(s => s.toLongOption.exists(_ > 0)) &&
      event.get("contentType").contains("text/csv")

  /** A3+A4 composed pre-flight: returns true iff the batch should even be
    * read — both guards pass before any I/O, mirroring §3.1 steps 2–3. */
  def shouldProcess(event: Map[String, String]): Boolean =
    isEventValid(event) && isObjectValid(event)

  /** A1–A4: read hourly headerless purchase CSVs. `failFast=true` reproduces
    * the reference's abort-the-batch malformed-row behavior (A8); false gives
    * the documented-intent PERMISSIVE pipeline (A7) — malformed rows carry a
    * populated `_corrupt` column and are dropped by [[transform]].
    */
  def readCsv(spark: SparkSession, path: String, failFast: Boolean = true): DataFrame = {
    val mode = if (failFast) "FAILFAST" else "PERMISSIVE"
    val schema = if (failFast) rawSchema
      else rawSchema.add(StructField("_corrupt", StringType))
    spark.read
      .schema(schema)
      .option("header", "false")
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("pathGlobFilter", "*.csv") // A4: only text/csv objects
      .csv(path)
  }

  /** Source-format variant: JSON-lines purchases with the same positional
    * fields as the CSV (one object per line, string-typed values — the
    * shape an exporter emitting JSON instead of CSV would produce). The
    * identical [[transform]] runs downstream, so switching formats is a
    * one-line change for the pipeline owner. */
  def readJsonl(spark: SparkSession, path: String, failFast: Boolean = true): DataFrame = {
    val mode = if (failFast) "FAILFAST" else "PERMISSIVE"
    val schema = if (failFast) rawSchema
      else rawSchema.add(StructField("_corrupt", StringType))
    spark.read
      .schema(schema)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("pathGlobFilter", "*.jsonl")
      .json(path)
  }

  /** Full pipeline over JSON-lines input (format twin of [[etl]]). */
  def etlJsonl(spark: SparkSession, path: String, failFast: Boolean = true): DataFrame =
    transform(readJsonl(spark, path, failFast), strict = failFast)

  /** A5+A6+A9 (+A7/A8): anonymize, cast, parse timestamp. Pure narrow
    * projection — stays inside one whole-stage-codegen span.
    *
    * `strict=true` (A8, reference-actual): ANSI `cast`/`to_timestamp` THROW
    * on non-numeric or unparseable fields — the whole batch aborts, exactly
    * like the ValueError inside cloud_function.py:67–78's comprehension.
    * `strict=false` (A7, reference-documented-intent): `try_*` variants turn
    * garbage into null and the row is dropped instead of aborting.
    *
    * `anonymizer` defaults to sha1 (A5 reference parity,
    * cloud_function.py:70); the md5 override exists for the oracle-twin
    * queries (DuckDB 1.0 ships md5 but not sha1 — see EtlQueries).
    */
  def transform(raw: DataFrame, strict: Boolean = true,
      anonymizer: Column => Column = sha1): DataFrame = {
    val dropped =
      if (raw.columns.contains("_corrupt"))
        raw.filter(col("_corrupt").isNull).drop("_corrupt")
      else raw
    def toInt(c: String) =
      if (strict) col(c).cast(IntegerType) else expr(s"try_cast($c AS INT)")
    // NTZ result: the reference format carries no timezone (SURVEY §1.2);
    // session tz is UTC so the wall-clock value is identical, and the
    // output schema matches the naive timestamps of the oracle engine.
    def toTs(c: String) =
      (if (strict) to_timestamp(col(c), "yyyy-MM-dd'T'HH:mm:ss")
       else try_to_timestamp(col(c), lit("yyyy-MM-dd'T'HH:mm:ss")))
        .cast(TimestampNTZType)
    dropped
      .select(
        anonymizer(col("email")).as("buyer"), // A5
        toInt("item_id").as("item_id"),   // A6
        toInt("quantity").as("quantity"),
        toInt("price").as("price"),
        toTs("purchase_date").as("purchase_date")) // A9
      // A7 documented intent: invalid records (null after try_cast/parse)
      // are filtered out rather than aborting the batch.
      .na.drop(Seq("buyer", "item_id", "quantity", "price", "purchase_date"))
  }

  /** Full Extract→Transform pipeline over a CSV path (A1–A9). `failFast`
    * selects both the CSV mode (structural malformation) and strict
    * cast/parse semantics (field-level garbage) so the two failure classes
    * behave consistently (A8 vs A7). */
  def etl(spark: SparkSession, path: String, failFast: Boolean = true,
      anonymizer: Column => Column = sha1): DataFrame =
    transform(readCsv(spark, path, failFast), strict = failFast,
      anonymizer = anonymizer)

  /** Typed variant of [[etl]]: the same pipeline surfaced as
    * `Dataset[Purchase]` for callers that want compile-time field safety
    * (filters/maps over case-class fields instead of stringly columns). */
  def typedEtl(spark: SparkSession, path: String, failFast: Boolean = true): Dataset[Purchase] = {
    import spark.implicits._
    etl(spark, path, failFast).as[Purchase]
  }

  /** A10/A12: ordered append — sort on the designated timestamp before
    * writing, reproducing QuestDB's in-order append contract (README.md:373).
    *
    * One-split rule: when [[readsOneSplit]] holds, the scan is one Spark
    * partition and projections and filters keep it one, so sorting within
    * that partition is already a total order. The append then writes one
    * sorted part file in one job, without the range partitioner's sampling
    * job and shuffle stage. Any other input keeps the global sort, which
    * range-shuffles to give a totally ordered file set (part files in name
    * order). Reference-fidelity path only: do NOT use for the analytic path
    * at scale.
    */
  def writeOrdered(df: DataFrame, path: String): Unit = {
    val sorted =
      if (readsOneSplit(df)) df.sortWithinPartitions("purchase_date")
      else df.orderBy("purchase_date")
    sorted.write.mode(SaveMode.Append).parquet(path)
  }

  /** True when `df` is only projections and filters (no subqueries, which
    * plan as joins) over a file relation of exactly one file, and that file
    * is no longer than `FilePartition.maxSplitBytes`, so the scan splits it
    * once — the bound and the listing Spark's file scan itself uses. Reads
    * the already-analyzed plan and the relation's file index, which for a
    * path read serves the listing cached at analysis: no second planning of
    * the query and no job.
    */
  private[etl] def readsOneSplit(df: DataFrame): Boolean = {
    def oneSplit(plan: LogicalPlan): Boolean = plan match {
      case p @ (_: Project | _: Filter) =>
        !p.expressions.exists(SubqueryExpression.hasSubquery) && oneSplit(p.children.head)
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val listing = fs.location.listFiles(Nil, Nil)
        listing.flatMap(_.files) match {
          case Seq(file) => file.getLen <= FilePartition.maxSplitBytes(df.sparkSession, listing)
          case _ => false
        }
      case _ => false
    }
    oneSplit(df.queryExecution.analyzed)
  }

  /** Scale path for the designated-timestamp contract: partition by hour,
    * sort within partitions — order holds per partition (what QuestDB's
    * later O3 writes relax to), writes stay parallel at 100 TB.
    * The sort leads with `hour` because a partitioned write requires its
    * input ordered by the partition column: a sort on `purchase_date` alone
    * would be replaced by the writer's own sort on `hour`, which keeps no
    * order within an hour.
    */
  def writeOrderedPartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("hour", date_trunc("hour", col("purchase_date")))
      .repartition(col("hour"))
      .sortWithinPartitions("hour", "purchase_date")
      .write.mode(SaveMode.Append).partitionBy("hour").parquet(path)

  /** A11: per-record error-tolerant sink. The reference catches each INSERT
    * failure, logs it, and continues (cloud_function.py:90–95). Spark's
    * task-retry model makes true row-level tolerance at-least-once; we
    * reproduce the semantics with a per-partition try/catch that writes
    * failed rows to a DEAD-LETTER PATH from inside the executor — only
    * counters cross to the driver, so a systemic failure can never OOM the
    * driver (round-2 verdict fix), and accumulator double-count on task
    * retry affects only the metrics, not the dead-letter data (files are
    * named by partition id and overwritten on retry).
    *
    * Dead letters go through the Hadoop FileSystem API, so `deadLetterDir`
    * may be any shared filesystem URI (hdfs://, s3a://, file:/...) — on a
    * real cluster every executor writes to the same store, not its local
    * disk. The driver's full Hadoop configuration (including `spark.hadoop.*`
    * overrides — s3a credentials, endpoints, hdfs nameservices) is captured
    * into a serializable wrapper BEFORE the closure ships, so executors
    * authenticate with the session's settings rather than whatever
    * core-site.xml happens to be on their classpath.
    * Returns (okCount, deadCount) as observed by the accumulators.
    */
  def writeErrorTolerant(
      df: DataFrame,
      insert: org.apache.spark.sql.Row => Unit,
      deadLetterDir: String): (Long, Long) = {
    val spark = df.sparkSession
    val ok = spark.sparkContext.longAccumulator("rows_ok")
    val dead = spark.sparkContext.longAccumulator("rows_dead")
    val hadoopConf = new graft.util.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    df.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val path = new org.apache.hadoop.fs.Path(deadLetterDir, f"part-$pid%05d.dead")
      var out: java.io.PrintWriter = null
      def writer(): java.io.PrintWriter = {
        if (out == null) {
          val fs = path.getFileSystem(hadoopConf.value)
          // create(overwrite=true) also creates parent dirs; a task retry
          // truncates its own partition's file rather than duplicating rows
          out = new java.io.PrintWriter(
            new java.io.OutputStreamWriter(fs.create(path, true), "UTF-8"))
        }
        out
      }
      try {
        it.foreach { row =>
          try { insert(row); ok.add(1L) }
          catch { case e: Exception =>
            writer().println(s"$row\t${e.getMessage}")
            dead.add(1L)
          }
        }
      } finally if (out != null) out.close()
    }
    (ok.value, dead.value)
  }

  // --- A15–A17: synthetic data generator (data_generator.py:11,44–76) -----

  /** Distribution-faithful generator: batch of 100–500 rows; emails =
    * 6–12 random lowercase chars + "@example.com"; item pool of
    * (id∈[100,500], price∈[1,200]) pairs sampled with replacement;
    * quantity∈[1,10]; timestamps uniform within `hour`; sorted by timestamp
    * (A16). Deterministic under `seed`.
    */
  def generate(seed: Long, hourUtc: java.time.LocalDateTime): Seq[(String, Int, Int, Int, String)] = {
    val rnd = new scala.util.Random(seed)
    val n = 100 + rnd.nextInt(401)
    val emails = Seq.fill(n) {
      val len = 6 + rnd.nextInt(7)
      Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString + "@example.com"
    }
    val pool = Seq.fill(n)((100 + rnd.nextInt(401), 1 + rnd.nextInt(200)))
    // One row per generated email (reference iterates `for email in emails`,
    // data_generator.py:55 — emails are NOT resampled); only the item pool
    // is sampled with replacement.
    val rows = emails.map { email =>
      val (id, price) = pool(rnd.nextInt(pool.size))
      val qty = 1 + rnd.nextInt(10)
      val ts = hourUtc.plusMinutes(rnd.nextInt(60).toLong).withSecond(rnd.nextInt(60))
      (email, id, qty, price, ts.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
    }
    rows.sortBy(_._5) // A16: lexicographic ISO sort ≡ chronological
  }

  /** A17: write generated rows as a headerless CSV (data_generator.py:72–76). */
  def writeGeneratedCsv(spark: SparkSession, rows: Seq[(String, Int, Int, Int, String)], path: String): Unit = {
    import spark.implicits._
    rows.toDF("email", "item_id", "quantity", "price", "purchase_date")
      .coalesce(1)
      .write.option("header", "false").mode(SaveMode.Overwrite).csv(path)
  }
}
