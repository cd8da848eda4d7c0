package graft.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

import graft.SparkSpec
import HourlyBatches.sha1Hex

/** Tier-A golden-fixture tests (SURVEY.md §5) against the committed hourly
  * example CSVs, `Purchases.exampleDir` (FIXTURES.md §1): row counts, sha1
  * parity, order invariants, malformed-row semantics (A7 vs A8),
  * error-tolerant sink, generator distributions.
  *
  * The fixture is three files for 2021-03-21 11:00–13:59 UTC written by the
  * in-repo generator (`HourlyBatches`, seeds 100–102). The reference's own
  * example files (318+178+413 = 909 rows) are not in the repo; test names
  * still quote those counts, while the assertions take their expected
  * values from the committed files, read with plain JVM I/O. */
class EtlSpec extends SparkSpec {

  private val exampleDir = Purchases.exampleDir

  /** Rows in the committed example files: their line count. */
  private lazy val exampleRows: Long = HourlyBatches.exampleLines.size.toLong

  /** Email on line 1 of example/2021-03-21T11.csv. */
  private lazy val firstEmail: String =
    Files.readAllLines(Paths.get(exampleDir, HourlyBatches.name(0))).get(0).takeWhile(_ != ',')

  test("A1-A9: example CSVs load and transform to 909 rows (318+178+413)") {
    assert(Purchases.etl(spark, exampleDir).count() === exampleRows)
  }

  test("A5: buyer is the lowercase-hex sha1 of the email (golden value)") {
    val first = Purchases.etl(spark, exampleDir)
      .orderBy("purchase_date", "buyer")
      .select("buyer").first().getString(0)
    // the first row's email, read from the 11:00 file itself, hashed by the JDK
    val buyers = Purchases.etl(spark, exampleDir)
      .select("buyer").distinct().collect().map(_.getString(0)).toSet
    assert(buyers.contains(sha1Hex(firstEmail)))
    assert(first.matches("[0-9a-f]{40}"))
    // file-free golden: hashlib.sha1(b"hrrlmu@example.com").hexdigest(),
    // the reference's own first-row email
    assert(sha1Hex("hrrlmu@example.com") === "d6193937048f3edb6739bf69103f68b7d8e1c00c")
  }

  test("A5 full-file parity: Spark sha1 equals JDK MessageDigest for every example email") {
    // closes the "sha1 queries are rows-only" gap as far as the sandbox
    // allows: the oracle engine has no sha1, so the independent JDK digest
    // is the ground truth, swept over ALL rows rather than spot values
    val pairs = Purchases.readCsv(spark, exampleDir)
      .select(col("email"), sha1(col("email")).as("buyer"))
      .collect()
    assert(pairs.length.toLong === exampleRows)
    pairs.foreach { r =>
      assert(r.getString(1) === sha1Hex(r.getString(0)),
        s"sha1 mismatch for ${r.getString(0)}")
    }
    // and the pipeline output's buyer multiset is exactly the hashed emails
    val expected = pairs.map(_.getString(1)).sorted.toSeq
    val actual = Purchases.etl(spark, exampleDir)
      .select("buyer").collect().map(_.getString(0)).sorted.toSeq
    assert(actual === expected)
  }

  test("A5 md5 twin: same pipeline re-keyed on md5, digest independently verified") {
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val md5Etl = Purchases.etl(spark, exampleDir, anonymizer = md5)
    // the twin changes ONLY the digest: same rows survive, same key
    // cardinality (bijective on this corpus for both hashes)
    assert(md5Etl.count() === exampleRows)
    val sha1Keys = Purchases.etl(spark, exampleDir).select("buyer").distinct().count()
    assert(md5Etl.select("buyer").distinct().count() === sha1Keys)
    // and the digest is real md5 of the email, JDK as ground truth
    val pairs = Purchases.readCsv(spark, exampleDir)
      .select(col("email"), md5(col("email")).as("buyer"))
      .collect()
    pairs.foreach { r =>
      assert(r.getString(1) === md5Hex(r.getString(0)),
        s"md5 mismatch for ${r.getString(0)}")
    }
    assert(md5Etl.select("buyer").first().getString(0).matches("[0-9a-f]{32}"))
  }

  test("typed Dataset API: same rows, compile-time field access") {
    val ds = Purchases.typedEtl(spark, exampleDir)
    assert(ds.count() === exampleRows)
    val first = ds.filter(_.purchase_date.getHour == 11)
      .collect().minBy(_.purchase_date)
    assert(first.buyer.matches("[0-9a-f]{40}"))
    assert(first.quantity >= 1 && first.quantity <= 10)
  }

  test("A5 determinism: same email hashes identically across files") {
    val raw = Purchases.readCsv(spark, exampleDir)
    val emails = raw.select("email").distinct().count()
    val buyers = Purchases.etl(spark, exampleDir).select("buyer").distinct().count()
    assert(emails === buyers) // bijective on this data: no collisions, no drift
  }

  test("A9/A12: purchase_date parses and is non-decreasing after ordered sort") {
    val ts = Purchases.etl(spark, exampleDir)
      .orderBy("purchase_date")
      .select(unix_timestamp(col("purchase_date").cast("timestamp")))
      .collect().map(_.getLong(0))
    assert(ts.length.toLong === exampleRows)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    // hour range matches the three hourly files 11:00–13:59 UTC
    val (lo, hi) = (ts.min, ts.max)
    assert(java.time.Instant.ofEpochSecond(lo).toString.startsWith("2021-03-21T11"))
    assert(java.time.Instant.ofEpochSecond(hi).toString.startsWith("2021-03-21T13"))
  }

  test("A7 (documented intent): permissive mode drops malformed rows, keeps good ones") {
    val dir = tempDir("etl_perm").toFile
    val f = new java.io.File(dir, "bad.csv")
    val w = new java.io.PrintWriter(f)
    w.println("alice@example.com,100,2,50,2021-03-21T11:00:00")
    w.println("broken line with,not,enough")            // arity violation
    w.println("bob@example.com,xx,2,50,2021-03-21T11:00:01") // non-int item_id
    w.println("carol@example.com,101,3,60,garbage-date")     // bad timestamp
    w.println("dave@example.com,102,1,70,2021-03-21T11:00:02")
    w.close()
    val out = Purchases.etl(spark, dir.getAbsolutePath, failFast = false)
    assert(out.count() === 2) // alice + dave survive
  }

  test("A8 (reference-actual): strict mode aborts the batch on garbage fields") {
    val dir = tempDir("etl_strict").toFile
    val f = new java.io.File(dir, "bad.csv")
    val w = new java.io.PrintWriter(f)
    w.println("alice@example.com,100,2,50,2021-03-21T11:00:00")
    w.println("bob@example.com,xx,2,50,2021-03-21T11:00:01")
    w.close()
    assertThrows[Exception] {
      Purchases.etl(spark, dir.getAbsolutePath, failFast = true).collect()
    }
  }

  test("A11: error-tolerant sink routes failures to dead-letter files, not the driver") {
    val dlDir = tempDir("dead_letter").toFile.getAbsolutePath
    val df = Purchases.etl(spark, exampleDir).limit(100)
    // pass a file: URI — the sink resolves it through the Hadoop FS API,
    // the same code path a cluster uses for hdfs:// or s3a:// dead letters
    val (ok, dead) = Purchases.writeErrorTolerant(
      df,
      row => if (row.getInt(1) % 10 == 0) throw new RuntimeException("sink down") else (),
      s"file:$dlDir")
    assert(ok + dead === 100)
    assert(dead > 0)
    val deadFiles = new java.io.File(dlDir).listFiles().filter(_.getName.endsWith(".dead"))
    assert(deadFiles.nonEmpty)
    val deadLines = deadFiles.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(deadLines.length.toLong === dead)
  }

  test("A11: task retry gives at-least-once inserts and exactly-once dead letters") {
    // SURVEY §7 documents the sink's contract under task re-execution:
    // the external insert side-effect is at-least-once (rows inserted
    // before the fault are inserted again by the retry), the dead-letter
    // file is per-partition truncate-on-retry (no duplicate lines), and
    // the returned accumulator counts reflect only the successful attempt.
    // The injected fault is an Error, not an Exception, so it escapes the
    // per-row dead-letter catch and kills the task attempt itself
    // (retried because SparkSpec runs local[4, 2]).
    import spark.implicits._
    val dlDir = tempDir("dead_letter_retry").toFile.getAbsolutePath
    SinkRetryFault.reset()
    // 2 deterministic partitions: 0..9 and 10..19, in order
    val df = spark.sparkContext.parallelize(0L until 20L, 2).toDF("id")
    val (ok, dead) = Purchases.writeErrorTolerant(
      df,
      row => {
        val id = row.getLong(0)
        if (id == 3L) throw new RuntimeException("permanent row failure")
        if (id == 5L && !SinkRetryFault.failedOnce.getAndSet(true))
          throw new AssertionError("injected mid-partition task fault")
        SinkRetryFault.inserted.add(id)
      },
      s"file:$dlDir")
    assert(SinkRetryFault.failedOnce.get(), "the injected fault never fired")
    // accumulators: only the successful attempt counts (19 ok, 1 dead)
    assert((ok, dead) === (19L, 1L))
    // at-least-once inserts: every non-dead row arrived, and the rows the
    // failed attempt had already inserted (0,1,2,4 — before the fault at 5)
    // arrived a second time from the retry
    val byId = SinkRetryFault.inserted.toArray(Array.empty[java.lang.Long])
      .groupBy(_.longValue).view.mapValues(_.length).toMap
    assert(byId.keySet === (0L until 20L).toSet - 3L)
    assert(byId(0L) === 2, s"expected row 0 duplicated by the retry; got $byId")
    assert(byId(10L) === 1, "the healthy partition must not re-execute")
    // exactly-once dead letters: the retry truncated its partition's file,
    // so row 3 appears once even though both attempts dead-lettered it
    val deadLines = new java.io.File(dlDir).listFiles()
      .filter(_.getName.endsWith(".dead"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    assert(deadLines.length === 1, s"dead letters duplicated: ${deadLines.toSeq}")
  }

  test("A12 scale path: hour-partitioned ordered write keeps per-partition order") {
    // three generated hourly files, rows shuffled so the sort has work
    val (landing, batches) = HourlyBatches.landing(0 until 3)
    val out = tempDir("purch_part").resolve("t")
    Purchases.writeOrderedPartitioned(Purchases.etl(spark, landing.toString), out.toString)
    val back = spark.read.parquet(out.toString)
    assert(back.count() === batches.map(_.size).sum.toLong)
    // partition column `hour` exists and covers the three hours
    assert(back.select("hour").distinct().count() === 3)
    // order holds within each part file
    val parts = Files.walk(out).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-") && p.getFileName.toString.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      assert(HourlyBatches.nonDecreasing(HourlyBatches.datesInFileOrder(spark, f)),
        s"purchase_date decreases in $f")
    }
  }

  test("A3/A4: event and object guards mirror the reference predicates") {
    val good = Map("bucket" -> "b", "contentType" -> "text/csv",
      "name" -> "2021-03-21T11.csv", "size" -> "123")
    assert(Purchases.shouldProcess(good))
    assert(!Purchases.isEventValid(good - "size"))                 // missing key
    assert(!Purchases.isObjectValid(good + ("size" -> "0")))       // empty object
    assert(!Purchases.isObjectValid(good + ("contentType" -> "application/json")))
    assert(!Purchases.shouldProcess(good + ("size" -> "nope")))    // unparseable
  }

  test("A13/A14: DDL + the published query run verbatim over the loaded table") {
    val loc = tempDir("purch_table").toFile.getAbsolutePath + "/purchases"
    Purchases.etl(spark, exampleDir)
      .write.mode("overwrite").parquet(loc)
    spark.sql("DROP TABLE IF EXISTS purchases")
    Sinks.createPurchasesTable(spark, loc)
    // README.md:366 — the reference's one published query
    val out = spark.sql("SELECT * FROM purchases ORDER BY purchase_date")
    assert(out.count() === exampleRows)
    assert(out.columns.toSeq ===
      Seq("buyer", "item_id", "quantity", "price", "purchase_date"))
    spark.sql("DROP TABLE purchases")
  }

  test("A15/A16: generator matches reference distributions and sort order") {
    val rows = Purchases.generate(seed = 7L, java.time.LocalDateTime.of(2021, 3, 21, 11, 0))
    assert(rows.size >= 100 && rows.size <= 500)
    assert(rows.forall { case (e, id, q, p, _) =>
      e.matches("[a-z]{6,12}@example\\.com") &&
        id >= 100 && id <= 500 && q >= 1 && q <= 10 && p >= 1 && p <= 200
    })
    // sorted by timestamp string (lexicographic == chronological for ISO)
    val ts = rows.map(_._5)
    assert(ts === ts.sorted)
    // one row per generated email (reference iterates emails exactly once)
    assert(rows.map(_._1).distinct.size === rows.map(_._1).toSet.size)
  }

  test("JSON-lines source format produces identical results to the CSV path") {
    val dir = tempDir("etl_jsonl").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "batch.jsonl"))
    w.println("""{"email":"alice@example.com","item_id":"100","quantity":"2","price":"50","purchase_date":"2021-03-21T11:00:00"}""")
    w.println("""{"email":"bob@example.com","item_id":"101","quantity":"1","price":"60","purchase_date":"2021-03-21T11:01:00"}""")
    w.close()
    val out = Purchases.etlJsonl(spark, dir.getAbsolutePath).orderBy("purchase_date").collect()
    assert(out.length === 2)
    assert(out(0).getString(0) === // same sha1 as the CSV path computes
      java.security.MessageDigest.getInstance("SHA-1")
        .digest("alice@example.com".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(out(0).getInt(1) === 100 && out(0).getInt(2) === 2 && out(0).getInt(3) === 50)
  }

  test("ORC warehouse round-trip preserves the purchases schema and rows") {
    val loc = tempDir("purch_orc").toFile.getAbsolutePath + "/t"
    val df = Purchases.etl(spark, exampleDir)
    df.write.mode("overwrite").orc(loc)
    val back = spark.read.orc(loc)
    assert(back.count() === exampleRows)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("the committed example CSVs are byte for byte what the generator writes") {
    val dir = tempDir("example_regen")
    val written = HourlyBatches.exampleHours.map(h =>
      HourlyBatches.write(dir, HourlyBatches.name(h), HourlyBatches.rows(h)))
    assert(HourlyBatches.exampleFiles.map(_.getFileName.toString) ===
      written.map(_.getFileName.toString))
    HourlyBatches.exampleFiles.zip(written).foreach { case (committed, regen) =>
      assert(Files.readAllBytes(committed).sameElements(Files.readAllBytes(regen)),
        s"$committed differs from the generator's output")
    }
  }

  test("A17: generated CSV round-trips through the pipeline") {
    val dir = tempDir("gen_csv").toFile.getAbsolutePath + "/out"
    val rows = Purchases.generate(3L, java.time.LocalDateTime.of(2021, 3, 21, 12, 0))
    Purchases.writeGeneratedCsv(spark, rows, dir)
    val back = Purchases.etl(spark, dir)
    assert(back.count().toInt === rows.size)
  }
}

/** JVM-static fault state for the retry test: executors share the test JVM
  * in local mode, so the closure and the assertions see the same object. */
object SinkRetryFault {
  val failedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  val inserted = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  def reset(): Unit = { failedOnce.set(false); inserted.clear() }
}
