package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Hourly purchase batches from the in-repo generator (A15–A17), written
  * as landing files with plain JVM I/O, so ETL specs need no external
  * fixture, and the order checks the ordered writes are held to. Hour `h`
  * is `2021-03-21T(11+h):00`, generated with seed `100+h`. */
object HourlyBatches {
  type Row = (String, Int, Int, Int, String)

  private val hour0 = LocalDateTime.of(2021, 3, 21, 11, 0)

  def rows(h: Int): Seq[Row] = Purchases.generate(100L + h, hour0.plusHours(h.toLong))

  /** `rows` reordered by `seed`, so an ordered write has real sorting to do. */
  def shuffled(rows: Seq[Row], seed: Long): Seq[Row] = new scala.util.Random(seed).shuffle(rows)

  /** File name of hour `h`, `2021-03-21T11.csv` style as in the reference's
    * example directory. */
  def name(h: Int, ext: String = "csv"): String =
    hour0.plusHours(h.toLong).format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH")) + "." + ext

  /** Writes `rows` to `dir/name`: headerless CSV, or JSON lines with the
    * string-typed fields `Purchases.readJsonl` reads. */
  def write(dir: Path, name: String, rows: Seq[Row]): Path = {
    val jsonl = name.endsWith(".jsonl")
    val lines = rows.map { case (e, i, q, p, t) =>
      if (jsonl) s"""{"email":"$e","item_id":"$i","quantity":"$q","price":"$p","purchase_date":"$t"}"""
      else s"$e,$i,$q,$p,$t"
    }
    Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Hours of the committed example fixture, `Purchases.exampleDir`:
    * `write(dir, name(h), rows(h))` for each rewrites it byte for byte. */
  val exampleHours: Seq[Int] = 0 until 3

  /** The committed example CSVs, in name (hour) order. */
  def exampleFiles: Seq[Path] =
    new java.io.File(Purchases.exampleDir).listFiles().toSeq.map(_.toPath)
      .filter(_.getFileName.toString.endsWith(".csv")).sortBy(_.getFileName.toString)

  /** Every line of the committed example CSVs, read with plain JVM I/O, so
    * counts and first rows checked against it do not come from the Spark
    * pipeline under test. */
  def exampleLines: Seq[String] =
    exampleFiles.flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)

  /** A fresh landing directory holding one shuffled CSV per hour of
    * `hours`; returns it with the rows of each file. */
  def landing(hours: Seq[Int]): (Path, Seq[Seq[Row]]) = {
    val dir = graft.SparkSpec.tempDir("landing")
    val batches = hours.map { h =>
      val rs = shuffled(rows(h), h.toLong)
      write(dir, name(h), rs)
      rs
    }
    (dir, batches)
  }

  /** `purchase_date` of every row of a parquet part file, in file order
    * (a small part file is one split, so collect keeps its row order). */
  def datesInFileOrder(spark: SparkSession, file: Path): Seq[LocalDateTime] =
    spark.read.parquet(file.toString).select("purchase_date").collect()
      .map(_.get(0).asInstanceOf[LocalDateTime]).toSeq

  def nonDecreasing(ts: Seq[LocalDateTime]): Boolean =
    ts.zip(ts.drop(1)).forall { case (a, b) => !b.isBefore(a) }

  /** Lowercase-hex SHA-1 by the JDK, independent of Spark's `sha1`. */
  def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
}
