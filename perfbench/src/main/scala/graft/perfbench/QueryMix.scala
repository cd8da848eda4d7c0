package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.{QueryDef, Registry, Tables}

/** `query_mix`: fixed, named lists of read-only registered queries, in two
  * classes. `short` queries are dominated by fixed per-query cost (table
  * loading, eager jobs inside `fn`, Catalyst); `heavy` queries by shuffle
  * and CPU. The seed only shuffles the order within each class. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx._

  private val defs: Map[String, QueryDef] = Registry.defs.map(q => q.name -> q).toMap
  private val rnd = new scala.util.Random(seed)
  private def pick(names: Seq[String]): Seq[QueryDef] = {
    val qs = names.map(n => defs.getOrElse(n, sys.error(s"query $n is not registered")))
    if (smoke) qs.take(2) else rnd.shuffle(qs)
  }
  private val shortQs = pick(QueryMix.short)
  private val heavyQs = pick(QueryMix.heavy)
  /** Runs of each heavy query per pass. One run's CPU time varied by a
    * quarter from run to run; the class time takes the median of three. */
  private val heavyReps = if (smoke) 1 else 3

  private val golden: Map[String, Bench.Digest] = QueryMix.readGolden(QueryMix.goldenPath(benchDir))
  private val seen = scala.collection.mutable.Map.empty[String, Bench.Digest]

  /** The module a query is registered from: the package of its `fn`. */
  private def module(q: QueryDef): String = q.fn.getClass.getName.split('.')(1)

  /** Build then execute one query, record its wall time and compare its
    * digest with the earlier passes' and the golden one. */
  private def runQuery(q: QueryDef): Unit = {
    val mod = module(q)
    report.op(q.name) {
      val cpu0 = Bench.processCpuS
      val b = tracer.span(s"$mod.build:${q.name}")(q.fn(spark, dataDir))
      val e = tracer.span(s"$mod.exec:${q.name}")(Bench.runDigest(b.value, q.name)(Bench.noop))
      report.addLayer(s"$mod.build_s", b.seconds)
      report.addLayer(s"$mod.build_jobs", b.jobs.toDouble)
      report.addLayer(s"$mod.exec_s", e.seconds)
      report.sample(q.name, b.seconds + e.seconds)
      report.sample("cpu:" + q.name, Bench.processCpuS - cpu0)
      val d = e.value
      seen.get(q.name) match {
        case Some(prev) if prev != d => report.fail(s"${q.name}: $d differs from earlier pass $prev")
        case None => seen(q.name) = d
        case _ => ()
      }
      golden.get(q.name) match {
        case Some(g) if g != d => report.fail(s"${q.name}: $d differs from golden $g")
        case None => report.fail(s"${q.name}: no golden digest")
        case _ => ()
      }
    }
  }

  def setupRep(rep: Int): Unit = {
    // the inputs are the committed tables: set-up loads each one
    Tables.names.foreach { n =>
      if (n == "events") Tables.events(spark, dataDir) else Tables.load(spark, dataDir, n)
    }
  }

  def warmup(): Unit = (shortQs ++ heavyQs).foreach(runQuery)

  def pass(): Unit = (shortQs ++ Seq.fill(heavyReps)(heavyQs).flatten).foreach(runQuery)

  /** Traced runs time the table-loading layer on its own: every table once
    * through `graft.Tables`, as a query's `fn` loads it. */
  override def probe(): Unit =
    if (tracer.traced) {
      val sp = tracer.span("tables.load")(setupRep(0))
      report.addLayer("tables.load_s", sp.seconds)
      report.addLayer("tables.load_jobs", sp.jobs.toDouble)
    }

  /** A class's pass time at each query's median over the passes: a burst
    * of load on the machine during one pass moves no query's median. */
  private def classP50(r: Report, qs: Seq[QueryDef]): Double =
    qs.map(q => r.quantile(q.name, 0.5)).sum

  def named(r: Report): Seq[(String, Double, String)] = Seq(
    ("short_pass_s", fastP50(r), "s"),
    ("heavy_pass_s", slowP50(r), "s"),
    ("short_cpu_s", shortQs.map(q => r.quantile("cpu:" + q.name, 0.5)).sum, "s"),
    ("heavy_cpu_s", heavyQs.map(q => r.quantile("cpu:" + q.name, 0.5)).sum, "s"))
  def fastP50(r: Report): Double = classP50(r, shortQs)
  def slowP50(r: Report): Double = classP50(r, heavyQs)
}

object QueryMix {
  /** One per module, each under 0.6 s at sf0.01 on 4 cores. */
  val short: Seq[String] = Seq(
    "c9_tpch_q1", "c17_dedup_exact", "c18_knn_agg", "c19_quality_score",
    "pipeline_curate", "mm_decode_batch", "c20_udaf_weighted_price")

  /** Execution-bound: a CPU-heavy plan (winnowing fingerprints hashed
    * with MD5) of about 1.3 s. One query, so that a run of all three
    * workloads fits the benchmark's time budget. */
  val heavy: Seq[String] = Seq("c19_winnow_fingerprint_md5")

  def goldenPath(benchDir: Path): Path = benchDir.resolve("golden/query_mix.tsv")

  def readGolden(p: Path): Map[String, Bench.Digest] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> Bench.Digest(rows.toLong, h)
      }.toMap
}
