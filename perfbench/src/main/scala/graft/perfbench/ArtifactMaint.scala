package graft.perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** `artifact_maint`: self-cleaning small commits on both stored artifacts,
  * each followed by a read. A pass is one commit leg and one read per
  * store:
  *
  *  - ANN index: upsert 4 stored vectors to their own content, then
  *    `ivfPqFromIndexRows`.
  *  - PageRank layout: upsert one stored order to its own content, then
  *    `fromLayoutRanks`.
  *
  * An upsert to the same content runs both the delete and the add half of
  * a commit and leaves each stored table as the build left it, which the
  * benchmark checks by digest after every pass. Each commit retires the
  * previous generation's files, so the store does not grow from pass to
  * pass. */
final class ArtifactMaint(ctx: Ctx) extends Workload {
  import ctx._

  private var annHash: Bench.Digest = _
  private var layoutHash: Bench.Digest = _
  private var annReadHash: Option[Bench.Digest] = None
  private var layoutReadHash: Option[Bench.Digest] = None
  private var upVecs, upOrder: DataFrame = _

  private def annRoot: String = Similarity.annIndexRoot(dataDir)
  private def layoutRoot: String = PageRankLayout.layoutRoot(dataDir)

  /** The stored code table, resolved through the committed generation's
    * cell manifest as a reader resolves it. */
  private def storedCodes: DataFrame = {
    val g = spark.read.parquet(s"$annRoot/meta").head().getAs[Long]("last_gen")
    val live = spark.read.parquet(s"$annRoot/cells/v=$g").collect()
      .map(r => s"$annRoot/codes/gen=${r.getAs[Long]("gen")}/c_id=${r.getAs[Int]("c_id")}")
    spark.read.option("basePath", s"$annRoot/codes").parquet(live.toSeq: _*)
      .select("vec_id", "c_id", "s", "code")
  }
  private def storedEdges: DataFrame =
    PageRankLayout.currentEdges(spark, dataDir).select("src", "dst", "wn")

  def setupRep(rep: Int): Unit = {
    // a fresh artifact root per repetition: nothing left by an earlier
    // build or process can let `ensure*` skip its work
    System.setProperty("graft.artifacts.root", workDir.resolve(s"artifacts-$rep").toString)
    Similarity.ensureAnnIndex(spark, dataDir)
    PageRankLayout.ensureLayout(spark, dataDir)
  }

  /** The seed picks 4 stored vectors and one stored order to upsert. */
  private def batches(): Unit = {
    val rnd = new scala.util.Random(seed)
    def window[T](xs: IndexedSeq[T], n: Int): IndexedSeq[T] = {
      val i = rnd.nextInt(xs.size - n + 1)
      xs.slice(i, i + n)
    }
    val emb = Tables.embeddings(spark, dataDir).select(col("vec_id"), col("embedding"))
    val li = Tables.lineitem(spark, dataDir).select("l_orderkey", "l_partkey")
    // stored vectors outside the training stratum (vec_id % 4 == 0)
    val vecIds = emb.select("vec_id").where(col("vec_id") % 16 === 13).orderBy("vec_id")
      .collect().map(_.getLong(0)).toIndexedSeq
    upVecs = emb.where(col("vec_id").isin(window(vecIds, 4): _*))
    val keys = li.select("l_orderkey").where(col("l_orderkey") % 8 === 1).distinct()
      .orderBy("l_orderkey").collect().map(_.getLong(0)).toIndexedSeq
    upOrder = li.where(col("l_orderkey") === window(keys, 1).head)
  }

  private def digest(df: DataFrame, name: String): Bench.Digest =
    Bench.runDigest(df, name)(_.write.format("noop").mode("overwrite").save())

  /** Warm-up: one untimed commit on each store, after the build's digests
    * are taken. The first commit after the build is slower than the later
    * ones; the first read is not, so the reads are not warmed. */
  def warmup(): Unit = {
    batches()
    annHash = digest(storedCodes, "ann_stored")
    layoutHash = digest(storedEdges, "layout_stored")
    commit("ann", annRoot)(Similarity.upsertAnnIndex(spark, dataDir, upVecs, upVecs))
    commit("layout", layoutRoot)(PageRankLayout.upsertLayout(spark, dataDir, upOrder, upOrder))
  }

  private def files(root: String): Set[String] = Bench.listFiles(Paths.get(root))

  private def generation(fs: Set[String]): Double =
    fs.iterator.flatMap(_.split('/')).collect {
      case s if s.startsWith("v=") || s.startsWith("gen=") => s.dropWhile(_ != '=').drop(1).toLong
    }.maxOption.getOrElse(0L).toDouble

  /** One commit leg, with the store's file churn. */
  private def commit(art: String, root: String)(f: => Unit): Unit =
    report.op(s"$art upsert") {
      val before = if (tracer.traced) files(root) else Set.empty[String]
      val sp = tracer.span(s"$art.commit:upsert")(f)
      report.sample(s"${art}_commit_s", sp.seconds)
      report.addLayer(s"$art.commit_jobs", sp.jobs.toDouble)
      report.addLayer(s"$art.commits", 1)
      if (tracer.traced) {
        val after = files(root)
        report.addLayer(s"$art.files_written", (after -- before).size.toDouble)
        report.addLayer(s"$art.files_deleted", (before -- after).size.toDouble)
      }
    }

  /** One read; its digest must not change from pass to pass. */
  private def read(art: String, prev: Option[Bench.Digest])(f: => DataFrame): Option[Bench.Digest] =
    report.op(s"$art read") {
      val sp = tracer.span(s"$art.read")(digest(f, s"${art}_read"))
      report.sample(s"${art}_read_s", sp.seconds)
      report.addLayer(s"$art.read_jobs", sp.jobs.toDouble)
      report.addLayer(s"$art.reads", 1)
      if (prev.exists(_ != sp.value)) report.fail(s"$art read ${sp.value} differs from an earlier pass ${prev.get}")
      sp.value
    }.orElse(prev)

  def pass(): Unit = {
    commit("ann", annRoot)(Similarity.upsertAnnIndex(spark, dataDir, upVecs, upVecs))
    annReadHash = read("ann", annReadHash)(
      Similarity.ivfPqFromIndexRows(spark, dataDir, nQueries = 5, probes = 2, shortlist = 20))
    commit("layout", layoutRoot)(PageRankLayout.upsertLayout(spark, dataDir, upOrder, upOrder))
    layoutReadHash = read("layout", layoutReadHash)(
      PageRankLayout.fromLayoutRanks(spark, dataDir, iters = 3).orderBy("id"))
  }

  /** Stored tables must be back to their build state after every pass;
    * in a traced run also time `ensure*` on its own and read the store's
    * size. Runs outside the pass timing. */
  override def probe(): Unit = {
    Seq(("ANN", digest(storedCodes, "ann_stored"), annHash),
        ("layout", digest(storedEdges, "layout_stored"), layoutHash)).foreach { case (art, now, built) =>
      report.attempted += 1
      if (now != built) report.fail(s"$art stored table $now differs from its build $built")
    }
    if (tracer.traced) {
      report.addLayer("ann.ensure_s", tracer.span("ann.ensure")(Similarity.ensureAnnIndex(spark, dataDir)).seconds)
      report.addLayer("layout.ensure_s", tracer.span("layout.ensure")(PageRankLayout.ensureLayout(spark, dataDir)).seconds)
      report.addLayer("ann.ensures", 1)
      report.addLayer("layout.ensures", 1)
    }
  }

  override def finish(): Unit =
    if (tracer.traced) Seq("ann" -> annRoot, "layout" -> layoutRoot).foreach { case (art, root) =>
      val fs = files(root)
      report.layer(s"$art.live_files") = fs.size.toDouble
      report.layer(s"$art.generation") = generation(fs)
    }

  def named(r: Report): Seq[(String, Double, String)] = Seq(
    ("ann_commit_p50_s", r.quantile("ann_commit_s", 0.5), "s"),
    ("layout_commit_p50_s", r.quantile("layout_commit_s", 0.5), "s"),
    ("ann_read_p50_s", r.quantile("ann_read_s", 0.5), "s"),
    ("layout_read_p50_s", r.quantile("layout_read_s", 0.5), "s"))
  def fastP50(r: Report): Double = r.quantile("ann_commit_s", 0.5)
  def slowP50(r: Report): Double = r.quantile("layout_commit_s", 0.5)
}
