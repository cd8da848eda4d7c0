package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** The generational-store protocol both artifact stores share
  * ([[ArtifactStore]]), checked on each store through its public streaming
  * entries: a CDC micro-batch with an op other than I or D is refused
  * before anything is written, and a streaming entry on a root with no
  * committed meta fails loud instead of guessing. Both stores also run
  * under a scheme-qualified root. */
class StoreProtocolSpec extends SparkSpec {

  /** One store as the protocol sees it: the corpus table it derives from,
    * its root, its build, its two streaming entries, and a one-row batch of
    * its maintenance columns. */
  private final case class Store(name: String, table: String,
      root: String => String, build: String => Unit,
      merge: (String, DataFrame, Long) => Unit,
      mergeCdc: (String, DataFrame, Long) => Unit,
      row: String => DataFrame)

  private val stores = Seq(
    Store("ANN index", "embeddings", Similarity.annIndexRoot,
      Similarity.buildAnnIndex(spark, _),
      Similarity.mergeAnnIndexBatch(spark, _, _, _),
      Similarity.mergeAnnCdcBatch(spark, _, _, _),
      Tables.embeddings(spark, _).select("vec_id", "embedding").orderBy("vec_id").limit(1)),
    Store("PageRank layout", "lineitem", PageRankLayout.layoutRoot,
      PageRankLayout.buildLayout(spark, _),
      PageRankLayout.mergeLayoutBatch(spark, _, _, _),
      PageRankLayout.mergeLayoutCdcBatch(spark, _, _, _),
      Tables.lineitem(spark, _).select("l_orderkey", "l_partkey")
        .orderBy("l_orderkey", "l_partkey").limit(1)))

  /** Runs `f` over a private copy of `table`, so no store another spec
    * builds over `sf` is touched; deletes the copy and its store after. */
  private def withCorpus(st: Store)(f: String => Unit): Unit = {
    val dir = tempDir("graft_protocol").toFile.getAbsolutePath
    Tables.load(spark, sf, st.table).write.parquet(s"$dir/${st.table}.parquet")
    try f(dir)
    finally Seq(dir, st.root(dir))
      .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  /** Every directory and file under `root`, each file with the SHA-1 of
    * its bytes. */
  private def listing(root: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(new java.io.File(root)).map { f =>
      f.getPath -> (if (f.isDirectory) "dir" else
        java.security.MessageDigest.getInstance("SHA-1")
          .digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString)
    }.toMap
  }

  private def lastGen(root: String): Long =
    spark.read.parquet(s"$root/meta").head().getAs[Long]("last_gen")

  for (store <- stores; op <- Seq("null", "X")) {
    test(s"${store.name}: a CDC batch with op $op is refused and leaves the store byte-identical") {
      withCorpus(store) { dir =>
        store.build(dir)
        val root = store.root(dir)
        val gen = lastGen(root)
        val before = listing(root)
        val opCol: Column = if (op == "null") lit(null).cast("string") else lit(op)
        val e = intercept[IllegalArgumentException] {
          store.mergeCdc(dir, store.row(dir).withColumn("op", opCol), gen)
        }
        assert(e.getMessage.contains("unknown op"))
        assert(lastGen(root) === gen, "the refused batch advanced the generation")
        assert(listing(root) === before, "the refused batch changed the store")
      }
    }
  }

  for (store <- stores) {
    test(s"${store.name}: both streaming entries on a root with no meta fail loud as wiped") {
      withCorpus(store) { dir =>
        val root = store.root(dir)
        new java.io.File(root).mkdirs()
        Seq(
          () => store.merge(dir, store.row(dir), 3L),
          () => store.mergeCdc(dir, store.row(dir).withColumn("op", lit("I")), 3L)
        ).foreach { entry =>
          val e = intercept[IllegalStateException](entry())
          assert(e.getMessage.contains("wiped"), e.getMessage)
        }
        assert(new java.io.File(root).list().isEmpty, "a refused entry wrote into the root")
      }
    }
  }

  test("both stores build, append and read under an explicit file: URI root, " +
    "with the same results as under the default root") {
    val dir = tempDir("graft_protocol").toFile.getAbsolutePath
    Seq("lineitem", "embeddings").foreach { t =>
      Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
    }
    /** build → append → read on each store; the read's rows, sorted */
    def run(): (Seq[String], Seq[String]) = {
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
      PageRankLayout.buildLayoutFrom(spark, dir, li.where(pmod(col("l_orderkey"), lit(8)) =!= 0))
      PageRankLayout.appendLayout(spark, dir, li.where(pmod(col("l_orderkey"), lit(8)) === 0))
      val ranks = PageRankLayout.fromLayoutRanks(spark, dir, iters = 3).collect()
      val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      Similarity.buildAnnIndexFrom(spark, dir, emb.where(pmod(col("vec_id"), lit(4)) =!= 3))
      Similarity.appendAnnIndex(spark, dir, emb.where(pmod(col("vec_id"), lit(4)) === 3))
      val knn = Similarity.ivfPqFromIndexRows(spark, dir, nQueries = 5, probes = 2, shortlist = 20)
        .collect()
      (ranks.map(_.toString).sorted.toSeq, knn.map(_.toString).sorted.toSeq)
    }
    val uriRoot = tempDir("graft_uri_root").toFile
    try {
      val atDefault = run()
      val prev = sys.props.get("graft.artifacts.root")
      sys.props("graft.artifacts.root") = s"file://${uriRoot.getAbsolutePath}"
      val atUri =
        try {
          assert(PageRankLayout.layoutRoot(dir).startsWith("file:///"))
          run()
        } finally prev match {
          case Some(p) => sys.props("graft.artifacts.root") = p
          case None => sys.props -= "graft.artifacts.root"
        }
      assert(Seq("graft_pr_layout", "graft_ann_index")
        .forall(d => new java.io.File(uriRoot, d).isDirectory), "a store did not land under the file: root")
      assert(atDefault._1.nonEmpty && atDefault._2.nonEmpty)
      assert(atUri === atDefault, "the stores answer differently under a file: URI root")
    } finally Seq(new java.io.File(dir), uriRoot, new java.io.File(PageRankLayout.layoutRoot(dir)),
      new java.io.File(Similarity.annIndexRoot(dir)))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
