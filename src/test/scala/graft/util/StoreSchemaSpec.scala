package graft.util

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkSpec, Tables}
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** Both artifact stores read their own tables through declared schemas.
  * Every declared schema must equal what Spark infers from the files the
  * store wrote (names, types, nullability, order, partition columns), after
  * a build and after each kind of commit — so a writer that changes a
  * column fails here, not in a reader. A meta row from an older format, or
  * from before the version column existed, must still read as stale. */
class StoreSchemaSpec extends SparkSpec {

  /** Runs `f` over a private copy of one fixture table, so these commits
    * and tampered metas never touch the store other specs build over `sf`;
    * deletes the copy and its stores afterwards. */
  private def withCorpus(table: String)(f: String => Unit): Unit = {
    val dir = tempDir(s"graft_schema_$table")
      .toFile.getAbsolutePath
    Tables.load(spark, sf, table).write.parquet(s"$dir/$table.parquet")
    try f(dir)
    finally Seq(dir, Similarity.annIndexRoot(dir), PageRankLayout.layoutRoot(dir))
      .foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  private def assertDeclared(declared: StructType, path: String, when: String): Unit =
    assert(declared === spark.read.parquet(path).schema, s"$path $when")

  private def annMeta(dir: String) =
    spark.read.parquet(s"${Similarity.annIndexRoot(dir)}/meta").head()
  private def layoutMeta(dir: String) =
    spark.read.parquet(s"${PageRankLayout.layoutRoot(dir)}/meta").head()

  private def annTablesMatch(dir: String, when: String): Unit = {
    val root = Similarity.annIndexRoot(dir)
    val gen = annMeta(dir).getAs[Long]("last_gen")
    assertDeclared(Similarity.annMetaSchema, s"$root/meta", when)
    assertDeclared(Similarity.cellsSchema, s"$root/cells/v=$gen", when)
    assertDeclared(Similarity.codesSchema, s"$root/codes", when)
    assertDeclared(Similarity.centsSchema, s"$root/cents", when)
    assertDeclared(Similarity.booksSchema, s"$root/books", when)
  }

  private def layoutTablesMatch(dir: String, when: String): Unit = {
    val root = PageRankLayout.layoutRoot(dir)
    val gen = PageRankLayout.currentGen(spark, dir)
    assertDeclared(PageRankLayout.layoutMetaSchema, s"$root/meta", when)
    assertDeclared(PageRankLayout.edgesSchema, s"$root/v=$gen/edges", when)
    assertDeclared(PageRankLayout.nodesSchema, s"$root/v=$gen/nodes", when)
    assertDeclared(PageRankLayout.orderkeysSchema, s"$root/v=$gen/orderkeys", when)
  }

  /** `n` stored vectors outside the training stratum (vec_id % 4 == 0). */
  private def vectors(dir: String, residue: Int, n: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val ids = emb.select("vec_id").where(col("vec_id") % 16 === residue)
      .orderBy("vec_id").limit(n).collect().map(_.getLong(0))
    emb.where(col("vec_id").isin(ids.toIndexedSeq: _*))
  }

  /** Every row of the `i`-th smallest stored order. */
  private def order(dir: String, i: Int): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val key = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(i + 1).collect().last.getLong(0)
    li.where(col("l_orderkey") === key)
  }

  test("ANN index: declared schemas equal the inferred ones after build, upsert, delete and compaction") {
    withCorpus("embeddings") { dir =>
      Similarity.buildAnnIndex(spark, dir)
      annTablesMatch(dir, "after build")
      val up = vectors(dir, 13, 4)
      Similarity.upsertAnnIndex(spark, dir, up, up)
      annTablesMatch(dir, "after upsert")
      Similarity.deleteAnnIndex(spark, dir, vectors(dir, 7, 2))
      annTablesMatch(dir, "after delete")
      Similarity.compactAnnIndex(spark, dir)
      assert(annMeta(dir).getAs[Long]("last_gen") === 3L, "compaction did not commit")
      annTablesMatch(dir, "after compaction")
    }
  }

  test("PageRank layout: declared schemas equal the inferred ones after build, upsert and delete") {
    withCorpus("lineitem") { dir =>
      PageRankLayout.buildLayout(spark, dir)
      layoutTablesMatch(dir, "after build")
      val up = order(dir, 0)
      PageRankLayout.upsertLayout(spark, dir, up, up)
      layoutTablesMatch(dir, "after upsert")
      PageRankLayout.deleteLayout(spark, dir, order(dir, 1))
      layoutTablesMatch(dir, "after delete")
    }
  }

  test("ANN index: an older format version or a meta without one is rebuilt; a missing store raises AnalysisException") {
    withCorpus("embeddings") { dir =>
      val root = Similarity.annIndexRoot(dir)
      assertThrows[AnalysisException](
        Similarity.upsertAnnIndex(spark, dir, vectors(dir, 13, 1), vectors(dir, 13, 1)))
      Similarity.ensureAnnIndex(spark, dir)
      val built = annMeta(dir)
      val fmt = built.getAs[Long]("fmt")
      val up = vectors(dir, 13, 4)
      Seq[DataFrame => DataFrame](
        _.withColumn("fmt", lit(fmt - 1L)),
        _.drop("fmt")).foreach { tamper =>
        Similarity.upsertAnnIndex(spark, dir, up, up)
        Similarity.ensureAnnIndex(spark, dir)
        assert(annMeta(dir).getAs[Long]("last_gen") === 1L, "a current index was rebuilt")
        val stale = tamper(spark.createDataFrame(
          java.util.List.of(annMeta(dir)), Similarity.annMetaSchema))
        stale.coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
        Similarity.ensureAnnIndex(spark, dir)
        val m = annMeta(dir)
        assert(m.getAs[Long]("last_gen") === 0L && m.getAs[Long]("fmt") === fmt,
          s"a stale meta (${stale.columns.mkString(", ")}) was not rebuilt")
      }
    }
  }

  test("PageRank layout: an older format version or a meta without one is rebuilt; a missing store raises AnalysisException") {
    withCorpus("lineitem") { dir =>
      val root = PageRankLayout.layoutRoot(dir)
      assertThrows[AnalysisException](
        PageRankLayout.upsertLayout(spark, dir, order(dir, 0), order(dir, 0)))
      PageRankLayout.ensureLayout(spark, dir)
      val ver = layoutMeta(dir).getAs[Long]("layout_ver")
      val up = order(dir, 0)
      Seq[DataFrame => DataFrame](
        _.withColumn("layout_ver", lit(ver - 1L)),
        _.drop("layout_ver")).foreach { tamper =>
        PageRankLayout.upsertLayout(spark, dir, up, up)
        PageRankLayout.ensureLayout(spark, dir)
        assert(PageRankLayout.currentGen(spark, dir) === 1L, "a current layout was rebuilt")
        val stale = tamper(spark.createDataFrame(
          java.util.List.of(layoutMeta(dir)), PageRankLayout.layoutMetaSchema))
        stale.coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
        PageRankLayout.ensureLayout(spark, dir)
        val m = layoutMeta(dir)
        assert(m.getAs[Long]("last_gen") === 0L && m.getAs[Long]("layout_ver") === ver,
          s"a stale meta (${stale.columns.mkString(", ")}) was not rebuilt")
      }
    }
  }
}
