package graft.similarity

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted ANN index (round 17): the build-once/query-many split.
  *
  * The contract under test: `c18_ann_index_build` persists the integer
  * IVF-PQ index (codes partitioned by coarse cell + model tables + meta),
  * and `c18_ann_ivfpq_from_index` answers queries by scanning ONLY the
  * probed cells of the stored code table plus the bounded rerank refetch —
  * never retraining, never re-encoding the corpus, and row-identical to
  * the in-query twin `c18_ann_ivfpq_md5` at the same params. */
class AnnIndexSpec extends SparkSpec {

  private def freshIndex(): String = {
    val root = Similarity.annIndexRoot(sf)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    root
  }

  // recurse through AQE wrappers / query stages to every file scan
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  test("build persists the index and is bit-deterministic across rebuilds") {
    freshIndex()
    val a = Similarity.annIndexBuild.fn(spark, sf).collect().map(_.toString).toSeq
    val b = Similarity.annIndexBuild.fn(spark, sf).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a === b, "rebuild changed the persisted index content")
    // the persisted layout: codes partitioned by generation (build = gen 0)
    // then coarse cell + model tables
    val root = Similarity.annIndexRoot(sf)
    assert(new java.io.File(s"$root/codes").list().exists(_.startsWith("gen=")),
      "codes table is not partitioned by generation")
    assert(new java.io.File(s"$root/codes/gen=0").list().exists(_.startsWith("c_id=")),
      "codes table is not partitioned by c_id within a generation")
    Seq("cents", "books", "meta").foreach { t =>
      assert(new java.io.File(s"$root/$t").exists(), s"missing index table $t")
    }
  }

  test("from-index query is row-identical to the in-query IVF-PQ twin") {
    freshIndex()
    val fromIndex = Similarity.annIvfPqFromIndex.fn(spark, sf)
      .collect().map(_.toString).toSeq
    val inQuery = Similarity.annIvfPqMd5.fn(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromIndex === inQuery,
      "persisted-index path diverged from the in-query derivation")
  }

  test("query path scans only the probed cells of the stored code table") {
    freshIndex()
    Similarity.buildAnnIndex(spark, sf)
    val root = Similarity.annIndexRoot(sf)
    val codes = spark.read.parquet(s"$root/codes")
    val nCells = codes.select("c_id").distinct().count()
    assert(nCells > 2, s"corpus landed in only $nCells cells — pruning untestable")
    val df = Similarity.ivfPqFromIndexRows(spark, sf,
      nQueries = 5, probes = 2, shortlist = 20)
    df.collect()
    val codeScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty, "no scan of the stored code table in the plan")
    codeScans.foreach { scan =>
      assert(scan.partitionFilters.exists(_.toString.contains("c_id")),
        s"code-table scan lacks a c_id partition filter: ${scan.partitionFilters}")
      assert(scan.selectedPartitions.partitionCount < nCells,
        s"scan read ${scan.selectedPartitions.partitionCount} of $nCells cells — no pruning")
    }
  }

  test("query path never scans raw embeddings except queries and the rerank refetch") {
    freshIndex()
    Similarity.buildAnnIndex(spark, sf)
    val df = Similarity.ivfPqFromIndexRows(spark, sf,
      nQueries = 5, probes = 2, shortlist = 20)
    df.collect()
    val embScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("embeddings.parquet")))
    assert(embScans.nonEmpty)
    // every embeddings scan must be query-sized (vec_id pushdown) except
    // EXACTLY ONE: the rerank's raw-vector refetch, which streams the
    // corpus map-side against the broadcast shortlist
    val unfiltered = embScans.filterNot(_.dataFilters.exists(_.toString.contains("vec_id")))
    assert(unfiltered.size <= 1,
      s"${unfiltered.size} corpus-sized embeddings scans — the index is being bypassed")
    // and no training/encode machinery: a corpus-sized posexplode of the
    // embedding column exists only in the build, never in the query plan
    val plan = df.queryExecution.optimizedPlan.toString
    val explodes = "(?i)generate posexplode".r.findAllIn(plan).size
    assert(explodes <= 1, s"query plan re-explodes the corpus ($explodes explodes):\n" +
      plan.take(800))
  }

  test("append ≡ from-scratch rebuild; the old corpus is never rescanned or re-encoded") {
    import graft.Tables
    // expectation: the full-corpus build at the real corpus root
    freshIndex()
    val full = Similarity.annIndexBuild.fn(spark, sf).collect().map(_.toString).toSeq
    // old snapshot: written to a DELETABLE copy, keyed by its own index root
    val tmp = tempDir("graft_ann_append").toFile
    val corpusKey = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.annIndexRoot(corpusKey)))
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val oldPath = s"$corpusKey/old_embeddings.parquet"
    emb.where(pmod(col("vec_id"), lit(4)) =!= 3).write.parquet(oldPath)
    Similarity.buildAnnIndexFrom(spark, corpusKey, spark.read.parquet(oldPath))
    // batch held IN MEMORY, then the old snapshot's file is DELETED: any
    // append-path read of the old corpus now fails loudly instead of
    // silently rescanning/re-encoding it
    val batchRows = emb.where(pmod(col("vec_id"), lit(4)) === 3).collect().toSeq
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(batchRows, 2), emb.schema)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(oldPath))
    Similarity.appendAnnIndex(spark, corpusKey, batch)
    val appended = spark.read.parquet(s"${Similarity.annIndexRoot(corpusKey)}/codes")
      .select(col("vec_id"), col("c_id"), col("s"), col("code"))
      .orderBy("vec_id", "s").collect().map(_.toString).toSeq
    assert(appended === full,
      "append-maintained index diverged from the from-scratch rebuild")
    // and the folded fingerprint equals the full corpus' — queries see old∪new
    val meta = spark.read.parquet(s"${Similarity.annIndexRoot(corpusKey)}/meta").head()
    val liveFp = graft.util.CorpusFingerprint.of(emb, col("vec_id"), col("embedding"))
    assert(meta.getAs[Long]("corpus_count") === liveFp.count)
    assert(meta.getAs[Long]("fp_xor") === liveFp.xorFp)
    assert(new java.math.BigDecimal(meta.getAs[String]("fp_sum"))
      .compareTo(liveFp.sumFp) === 0)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("round 22: compaction folds a multi-generation live set into one " +
    "generation — same rows, same fingerprint, manifest bounded by the " +
    "cell count; an already-compact index is a no-op") {
    import graft.Tables
    val tmp = tempDir("graft_ann_compact").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.annIndexRoot(key)))
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    emb.write.parquet(s"$key/embeddings.parquet")
    val src = spark.read.parquet(s"$key/embeddings.parquet")
    Similarity.buildAnnIndexFrom(spark, key,
      src.where(pmod(col("vec_id"), lit(4)) =!= 3))
    Similarity.appendAnnIndex(spark, key,
      src.where(pmod(col("vec_id"), lit(4)) === 3))
    val root = Similarity.annIndexRoot(key)
    def meta = spark.read.parquet(s"$root/meta").head()
    def manifest(g: Long) = spark.read.parquet(s"$root/cells/v=$g")
      .collect().map(r => (r.getAs[Long]("gen"), r.getAs[Int]("c_id"))).toSeq
    def stored = {
      val m = meta
      val live = manifest(m.getAs[Long]("last_gen"))
      spark.read.option("basePath", s"$root/codes")
        .parquet(live.map { case (g, c) => s"$root/codes/gen=$g/c_id=$c" }: _*)
        .select("vec_id", "c_id", "s", "code")
        .orderBy("vec_id", "s").collect().map(_.toString).toSeq
    }
    val before = stored
    val m0 = meta
    val live0 = manifest(m0.getAs[Long]("last_gen"))
    assert(live0.map(_._1).distinct.size === 2,
      "precondition: build+append should leave two live generations")
    Similarity.compactAnnIndex(spark, key)
    val m1 = meta
    val g1 = m1.getAs[Long]("last_gen")
    assert(g1 === m0.getAs[Long]("last_gen") + 1, "compaction must commit a generation")
    val live1 = manifest(g1)
    assert(live1.map(_._1).distinct === Seq(g1),
      "compacted manifest still references old generations")
    assert(live1.size === live0.map(_._2).distinct.size,
      "compacted manifest must hold exactly one row per live cell")
    assert(stored === before, "compaction changed the stored rows")
    assert(m1.getAs[Long]("fp_xor") === m0.getAs[Long]("fp_xor") &&
      m1.getAs[Long]("corpus_count") === m0.getAs[Long]("corpus_count") &&
      m1.getAs[String]("fp_sum") === m0.getAs[String]("fp_sum"),
      "compaction is a fingerprint-identity commit")
    // an already-compact index: complete no-op (no generation bump)
    Similarity.compactAnnIndex(spark, key)
    assert(meta.getAs[Long]("last_gen") === g1, "no-op compaction bumped a generation")
    // one more commit: its GC retires the generations compaction superseded,
    // and a retired generation's directory must go with its cells — an
    // empty `gen=G` directory would be listed by every later commit's GC
    val up = src.where(pmod(col("vec_id"), lit(4)) === 3).orderBy("vec_id").limit(2)
    Similarity.upsertAnnIndex(spark, key, up, up)
    val genDirs = new java.io.File(s"$root/codes").listFiles()
      .filter(_.getName.startsWith("gen=")).toSeq
    genDirs.foreach { g =>
      assert(g.list().exists(_.startsWith("c_id=")),
        s"${g.getName} holds no c_id partition after GC")
    }
    assert(genDirs.map(_.getName).toSet === Set(s"gen=$g1", s"gen=${g1 + 1}"),
      "GC must keep exactly the committed generation and its predecessor")
    // the from-index query path answers identically over the compacted store
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("append refuses a batch that would have entered the training sample") {
    freshIndex()
    Similarity.buildAnnIndex(spark, sf)
    import spark.implicits._
    // vec_id ≡ 0 mod 4 is the training stratum; the sf0.001 sample is
    // unsaturated (125 < 4096), so ANY stratum member would retrain —
    // append-without-retrain must refuse instead of silently diverging
    val offending = Seq((100000L, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      Similarity.appendAnnIndex(spark, sf, offending)
    }
    assert(e.getMessage.contains("training sample"))
    // a stratum-disjoint batch with the same geometry is accepted
    Similarity.appendAnnIndex(spark, sf,
      Seq((100001L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding"))
  }

  test("a same-count content change triggers a rebuild; an unchanged corpus does not") {
    import graft.Tables
    val dir = tempDir("graft_ann_mut").toFile.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.annIndexRoot(dir)))
    val src = Tables.embeddings(spark, sf)
    src.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Similarity.buildAnnIndex(spark, dir)
    val root = Similarity.annIndexRoot(dir)
    def metaXor: Long = spark.read.parquet(s"$root/meta").head().getAs[Long]("fp_xor")
    def codesListing: Set[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/codes")).map(f => f.getPath -> f.lastModified).toSet
    }
    val xorBefore = metaXor
    val before = codesListing
    // unchanged corpus: ensure is a no-op on the stored artifact
    Similarity.ensureAnnIndex(spark, dir)
    assert(codesListing === before, "fresh index was rebuilt needlessly")
    // same-count mutation: negate one row's embedding, rewrite the corpus
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").collect().toSeq
    val mutId = rows.head.getAs[Long]("vec_id")
    val mutated = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), src.schema)
      .withColumn("embedding",
        when(col("vec_id") === mutId,
          transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      .collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(mutated, 2), src.schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(spark.read.parquet(s"$dir/embeddings.parquet").count() === rows.size.toLong,
      "mutation was supposed to preserve the row count")
    Similarity.ensureAnnIndex(spark, dir)
    assert(metaXor !== xorBefore,
      "same-count content change did not trigger a rebuild — stale index served")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a stale index (corpus fingerprint mismatch) triggers a rebuild") {
    freshIndex()
    val root = Similarity.buildAnnIndex(spark, sf)
    import spark.implicits._
    // tamper the fingerprint: claim the index was built over a different
    // corpus row count — ensure must refuse the stored artifact and rebuild
    Seq((1L, 64)).toDF("corpus_count", "dims")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    Similarity.ensureAnnIndex(spark, sf)
    val count = spark.read.parquet(s"$root/meta").head().getLong(0)
    assert(count > 1L, "stale index was trusted — no rebuild happened")
    // and the rebuilt index still answers correctly
    val fromIndex = Similarity.annIvfPqFromIndex.fn(spark, sf)
      .collect().map(_.toString).toSeq
    val inQuery = Similarity.annIvfPqMd5.fn(spark, sf)
      .collect().map(_.toString).toSeq
    assert(fromIndex === inQuery)
  }
}
