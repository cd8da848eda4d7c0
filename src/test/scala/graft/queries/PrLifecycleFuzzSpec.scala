package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Lifecycle fuzz for the persisted PageRank layout (round-18 verdict
  * directive 2) — the graph twin of
  * [[graft.similarity.AnnLifecycleFuzzSpec]]: the staleness contract
  * became as load-bearing as the ANN index's when incremental maintenance
  * landed, so drive it with seeded random corpus lifecycles and assert
  * the registered invariant after EVERY draw:
  *
  *   `c14_pagerank_from_layout` rows ≡ `c14_pagerank` rows on the LIVE
  *   corpus (the registered pair sharing one oracle).
  *
  * Draw ops over a mutable copy of the sf0.001 lineitem corpus:
  *  - MUTATE: swap one random row's l_partkey (count-preserving — the
  *    change a count-only fingerprint cannot see); the next ensure must
  *    detect content drift and rebuild.
  *  - APPEND: add one whole NEW order (2–4 rows, fresh l_orderkey) to the
  *    corpus AND fold it into the stored layout via
  *    [[PageRankLayout.appendLayout]] — ensure must then TRUST the folded
  *    fingerprint (no rebuild) and still answer identically.
  *  - DELETE: remove one random COMPLETE order from the corpus AND
  *    subtract it from the layout via [[PageRankLayout.deleteLayout]] —
  *    ensure must trust the un-folded fingerprint, no rebuild.
  *  - TOUCH: rewrite the corpus with identical content (new files, same
  *    rows) — ensure must neither rebuild (pinned on the current
  *    generation's edge-file (path, mtime) listing) nor mis-trust.
  *  - UPSERT (round 20): remap one random COMPLETE order's partkeys in
  *    the corpus AND correct it in the layout via ONE
  *    [[PageRankLayout.upsertLayout]] commit — one generation, one
  *    fingerprint transition, ensure must trust the corrected layout.
  *  - REPLAY (round 20): redeliver the LAST COMMITTED maintenance batch
  *    (real rows, CDC shape) through [[PageRankLayout.mergeLayoutCdcBatch]]
  *    at its original batchId — the store must be byte-for-byte
  *    untouched, and a far-ahead batchId must fail fast.
  *
  * Draw count/seed come from SPARK_GRAFT_PR_FUZZ_DRAWS /
  * SPARK_GRAFT_PR_FUZZ_SEED (defaults 4 / 42 for the regular suite; the
  * committed sweep record in FUZZCAPS.md runs 25 draws). */
class PrLifecycleFuzzSpec extends SparkSpec {

  private val draws = sys.env.get("SPARK_GRAFT_PR_FUZZ_DRAWS").map(_.toInt).getOrElse(4)
  private val seed = sys.env.get("SPARK_GRAFT_PR_FUZZ_SEED").map(_.toLong).getOrElse(42L)

  test(s"persisted-layout lifecycle stays parity-green over $draws random " +
    s"mutate/append/delete/touch/upsert/replay draws (seed $seed)") {
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("graft_pr_fuzz")
      .toFile.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(dir)))
    val src = graft.Tables.lineitem(spark, sf)
    val schema = src.schema
    src.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    def corpus = spark.read.parquet(s"$dir/lineitem.parquet")
    def rewrite(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def toBatch(rows: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .select("l_orderkey", "l_partkey")

    val okIdx = schema.fieldIndex("l_orderkey")
    val pkIdx = schema.fieldIndex("l_partkey")
    var nextOrder = corpus.agg(max("l_orderkey")).head().getLong(0) + 1

    // the last committed maintenance batch in CDC shape — what a
    // redelivered micro-batch would carry (None until a maintenance op)
    var lastCdc: Option[org.apache.spark.sql.DataFrame] = None
    def cdcOf(rows: Seq[org.apache.spark.sql.Row], opCode: String) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .select(lit(opCode).as("op"), col("l_orderkey"), col("l_partkey"))

    for (i <- 1 to draws) {
      val op = rnd.nextInt(6) match {
        case 0 => // MUTATE: count-preserving content change
          val rows = corpus.collect().toSeq
          val at = rnd.nextInt(rows.size)
          val vals = rows(at).toSeq.toArray
          vals(pkIdx) = vals(pkIdx).asInstanceOf[Long] + 1000000L
          rewrite(rows.updated(at, org.apache.spark.sql.Row(vals: _*)))
          "mutate"
        case 1 => // APPEND: one whole NEW order; layout folds, never rebuilds
          PageRankLayout.ensureLayout(spark, dir) // layout must exist to fold into
          val rows = corpus.collect().toSeq
          val template = rows(rnd.nextInt(rows.size))
          val order = nextOrder; nextOrder += 1
          val newRows = (0 until 2 + rnd.nextInt(3)).map { _ =>
            val donor = rows(rnd.nextInt(rows.size))
            val vals = template.toSeq.toArray
            vals(okIdx) = order
            vals(pkIdx) = donor.getLong(pkIdx)
            org.apache.spark.sql.Row(vals: _*)
          }
          rewrite(rows ++ newRows)
          PageRankLayout.appendLayout(spark, dir, toBatch(newRows))
          lastCdc = Some(cdcOf(newRows, "I"))
          "append"
        case 2 => // DELETE: one whole EXISTING order; layout un-folds
          PageRankLayout.ensureLayout(spark, dir)
          val rows = corpus.collect().toSeq
          val order = {
            val keys = rows.map(_.getLong(okIdx)).distinct
            keys(rnd.nextInt(keys.size))
          }
          val victims = rows.filter(_.getLong(okIdx) == order)
          rewrite(rows.filterNot(_.getLong(okIdx) == order))
          PageRankLayout.deleteLayout(spark, dir, toBatch(victims))
          lastCdc = Some(cdcOf(victims, "D"))
          "delete"
        case 3 => // TOUCH: same content, new files
          PageRankLayout.ensureLayout(spark, dir) // settle pre-snapshot
          rewrite(corpus.collect().toSeq)
          "touch"
        case 4 => // UPSERT: correct one order in place — ONE commit (round 20)
          PageRankLayout.ensureLayout(spark, dir)
          val rows = corpus.collect().toSeq
          val order = {
            val keys = rows.map(_.getLong(okIdx)).distinct
            keys(rnd.nextInt(keys.size))
          }
          val victims = rows.filter(_.getLong(okIdx) == order)
          val corrected = victims.map { r =>
            val donor = rows(rnd.nextInt(rows.size))
            val vals = r.toSeq.toArray
            vals(pkIdx) = donor.getLong(pkIdx)
            org.apache.spark.sql.Row(vals: _*)
          }
          rewrite(rows.filterNot(_.getLong(okIdx) == order) ++ corrected)
          PageRankLayout.upsertLayout(spark, dir,
            toBatch(victims), toBatch(corrected))
          lastCdc = Some(cdcOf(victims, "D").unionByName(cdcOf(corrected, "I")))
          "upsert"
        case 5 => // REPLAY: redelivered committed batch = byte-for-byte no-op
          PageRankLayout.ensureLayout(spark, dir)
          val root = PageRankLayout.layoutRoot(dir)
          val last = spark.read.parquet(s"$root/meta").head().getAs[Long]("last_gen")
          def storeListing: Set[(String, Long, Long)] = {
            def walk(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
              else Seq(f)
            walk(new java.io.File(root))
              .map(f => (f.getAbsolutePath, f.length, f.lastModified)).toSet
          }
          val before = storeListing
          val redelivered = lastCdc.getOrElse(cdcOf(Seq.empty, "I"))
          PageRankLayout.mergeLayoutCdcBatch(spark, dir, redelivered,
            batchId = last - 1)
          assert(storeListing === before,
            s"draw $i (replay): redelivered batch touched the store")
          val e = intercept[IllegalStateException] {
            PageRankLayout.mergeLayoutCdcBatch(spark, dir, redelivered,
              batchId = last + 5)
          }
          assert(e.getMessage.contains("refusing to fork"))
          "replay"
      }
      // second contract half beyond answer parity for the trusting ops:
      // no needless rebuild, pinned on the current generation's edge files
      def edgeListing: Set[(String, Long)] = {
        val g = PageRankLayout.currentGen(spark, dir)
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"${PageRankLayout.layoutRoot(dir)}/v=$g/edges"))
          .map(f => f.getAbsolutePath -> f.lastModified).toSet
      }
      val listingBefore =
        if (op != "mutate") Some(edgeListing) else None
      val fromLayout = PageRankLayout.pageRankFromLayout.fn(spark, dir)
        .collect().map(_.toString).toSeq
      listingBefore.foreach { before =>
        assert(edgeListing === before,
          s"draw $i ($op): ensure rebuilt a layout it should have trusted")
      }
      val inQuery = Relational.c14PageRank.fn(spark, dir)
        .collect().map(_.toString).toSeq
      assert(fromLayout.nonEmpty && fromLayout === inQuery,
        s"draw $i ($op): persisted-layout ranks diverged from the in-query derivation")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
