package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Lifecycle fuzz for the persisted ANN index (round-18 verdict
  * directive 7): the staleness contract is load-bearing for correctness —
  * a missed rebuild serves a stale index, a missed fold serves a
  * spuriously-stale one — so drive it with seeded random corpus
  * lifecycles and assert the one invariant that matters after EVERY draw:
  *
  *   from-index rows ≡ in-query IVF-PQ rows on the LIVE corpus
  *   (`annIvfPqFromIndex.fn` vs `annIvfPqMd5.fn`, the registered pair).
  *
  * Draw ops over a mutable copy of the sf0.001 embeddings corpus:
  *  - MUTATE: negate one random row's embedding (count-preserving — the
  *    exact change the round-17 count-only fingerprint could not see);
  *    the next ensure must detect content drift and rebuild.
  *  - APPEND: add 1–8 new rows (ids outside the training stratum,
  *    vec_id % 4 ≠ 0, per the append guard's no-retrain contract) to the
  *    corpus AND fold them into the stored index via [[Similarity
  *    .appendAnnIndex]] — the maintenance path: ensure must then TRUST
  *    the folded fingerprint (no rebuild) and still answer identically,
  *    because the batch stratum can never perturb the bounded sample.
  *  - TOUCH: rewrite the corpus with identical content (new files, same
  *    rows) — ensure must neither rebuild (pinned on the code files'
  *    (path, mtime) listing — answer parity alone would also pass under
  *    a spurious rebuild) nor mis-trust.
  *  - DELETE (round 19): remove 1–3 random non-training-stratum rows from
  *    the corpus AND from the stored index via [[Similarity
  *    .deleteAnnIndex]] — the fingerprint un-fold must leave ensure
  *    TRUSTING the reduced index (no rebuild) and answering identically
  *    to the in-query derivation over the reduced corpus.
  *  - UPSERT (round 20): negate 1–2 random non-training-stratum rows'
  *    embeddings in the corpus AND correct them in the index via ONE
  *    [[Similarity.upsertAnnIndex]] commit — one generation, one
  *    fingerprint transition, ensure must trust the corrected index.
  *  - REPLAY (round 20): redeliver the LAST COMMITTED maintenance batch
  *    (real rows, CDC shape) through [[Similarity.mergeAnnCdcBatch]] at
  *    its original batchId — the store must be byte-for-byte untouched
  *    (files, manifests, meta), and a batchId far ahead of the watermark
  *    must fail fast as checkpoint divergence.
  *
  * Draw count/seed come from SPARK_GRAFT_ANN_FUZZ_DRAWS /
  * SPARK_GRAFT_ANN_FUZZ_SEED (defaults 4 / 42 for the regular suite; the
  * committed sweep record in FUZZCAPS.md runs 25 draws). */
class AnnLifecycleFuzzSpec extends SparkSpec {

  private val draws = sys.env.get("SPARK_GRAFT_ANN_FUZZ_DRAWS").map(_.toInt).getOrElse(4)
  private val seed = sys.env.get("SPARK_GRAFT_ANN_FUZZ_SEED").map(_.toLong).getOrElse(42L)

  test(s"persisted-index lifecycle stays parity-green over $draws random " +
    s"mutate/append/touch/delete/upsert/replay draws (seed $seed)") {
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("graft_ann_fuzz")
      .toFile.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(Similarity.annIndexRoot(dir)))
    val src = graft.Tables.embeddings(spark, sf)
    val schema = src.schema
    src.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    def corpus = spark.read.parquet(s"$dir/embeddings.parquet")
    def rewrite(rows: Seq[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    var nextId = corpus.agg(max("vec_id")).head().getLong(0) + 1
    val dims = src.head().getAs[scala.collection.Seq[Float]]("embedding").length

    // the last committed maintenance batch in CDC shape — what a
    // redelivered micro-batch would carry (None until a maintenance op)
    var lastCdc: Option[org.apache.spark.sql.DataFrame] = None
    def cdcOf(rows: Seq[org.apache.spark.sql.Row], opCode: String) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .select(lit(opCode).as("op"), col("vec_id"), col("embedding"))

    for (i <- 1 to draws) {
      val op = rnd.nextInt(7) match {
        case 0 => // MUTATE: count-preserving content change
          val rows = corpus.collect().toSeq
          val at = rnd.nextInt(rows.size)
          val r = rows(at)
          val mut = org.apache.spark.sql.Row(
            r.getLong(0),
            r.getAs[scala.collection.Seq[Float]](1).map(x => -x),
            r.getInt(2))
          rewrite(rows.updated(at, mut))
          "mutate"
        case 1 => // APPEND: corpus grows; index folds, never rebuilds
          Similarity.ensureAnnIndex(spark, dir) // index must exist to fold into
          val k = 1 + rnd.nextInt(8)
          val newRows = (1 to k).map { _ =>
            while (nextId % 4 == 0) nextId += 1 // stay outside the training stratum
            val id = nextId; nextId += 1
            org.apache.spark.sql.Row(id,
              scala.collection.Seq.fill(dims)((rnd.nextFloat() - 0.5f) * 1.2f),
              rnd.nextInt(10))
          }
          rewrite(corpus.collect().toSeq ++ newRows)
          Similarity.appendAnnIndex(spark, dir,
            spark.createDataFrame(
              spark.sparkContext.parallelize(newRows, 1), schema)
              .select(col("vec_id"), col("embedding")))
          lastCdc = Some(cdcOf(newRows, "I"))
          "append"
        case 2 => // TOUCH: same content, new files
          Similarity.ensureAnnIndex(spark, dir) // settle the index pre-snapshot
          rewrite(corpus.collect().toSeq)
          "touch"
        case 3 => // DELETE: corpus shrinks; index un-folds, never rebuilds
          Similarity.ensureAnnIndex(spark, dir) // index must exist to delete from
          val rows = corpus.collect().toSeq
          // victims outside the training stratum AND outside the fixed
          // query-vector set (dropping a query id would change which
          // queries both paths answer — legal but a weaker comparison)
          val victims = new scala.util.Random(rnd.nextLong())
            .shuffle(rows.filter(r => r.getLong(0) % 4 != 0 && r.getLong(0) >= 5))
            .take(1 + rnd.nextInt(3))
          rewrite(rows.diff(victims))
          Similarity.deleteAnnIndex(spark, dir,
            spark.createDataFrame(
              spark.sparkContext.parallelize(victims, 1), schema)
              .select(col("vec_id"), col("embedding")))
          lastCdc = Some(cdcOf(victims, "D"))
          "delete"
        case 4 => // UPSERT: correct rows in place — ONE commit (round 20)
          Similarity.ensureAnnIndex(spark, dir)
          val rows = corpus.collect().toSeq
          val victims = new scala.util.Random(rnd.nextLong())
            .shuffle(rows.filter(r => r.getLong(0) % 4 != 0 && r.getLong(0) >= 5))
            .take(1 + rnd.nextInt(2))
          val corrected = victims.map { r =>
            org.apache.spark.sql.Row(r.getLong(0),
              r.getAs[scala.collection.Seq[Float]](1).map(x => -x),
              r.getInt(2))
          }
          rewrite(rows.diff(victims) ++ corrected)
          Similarity.upsertAnnIndex(spark, dir,
            spark.createDataFrame(
              spark.sparkContext.parallelize(victims, 1), schema)
              .select(col("vec_id"), col("embedding")),
            spark.createDataFrame(
              spark.sparkContext.parallelize(corrected, 1), schema)
              .select(col("vec_id"), col("embedding")))
          lastCdc = Some(cdcOf(victims, "D").unionByName(cdcOf(corrected, "I")))
          "upsert"
        case 5 => // REPLAY: redelivered committed batch = byte-for-byte no-op
          Similarity.ensureAnnIndex(spark, dir)
          val root = Similarity.annIndexRoot(dir)
          val last = spark.read.parquet(s"$root/meta").head().getAs[Long]("last_gen")
          def storeListing: Set[(String, Long, Long)] = {
            def walk(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
              else Seq(f)
            walk(new java.io.File(root))
              .map(f => (f.getAbsolutePath, f.length, f.lastModified)).toSet
          }
          val before = storeListing
          // the redelivered content is the LAST batch's real rows when one
          // exists (a rebuild since then resets the clock — the gen gate
          // must still short-circuit on the watermark alone)
          val redelivered = lastCdc.getOrElse(cdcOf(Seq.empty, "I"))
          Similarity.mergeAnnCdcBatch(spark, dir, redelivered, batchId = last - 1)
          assert(storeListing === before,
            s"draw $i (replay): redelivered batch touched the store")
          // far-ahead batchId = checkpoint divergence: fail fast
          val e = intercept[IllegalStateException] {
            Similarity.mergeAnnCdcBatch(spark, dir, redelivered, batchId = last + 5)
          }
          assert(e.getMessage.contains("refusing to fork"))
          "replay"
        case 6 => // COMPACT (round 22): fingerprint-identity rewrite — the
          // manifest must come out bounded by the cell count, one
          // generation, fingerprint untouched, and parity must hold
          Similarity.ensureAnnIndex(spark, dir)
          val root = Similarity.annIndexRoot(dir)
          val fpBefore = spark.read.parquet(s"$root/meta").head()
            .getAs[Long]("fp_xor")
          Similarity.compactAnnIndex(spark, dir)
          val meta = spark.read.parquet(s"$root/meta").head()
          assert(meta.getAs[Long]("fp_xor") === fpBefore,
            s"draw $i (compact): compaction changed the fingerprint")
          val live = spark.read
            .parquet(s"$root/cells/v=${meta.getAs[Long]("last_gen")}")
            .collect().map(r => (r.getAs[Long]("gen"), r.getAs[Int]("c_id")))
          assert(live.length <= 16,
            s"draw $i (compact): manifest holds ${live.length} rows — not " +
              "bounded by the cell count")
          assert(live.map(_._1).distinct.length <= 1,
            s"draw $i (compact): live set still spans generations")
          "compact"
      }
      // TOUCH and DELETE have a second contract half beyond answer parity:
      // no needless rebuild — a spurious rebuild also answers correctly,
      // so pin it via the stored code files' (path, mtime) listing staying
      // byte-identical across the ensure inside the query (ADVICE r18)
      def codesListing: Set[(String, Long)] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"${Similarity.annIndexRoot(dir)}/codes"))
          .map(f => f.getAbsolutePath -> f.lastModified).toSet
      }
      val listingBefore =
        if (op == "touch" || op == "delete" || op == "upsert" || op == "replay")
          Some(codesListing)
        else None
      val fromIndex = Similarity.annIvfPqFromIndex.fn(spark, dir)
        .collect().map(_.toString).toSeq
      listingBefore.foreach { before =>
        assert(codesListing === before,
          s"draw $i ($op): ensure rebuilt an index it should have trusted")
      }
      val inQuery = Similarity.annIvfPqMd5.fn(spark, dir)
        .collect().map(_.toString).toSeq
      assert(fromIndex.nonEmpty && fromIndex === inQuery,
        s"draw $i ($op): persisted-index answers diverged from the in-query derivation")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
