package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Seeded random-sequence fuzz of the STREAMING maintenance sinks
  * (round-19 verdict directive 8): the lifecycle fuzzes drive the batch
  * APIs; this drives the real `foreachBatch` path — MemoryStream micro-
  * batches through [[StreamingJobs.foreachBatchSink]] into
  * `Similarity.mergeAnnCdcBatch` / `PageRankLayout.mergeLayoutCdcBatch`
  * under a real streaming checkpoint — with random interleavings of:
  *
  *  - INSERT batches (new rows/orders outside the training stratum),
  *  - DELETE batches (existing non-training rows / whole orders),
  *  - UPSERT batches (delete + corrected re-insert of the same ids in
  *    ONE micro-batch),
  *  - REPLAY of the last committed batch (redelivered at its original
  *    batchId, as Structured Streaming does after a failure — must be a
  *    byte-for-byte store no-op),
  *  - RESTART of the sink query from its checkpoint (continuation, not
  *    reprocessing).
  *
  * After EVERY streamed batch the registered query pair gates the store:
  * from-artifact rows ≡ in-query derivation rows on the live corpus.
  *
  * Draw count/seed come from SPARK_GRAFT_SINK_FUZZ_DRAWS /
  * SPARK_GRAFT_SINK_FUZZ_SEED (defaults 4 / 42 for the regular suite; the
  * committed sweep record in FUZZCAPS.md runs 25 draws per artifact). */
class SinkFuzzSpec extends SparkSpec {

  private val draws = sys.env.get("SPARK_GRAFT_SINK_FUZZ_DRAWS").map(_.toInt).getOrElse(4)
  private val seed = sys.env.get("SPARK_GRAFT_SINK_FUZZ_SEED").map(_.toLong).getOrElse(42L)

  private def listing(root: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .map(f => (f.getAbsolutePath, f.length, f.lastModified)).toSet
  }

  test(s"ANN CDC sink survives $draws random insert/delete/upsert/replay/" +
    s"restart draws through a real foreachBatch checkpoint (seed $seed)") {
    import graft.similarity.Similarity
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("graft_ann_sinkfuzz")
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
    Similarity.ensureAnnIndex(spark, dir) // gen 0

    var nextId = corpus.agg(max("vec_id")).head().getLong(0) + 1
    val dims = src.head().getAs[scala.collection.Seq[Float]]("embedding").length
    import spark.implicits._
    val in = MemoryStream[(String, Long, Array[Float])]
    val ckpt = tempDir("ann_sinkfuzz_ckpt").toString
    def startSink() = StreamingJobs.foreachBatchSink(
      in.toDF().toDF("op", "vec_id", "embedding"), ckpt)(
      (b, id) => Similarity.mergeAnnCdcBatch(b.sparkSession, dir, b, id))
    var q = startSink()
    var delivered = 0L
    var lastBatch: Seq[(String, Long, Array[Float])] = Seq.empty
    def deliver(batch: Seq[(String, Long, Array[Float])]): Unit = {
      in.addData(batch: _*)
      q.processAllAvailable()
      delivered += 1
      lastBatch = batch
    }
    def cdc(rows: Seq[org.apache.spark.sql.Row], op: String) =
      rows.map(r => (op, r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
    def victims(k: Int): Seq[org.apache.spark.sql.Row] =
      new scala.util.Random(rnd.nextLong())
        .shuffle(corpus.collect().toSeq
          .filter(r => r.getLong(0) % 4 != 0 && r.getLong(0) >= 5))
        .take(k)

    for (i <- 1 to draws) {
      var streamed = true
      val op = (rnd.nextInt(5) match {
        case 3 if delivered > 0 => "replay"
        case 4 => "restart"
        case 1 => "delete"
        case 2 => "upsert"
        case _ => "insert"
      }) match {
        case "replay" =>
          streamed = false
          val root = Similarity.annIndexRoot(dir)
          val before = listing(root)
          Similarity.mergeAnnCdcBatch(spark, dir,
            lastBatch.toDF("op", "vec_id", "embedding"),
            batchId = delivered - 1)
          assert(listing(root) === before,
            s"draw $i (replay): redelivered batch touched the store")
          "replay"
        case "restart" =>
          streamed = false
          q.stop()
          q = startSink()
          "restart"
        case "delete" =>
          val vs = victims(1 + rnd.nextInt(2))
          rewrite(corpus.collect().toSeq.diff(vs))
          deliver(cdc(vs, "D"))
          "delete"
        case "upsert" =>
          val vs = victims(1 + rnd.nextInt(2))
          val fixed = vs.map { r =>
            org.apache.spark.sql.Row(r.getLong(0),
              r.getAs[scala.collection.Seq[Float]](1).map(x => -x), r.getInt(2))
          }
          rewrite(corpus.collect().toSeq.diff(vs) ++ fixed)
          deliver(cdc(vs, "D") ++ cdc(fixed, "I"))
          "upsert"
        case _ =>
          val k = 1 + rnd.nextInt(4)
          val newRows = (1 to k).map { _ =>
            while (nextId % 4 == 0) nextId += 1
            val id = nextId; nextId += 1
            org.apache.spark.sql.Row(id,
              scala.collection.Seq.fill(dims)((rnd.nextFloat() - 0.5f) * 1.2f),
              rnd.nextInt(10))
          }
          rewrite(corpus.collect().toSeq ++ newRows)
          deliver(cdc(newRows, "I"))
          "insert"
      }
      if (streamed) {
        val fromIndex = Similarity.annIvfPqFromIndex.fn(spark, dir)
          .collect().map(_.toString).toSeq
        val inQuery = Similarity.annIvfPqMd5.fn(spark, dir)
          .collect().map(_.toString).toSeq
        assert(fromIndex.nonEmpty && fromIndex === inQuery,
          s"draw $i ($op): sink-maintained index diverged from the in-query derivation")
      }
    }
    q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test(s"layout CDC sink survives $draws random insert/delete/upsert/replay/" +
    s"restart draws through a real foreachBatch checkpoint (seed $seed)") {
    import graft.queries.{PageRankLayout, Relational}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(seed)
    val dir = tempDir("graft_pr_sinkfuzz")
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
    PageRankLayout.ensureLayout(spark, dir) // gen 0

    val okIdx = schema.fieldIndex("l_orderkey")
    val pkIdx = schema.fieldIndex("l_partkey")
    var nextOrder = corpus.agg(max("l_orderkey")).head().getLong(0) + 1
    import spark.implicits._
    val in = MemoryStream[(String, Long, Long)]
    val ckpt = tempDir("pr_sinkfuzz_ckpt").toString
    def startSink() = StreamingJobs.foreachBatchSink(
      in.toDF().toDF("op", "l_orderkey", "l_partkey"), ckpt)(
      (b, id) => PageRankLayout.mergeLayoutCdcBatch(b.sparkSession, dir, b, id))
    var q = startSink()
    var delivered = 0L
    var lastBatch: Seq[(String, Long, Long)] = Seq.empty
    def deliver(batch: Seq[(String, Long, Long)]): Unit = {
      in.addData(batch: _*)
      q.processAllAvailable()
      delivered += 1
      lastBatch = batch
    }
    def cdc(rows: Seq[org.apache.spark.sql.Row], op: String) =
      rows.map(r => (op, r.getLong(okIdx), r.getLong(pkIdx)))
    def randomOrder(rows: Seq[org.apache.spark.sql.Row]): Long = {
      val keys = rows.map(_.getLong(okIdx)).distinct
      keys(rnd.nextInt(keys.size))
    }

    for (i <- 1 to draws) {
      var streamed = true
      val op = (rnd.nextInt(5) match {
        case 3 if delivered > 0 => "replay"
        case 4 => "restart"
        case 1 => "delete"
        case 2 => "upsert"
        case _ => "insert"
      }) match {
        case "replay" =>
          streamed = false
          val root = PageRankLayout.layoutRoot(dir)
          val before = listing(root)
          PageRankLayout.mergeLayoutCdcBatch(spark, dir,
            lastBatch.toDF("op", "l_orderkey", "l_partkey"),
            batchId = delivered - 1)
          assert(listing(root) === before,
            s"draw $i (replay): redelivered batch touched the store")
          "replay"
        case "restart" =>
          streamed = false
          q.stop()
          q = startSink()
          "restart"
        case "delete" =>
          val rows = corpus.collect().toSeq
          val order = randomOrder(rows)
          val vs = rows.filter(_.getLong(okIdx) == order)
          rewrite(rows.filterNot(_.getLong(okIdx) == order))
          deliver(cdc(vs, "D"))
          "delete"
        case "upsert" =>
          val rows = corpus.collect().toSeq
          val order = randomOrder(rows)
          val vs = rows.filter(_.getLong(okIdx) == order)
          val fixed = vs.map { r =>
            val donor = rows(rnd.nextInt(rows.size))
            val vals = r.toSeq.toArray
            vals(pkIdx) = donor.getLong(pkIdx)
            org.apache.spark.sql.Row(vals: _*)
          }
          rewrite(rows.filterNot(_.getLong(okIdx) == order) ++ fixed)
          deliver(cdc(vs, "D") ++ cdc(fixed, "I"))
          "upsert"
        case _ =>
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
          deliver(cdc(newRows, "I"))
          "insert"
      }
      if (streamed) {
        val fromLayout = PageRankLayout.pageRankFromLayout.fn(spark, dir)
          .collect().map(_.toString).toSeq
        val inQuery = Relational.c14PageRank.fn(spark, dir)
          .collect().map(_.toString).toSeq
        assert(fromLayout.nonEmpty && fromLayout === inQuery,
          s"draw $i ($op): sink-maintained layout diverged from the in-query derivation")
      }
    }
    q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
