package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables

/** SKEWCHECK streaming spot bench (dev tool, SKEWCHECK.md round-16
  * addendum): drive [[StreamingJobs.curationStream]] over the Zipf-skewed
  * sf1 documents corpus (`gen_sf.py --skew` — 972 hot docs share the
  * 23-token boilerplate sentence, 33.6% of docs on one source) in
  * event-time micro-batches that cross several watermark horizons, and
  * record what the batch gates never see: per-batch wall and the
  * fingerprint-dedup STATE SIZE under skewed continuous ingestion.
  *
  * Batching: docs feed in doc_id order, `batchDocs` per micro-batch, each
  * batch's `ingest_ts` 20 minutes after the previous under the job's
  * 10-minute watermark — so from batch 3 on, every batch both ingests new
  * fingerprints and expires the ones two horizons old. The boundedness
  * claim measured here is StreamingSpec's quantitative gate at corpus
  * scale: state rows track the per-horizon SURVIVOR count (not the
  * cumulative feed), and the hot boilerplate/source skew does not
  * concentrate state (fingerprints are md5 of the full text — hot docs
  * share a suffix, not a fingerprint — so the dedup key space stays
  * uniform even when sources and grams are Zipf).
  *
  * RocksDB state store: the 100 TB configuration (state >> heap), same
  * provider the transformWithState jobs pin.
  *
  * Usage: `runMain graft.streaming.CurationStreamBench [sfDir] [batchDocs]`
  * (defaults /tmp/sf1skew, 2500). One JSON line on stdout.
  */
object CurationStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1skew")
    val batchDocs = args.lift(1).map(_.toInt).getOrElse(2500)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.LocalSession.builder(cpus)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // (doc_id, lang, text) in doc_id order, driver-side for the feed.
    // Deliberate collect: the bench models an INGESTION FEED (the data
    // arrives from outside the cluster in a real deployment); the query
    // under test is the streaming pipeline, not the feed.
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
      .orderBy("doc_id")
      .as[(Long, String, String)]
      .collect()
    val nBatches = math.ceil(docs.length.toDouble / batchDocs).toInt
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

    val in = MemoryStream[(Long, String, String, java.sql.Timestamp)]
    val stream = in.toDF().toDF("doc_id", "lang", "text", "ingest_ts")
    val q = StreamingJobs
      .curationStream(stream, minTokens = 10, maxTokens = 100000, minAlpha = 0.5)
      .writeStream
      .format("memory").queryName("curation_skew").outputMode(OutputMode.Append())
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_curation_skew").toString)
      .start()

    def stateRows: Long = q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators.map(_.numRowsTotal).sum
    }.getOrElse(0L)

    val perBatch = (0 until nBatches).map { b =>
      val batchTs = new java.sql.Timestamp(t0 + b.toLong * 20 * 60 * 1000)
      val slice = docs.slice(b * batchDocs, (b + 1) * batchDocs)
        .map { case (id, lang, text) => (id, lang, text, batchTs) }
      in.addData(slice.toIndexedSeq)
      val start = System.nanoTime()
      q.processAllAvailable()
      val wallMs = (System.nanoTime() - start) / 1e6
      (wallMs, stateRows)
    }
    val out = spark.table("curation_skew").count()
    q.stop()

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", v)
    val walls = perBatch.map(_._1).sorted
    val states = perBatch.map(_._2)
    println(
      s"""{"metric":"curation_stream_skew","sf":"$sfDir","n_docs":${docs.length},""" +
        s""""n_batches":$nBatches,"batch_docs":$batchDocs,"survivors":$out,""" +
        s""""wall_ms_p50":${fmt(walls(walls.length / 2))},"wall_ms_max":${fmt(walls.last)},""" +
        s""""state_rows_per_batch":[${states.mkString(",")}],""" +
        s""""state_rows_max":${states.max},"state_rows_final":${states.last}}""")
    spark.stop()
  }
}
