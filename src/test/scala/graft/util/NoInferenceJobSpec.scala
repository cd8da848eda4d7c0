package graft.util

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.obs.Recorder
import graft.queries.PageRankLayout
import graft.similarity.Similarity

/** The artifact stores read their own tables through declared schemas, so
  * a commit runs no Parquet schema-inference job, and a read runs exactly
  * one: the `graft.Tables` load of its corpus table.
  *
  * An inference job is Spark's footer merge: a job outside any SQL
  * execution (no `spark.sql.execution.id`) whose stage, named
  * `parquet at <caller>`, runs over a `ParallelCollectionRDD`. */
class NoInferenceJobSpec extends SparkSpec {

  private def inferenceJobs(f: => Unit): Int =
    Recorder.record(spark.sparkContext)(f).jobs.count(j => !j.inSqlExecution &&
      j.stages.exists(s => s.name.startsWith("parquet at ") &&
        s.rddNames.contains("ParallelCollectionRDD")))

  test("one upsert on a built ANN index and on a built layout runs no schema-inference job") {
    Similarity.ensureAnnIndex(spark, sf)
    PageRankLayout.ensureLayout(spark, sf)
    // the batches are read before counting: their own loads infer
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val ids = emb.select("vec_id").where(col("vec_id") % 16 === 13)
      .orderBy("vec_id").limit(4).collect().map(_.getLong(0))
    val vecs = emb.where(col("vec_id").isin(ids.toIndexedSeq: _*))
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val order = li.where(col("l_orderkey") === li.agg(min("l_orderkey")).head().getLong(0))
    assert(inferenceJobs(Similarity.upsertAnnIndex(spark, sf, vecs, vecs)) === 0)
    assert(inferenceJobs(PageRankLayout.upsertLayout(spark, sf, order, order)) === 0)
  }

  test("a read of each store runs exactly one schema-inference job: its corpus table load") {
    Similarity.ensureAnnIndex(spark, sf)
    PageRankLayout.ensureLayout(spark, sf)
    assert(inferenceJobs(Similarity.ivfPqFromIndexRows(spark, sf,
      nQueries = 5, probes = 2, shortlist = 20).collect()) === 1)
    assert(inferenceJobs(PageRankLayout.fromLayoutRanks(spark, sf, iters = 1).collect()) === 1)
  }
}
