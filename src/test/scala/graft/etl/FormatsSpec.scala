package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Source/sink format coverage beyond parquet+CSV+JSONL (A1/A17, C1): ORC
  * (Spark's second bundled columnar format) roundtrips losslessly, and the
  * line-oriented `text` source reads raw corpora. Both matter for a
  * training-data pipeline ingesting whatever the upstream dumped. */
class FormatsSpec extends SparkSpec {

  test("ORC roundtrip preserves schema, rows, and values vs the parquet source") {
    val docs = graft.Tables.documents(spark, sf)
    val dir = tempDir("graft_orc").toString
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema === docs.schema)
    val a = back.orderBy("doc_id").collect().map(_.toString).toSeq
    val b = docs.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("ORC scans push filters down like parquet") {
    val docs = graft.Tables.documents(spark, sf)
    val dir = tempDir("graft_orc_pd").toString
    docs.write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir).where(col("lang") === "en").select("doc_id", "lang")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("lang"), plan.take(600))
    assert(q.count() === docs.where(col("lang") === "en").count())
  }

  test("text source reads a raw line corpus with one row per line") {
    val dir = tempDir("graft_text").toString
    val docs = graft.Tables.documents(spark, sf).select("text")
    docs.write.mode("overwrite").text(dir)
    val back = spark.read.text(dir)
    // documents contain no newlines, so lines == docs
    assert(back.count() === docs.count())
    assert(back.schema.fieldNames.toSeq === Seq("value"))
  }
}
