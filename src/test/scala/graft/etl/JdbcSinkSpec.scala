package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A10 executed end-to-end: the batched JDBC append actually runs against an
  * embedded Derby database (the sandbox has no PG-wire server; Derby ships
  * with Spark and exercises the identical DataFrameWriter JDBC path —
  * driver resolution, table creation, batched PreparedStatement inserts,
  * concurrent per-partition connections). Only the URL/dialect differs from
  * the QuestDB deployment target. */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  test("A10: batched JDBC append lands every row in an embedded database") {
    val df = Purchases.etl(spark, Purchases.exampleDir)
    Sinks.writeJdbc(df, url, "purchases_jdbc", user = "app", password = "app",
      batchSize = 100)
    val back = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "purchases_jdbc")
      .load()
    // expected count from the committed files' lines, not from `df`
    assert(back.count() === HourlyBatches.exampleLines.size.toLong)
    assert(back.columns.map(_.toLowerCase).sorted ===
      Array("buyer", "item_id", "price", "purchase_date", "quantity"))
    // content parity: buyer multiset and total spend survive the round trip
    val sentBuyers = df.select("buyer").collect().map(_.getString(0)).sorted.toSeq
    val gotBuyers = back.select("BUYER").collect().map(_.getString(0)).sorted.toSeq
    assert(gotBuyers === sentBuyers)
    val sentSpend = df.agg(sum(col("quantity") * col("price"))).first().getLong(0)
    val gotSpend = back.agg(sum(col("QUANTITY") * col("PRICE"))).first().getLong(0)
    assert(gotSpend === sentSpend)
  }
}
