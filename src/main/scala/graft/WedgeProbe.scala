package graft

import org.apache.spark.sql.functions._

/** SKEWCHECK wedge probe (dev tool, SKEWCHECK.md round 17): quantify what
  * the degree-ordered orientation of [[graft.queries.Relational.trianglesPerVertex]]
  * buys on a HEAVY-TAILED co-purchase graph — the round-16 verdict noted
  * the sf10 triangle measurement rode the replicate corpus, whose copies
  * add triangle COUNT but not degree DENSITY (iso exp 0.97, linear by
  * construction), so the orientation's worst case had never been measured
  * against Zipf degrees.
  *
  * For a given corpus this prints, as one JSON line:
  *  - edges            distinct repeat-co-purchase edges (w >= 2)
  *  - max_deg          the hot vertex's degree
  *  - wedges_naive     sum_v C(deg v, 2) — the pair space a vertex-join
  *                     enumeration would generate (quadratic in max_deg)
  *  - wedges_oriented  sum_v C(outdeg v, 2) under the (degree, id) total
  *                     order — the pair space the oriented wedge join
  *                     ACTUALLY generates (bounded by O(m^1.5) total)
  *  - max_outdeg       the largest oriented out-degree (the sqrt(m) bound
  *                     in the flesh)
  *  - triangle query wall seconds (3-rep median, noop write like Bench)
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.WedgeProbe"
  */
object WedgeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus).appName("graft-wedge-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val pairs = li.toDF("k", "u")
      .join(li.toDF("k", "v").hint("shuffle_hash"), "k")
      .where(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select("u", "v")
      .persist()
    val m = pairs.count()

    val deg = pairs.select(col("u").as("x"))
      .unionAll(pairs.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .persist()
    val degStats = deg.agg(
      max(col("d")).as("max_deg"),
      sum(col("d") * (col("d") - 1) / 2).as("wedges_naive")).head()

    // the SAME orientation as trianglesPerVertex: edge points from its
    // lower-(degree, id) endpoint to the higher one
    val du = deg.select(col("x").as("u"), col("d").as("du"))
    val dv = deg.select(col("x").as("v"), col("d").as("dv"))
    val lower = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val outdeg = pairs
      .join(du.hint("shuffle_hash"), "u").join(dv.hint("shuffle_hash"), "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("od"))
    val oStats = outdeg.agg(
      max(col("od")).as("max_outdeg"),
      sum(col("od") * (col("od") - 1) / 2).as("wedges_oriented")).head()

    // wall: the registered triangle query end-to-end, 3-rep median
    def once(): Double = {
      val t0 = System.nanoTime()
      Registry.queries("c14_triangle_count")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    val walls = Seq.fill(3)(once()).sorted
    val wall = walls(1)

    println(f"""{"sf":"$sfDir","edges":$m,"max_deg":${degStats.getLong(0)},""" +
      f""""wedges_naive":${degStats.getDouble(1)}%.0f,""" +
      f""""max_outdeg":${oStats.getLong(0)},""" +
      f""""wedges_oriented":${oStats.getDouble(1)}%.0f,""" +
      f""""triangle_wall_s":$wall%.3f}""")
    spark.stop()
  }
}
