package graft.obs

import graft.SparkSpec

/** The scoped call records exactly the jobs and tasks of its own body:
  * nothing of the call before it, nothing missing at its end. An RDD job
  * has a fixed plan that AQE cannot change: 4 map tasks, then 2 reduce
  * tasks that read the shuffle the map tasks wrote. */
class RecorderSpec extends SparkSpec {

  private def job(): Array[(Int, Int)] =
    spark.sparkContext.parallelize(1 to 100, 4).map(x => (x % 3, x))
      .reduceByKey(_ + _, 2).collect()

  test("one scoped call records its one job and six tasks, with no sleep") {
    (1 to 3).foreach { _ =>
      job() // an unscoped job right before the scope must not leak into it
      val r = Recorder.record(spark.sparkContext)(job())
      assert(r.value.toMap === (1 to 100).groupBy(_ % 3).map { case (k, xs) => k -> xs.sum })
      assert(r.jobs.size === 1)
      assert(!r.jobs.head.inSqlExecution)
      assert(r.tasks.size === 6)
      assert(r.tasks.count(_.readsShuffle) === 2)
      val written = r.tasks.map(_.shuffleWriteBytes).sum
      assert(written > 0)
      assert(r.tasks.map(_.shuffleReadBytes).sum === written)
    }
  }
}
