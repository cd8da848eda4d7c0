package graft.obs

import java.util.Properties

import org.apache.spark.ListenerBusPost
import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerJobStart, JobSucceeded}

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

  test("events still queued when the scope opens are not recorded") {
    // A burst of job events on the bus just before the scope: without the
    // drain that opens the scope, the fresh listener would receive the ones
    // not yet delivered. 2 × 3000 events stay under the 10 000-event queue
    // capacity, so none is dropped. Ids far above any real job's.
    val sc = spark.sparkContext
    (1 to 3).foreach { round =>
      val ids = (0 until 3000).map(i => 1000000 * round + i)
      ids.foreach { id =>
        ListenerBusPost(sc, SparkListenerJobStart(id, 0L, Seq.empty, new Properties))
        ListenerBusPost(sc, SparkListenerJobEnd(id, 0L, JobSucceeded))
      }
      val r = Recorder.record(sc)(job())
      assert(r.jobs.count(_.id >= 1000000) === 0)
      assert(r.jobs.size === 1)
    }
  }
}
