package graft

import org.apache.spark.sql.SparkSession

/** The session the local mains (Bench, Verify, MaintBench, the probes)
  * start from, so their settings cannot drift apart: Bench's timings are
  * only comparable with the others' under the same four settings. */
object LocalSession {

  /** A builder for `local[cpus]` with `cpus` shuffle partitions, UTC
    * session time and no UI. Callers add their own extras (extensions, a
    * state-store provider, an app name) before `getOrCreate()`. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
