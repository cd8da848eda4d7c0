package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan dump for optimization-round evidence: writes
  * `<outDir>/<query>_<suffix>.txt` holding `.explain("formatted")` of each
  * named query's returned frame, at the bench's own local[32]/32-partition
  * configuration so the dumped shape is the shape the bench times. Usage:
  * `sbt "runMain graft.PlanDumpEach <sfDir> <outDir> <suffix> <q1,q2,...>"`. */
object PlanDumpEach {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = Registry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).trim + "\n")
      println(s"[plandumpeach] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
