package graft

import java.nio.file.{Files, Paths}


import graft.fuzz.{DedupParamGen, QueryGen}
import graft.util.JsonStr

/** Differential-fuzz driver: generates `n` seeded random query pairs
  * (Spark plan + DuckDB SQL — see [[graft.fuzz.QueryGen]]), executes the
  * Spark side, and dumps results in the same layout [[Verify]] uses
  * (`outDir/<name>/…parquet`, `outDir/oracle_sql.json` and
  * `outDir/queries.json`, the names attempted), so the existing
  * `scripts/check.py` gate compares the two engines unchanged.
  *
  * Usage: `runMain graft.Fuzz [seed] [n] [sfDir] [outDir]`
  * (wrapped by `scripts/fuzz.sh`, which also runs the compare).
  * Exits non-zero if any Spark-side execution fails; value mismatches are
  * check.py's verdict.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    val seed = args.lift(0).map(_.toLong).getOrElse(42L)
    val n = args.lift(1).map(_.toInt).getOrElse(120)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(3).getOrElse("/tmp/graft_fuzz")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // every sweep also draws n/8 dedup-PARAMETER queries (shingle sizes,
    // chunk splits, df caps, SRP widths, IVF depths — see DedupParamGen);
    // SPARK_GRAFT_FUZZ_DEDUP_ONLY=1 makes ALL n draws dedup-parameter
    // draws instead — the round-16 directed 4-seed × 50 dedup sweep
    // without paying for 8× relational draws alongside
    val qs =
      if (sys.env.contains("SPARK_GRAFT_FUZZ_DEDUP_ONLY"))
        DedupParamGen.generate(seed, n)
      else QueryGen.generate(seed, n) ++
        DedupParamGen.generate(seed, math.max(1, n / 8))
    var sparkFailures = 0
    var empties = 0
    qs.foreach { q =>
      try {
        q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        // cheap row probe for the summary (reads the 1-file dump back)
        val rows = spark.read.parquet(s"$outDir/${q.name}").count()
        if (rows == 0) empties += 1
      } catch { case e: Throwable =>
        sparkFailures += 1
        System.err.println(s"[fuzz] ${q.name} SPARK-SIDE FAILURE: " +
          s"${e.getMessage}\n  sql: ${q.sql}")
      }
    }
    val json = qs.map(q => s"${JsonStr.quote(q.name)}: ${JsonStr.quote(q.sql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      qs.map(q => JsonStr.quote(q.name)).mkString("[", ",", "]"))
    // human-readable SQL dump for mismatch triage
    Files.writeString(Paths.get(s"$outDir/queries.sql"),
      qs.map(q => s"-- ${q.name}\n${q.sql};\n").mkString("\n"))
    // corpus-pin counters: latest-row draws that must fire LatestByRule
    // (_lrw) vs mixed-direction draws its guard must decline (_lrg) —
    // the run lambdas `require` the respective plan shape per draw
    val fired = qs.count(_.name.endsWith("_lrw"))
    val declined = qs.count(_.name.endsWith("_lrg"))
    println(s"[fuzz] seed=$seed n=$n sf=$sfDir → $outDir : " +
      s"${qs.size - sparkFailures} executed, $sparkFailures spark failures, " +
      s"$empties empty results, latest-rewrite fired=$fired declined=$declined")
    spark.stop()
    if (sparkFailures > 0) sys.exit(1)
  }
}
