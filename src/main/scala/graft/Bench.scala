package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.obs.{Recorder, Timing}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Timing uses a noop-format write so the FULL plan
  * executes and every output column materializes — `.count()` would let
  * Catalyst prune columns and collapse projection-only queries to a
  * metadata scan (round-2 verdict fix).
  *
  * Output layout is tail-window-aware: the harness that captures this run
  * keeps only the last ~2000 characters of stdout, and with 77 registered
  * queries a single all-queries JSON line is longer than that — its head
  * (with the total) gets truncated away. So the LAST line printed is a
  * compact summary (total + the headline query per SURVEY section) that
  * always fits in the window whole, while the full per-query map goes to
  * the preceding line and to BENCHFULL.json in the working directory. */
object Bench {

  /** One representative query per SURVEY §2 section — the set whose timings
    * ride in the compact summary line. Keep this list short: the summary
    * line must stay well under the ~2000-char stdout tail window. */
  private[graft] val headline: Seq[String] = Seq(
    "a09_purchases_typed", "b2_hourly_trend", "b3_per_user_stats",
    "c1_scan_project", "c2_filter_pushdown", "c3_broadcast_join",
    "c4_shuffle_join", "c5_semi_join", "c6_full_outer_join", "c7_range_join",
    "c8_asof_join", "c9_tpch_q1", "c10_count_distinct", "c11_cube",
    "c12_window_funcs", "c13_topk", "c14_union_distinct", "c15_string_funcs",
    "c16_session_window", "c17_minhash_lsh", "c17_ngram_jaccard",
    "c17_embedding_neardup_lsh", "c18_knn_agg", "c18_ann_ivf",
    "c19_quality_score", "c20_udaf_weighted_price", "mm_binary_meta",
    "pipeline_curate", "c17_dedup_clusters", "pipeline_pack",
    // the queries whose in-suite/isolated gap has been flagged across
    // rounds — the isolated record exists to adjudicate exactly these —
    // plus the round-11 triangle join, the other multi-stage graph shape
    "c14_pagerank", "c14_recursive_cte", "c14_triangle_count",
    // round 17: the persisted-layout query path, measured against
    // c14_pagerank (the in-query twin) — the build-once/query-many split
    "c14_pagerank_from_layout",
    // round 18: the other persisted-artifact legs, so BOTH artifacts'
    // build AND query paths carry iso sf0.1/sf1 counterparts for the sf10
    // scaling exponents (r17 verdict directive 4 — the "benched at every
    // rung" claim now holds for the ANN pair too)
    "c14_pagerank_layout_build", "c18_ann_index_build",
    "c18_ann_ivfpq_from_index",
    // round 19: the DELETE maintenance legs and the steepest (doc,term)
    // count-table member — headliner status gives the round-19 sf10
    // additions their iso sf0.1/sf1 counterparts (same rationale as the
    // r17/r18 rows above; scalecheck10's coverage note named these)
    "c14_pagerank_layout_delete", "c18_ann_index_delete", "c19_bigram_ppl",
    // round 17: the pair-generating plans the sf10 rung now tracks
    // (r16 verdict directive 4) — headliner status gives them the iso
    // sf0.1/sf1 counterparts the scaling exponents are computed from
    "pipeline_span_dedup_apply", "c17_passage_dedup", "c17_containment",
    "c17_editdist_join", "c17_incremental_dedup")

  /** 1-minute load average — stamped into the output so a contaminated run
    * (concurrent sbt/compile load on the box) is self-labeling instead of
    * reading as a code regression (round-5 verdict: the recorded 61.5 s had
    * a 2–6× blow-up in one query cluster that a quiet-box rerun erased). */
  private def loadAvg1: Double =
    try {
      val s = new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        StandardCharsets.UTF_8)
      s.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** One successful rep: wall, whole-process CPU, Σ executor task CPU and
    * JVM GC seconds. Process CPU minus task CPU and GC is the driver
    * planning, codegen and JIT a plan change cannot remove. */
  private final case class Rep(wall: Double, cpu: Double, taskCpu: Double, gc: Double)

  /** Fixed CANARY pair stamped into every bench record (round-13 verdict
    * directive 1): two pinned queries whose PLAN never changes between
    * rounds, so any two records can be drift-normalized against each
    * other — the r11→r13 uniform 1.39× box drift on identical isolated
    * queries was only attributable by hand-comparing trivially-planned
    * queries; with the canary it is one division.
    *
    *  - `range_mod_sum_s`: sum(id % 7) over a 1e9 range — pure
    *    whole-stage-codegen CPU, zero IO, data-independent. Tracks the
    *    box's compute speed (CPU contention, frequency scaling).
    *  - `scan_sf01_lineitem_s`: Q6-shaped aggregate over the PINNED
    *    read-only sf0.1 lineitem (never the record's own sfDir — a canary
    *    must be the same work in every record, including sf1 ones).
    *    Tracks IO + parquet decode throughput.
    *
    * 3-rep median each, same noop-write forcing as the suite. Reading a
    * cross-record delta: divide both records' per-query numbers by their
    * own canary before comparing; a uniform move in the canary is box
    * drift, a per-query move the canary doesn't share is a plan change. */
  private[graft] val canaryScanDir = "/root/testdata/sf0.1"
  private[graft] def runCanary(spark: SparkSession): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    // 1e9 rows ≈ 1.4 s at local[32] — big enough that scheduler noise is
    // a few % of the reading, small enough to cost ~4 s per record
    val rangeS = Timing.medianSeconds(3)(Timing.force(
      spark.range(1000000000L).selectExpr("sum(id % 7) AS s")))
    // the scan canary reads the PINNED sf0.1 dir, not the record's own
    // sfDir; if that dir is missing/unreadable (sf1-only box), emit the
    // record without the pair instead of aborting the whole run —
    // RecordsSpec's canary guard then flags the record as uncommittable
    val scanS =
      try Some(Timing.medianSeconds(3)(Timing.force(
        Tables.lineitem(spark, canaryScanDir)
          .select(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue")))))
      catch { case e: Throwable =>
        System.err.println(s"[bench] scan canary unavailable ($canaryScanDir): ${e.getMessage}")
        None
      }
    Seq("range_mod_sum_s" -> rangeS) ++
      scanS.map("scan_sf01_lineitem_s" -> _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val recordFile = Timing.recordFile("BENCHFULL.json")
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadBefore = loadAvg1
    // One warmup pass (JIT + codegen cache) on the flagship query.
    try Timing.force(SparkEntry.queries("c9_tpch_q1")(spark, sfDir))
    catch { case _: Throwable => () }
    // Canary BEFORE the suite (post-warmup, so codegen/JIT constants are
    // shared with the suite's own steady state), in exactly the runs that
    // write a record: smoke, dev-loop and iso-child runs print none.
    val canary: Seq[(String, Double)] =
      if (recordFile.isEmpty) Seq.empty else runCanary(spark)
    // Median-of-reps per query: a single timing right after an sbt compile
    // (or next to any concurrent load) can be several × off — the median
    // absorbs one bad repetition, and the min/max spread in BENCHFULL.json
    // shows how noisy the box was.
    // Dev-loop filter: SPARK_GRAFT_BENCH_ONLY="q1,q2" times just those
    // queries (combine with SPARK_GRAFT_BENCH_NOFILE=1 so the partial total
    // never overwrites the committed full record).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val defs = only.fold(Registry.defs)(names => Registry.defs.filter(q => names(q.name)))
    // Reps are interleaved round-robin (full pass 1 over every query, then
    // pass 2, then pass 3) instead of back-to-back per query: external load
    // bursts on this box are time-local (round-7's driver run had a ~40 s
    // burst that poisoned all 3 consecutive reps of two queries, reading as
    // an 11 s median for a 0.6 s query). With interleaving a burst shorter
    // than one full pass inflates at most ONE rep of any query, which the
    // median then discards.
    val repsByQuery =
      scala.collection.mutable.LinkedHashMap(defs.map(q => q.name -> Vector.empty[Rep]): _*)
    val shuffleByQuery =
      scala.collection.mutable.LinkedHashMap(defs.map(q => q.name -> (0L, 0L)): _*)
    // ONE rep of one query, shared by the main loop and the adaptive
    // re-reps so every rep — including extras — runs inside one recorded
    // scope, its listener-bus drains untimed (shuffle/spill from a re-rep
    // counts toward the record's zero-spill claim), and a THROWN rep
    // appends no timing: a fast failure (transient OOM) must not become
    // the 5-rep min and pull the median down (round-14 advice).
    def runRep(q: QueryDef, tag: String): Unit = {
      val rec = Recorder.record(spark.sparkContext) {
        val cpu0 = Timing.processCpuS
        val gc0 = Timing.jvmGcS
        val t0 = System.nanoTime()
        try {
          Timing.force(q.fn(spark, sfDir))
          Some(((System.nanoTime() - t0) / 1e9, Timing.processCpuS - cpu0,
            Timing.jvmGcS - gc0))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name}$tag failed: ${e.getMessage}")
          None
        }
      }
      rec.value.foreach { case (wall, cpu, gc) =>
        repsByQuery(q.name) :+= Rep(wall, cpu, rec.tasks.map(_.cpuNs).sum / 1e9, gc)
      }
      val (w0, s0) = shuffleByQuery(q.name)
      shuffleByQuery(q.name) =
        (w0 + rec.tasks.map(_.shuffleWriteBytes).sum, s0 + rec.tasks.map(_.spillBytes).sum)
    }
    (0 until math.max(1, reps)).foreach { _ =>
      defs.foreach(q => runRep(q, ""))
    }
    def walls(name: String): Seq[Double] = repsByQuery(name).map(_.wall).sorted
    // Adaptive re-reps (round-13 advice + round-14 verdict finding 1):
    // with 3 reps, ONE load-burst outlier leaves the median between two
    // honest values — but two contamination shapes demand more evidence:
    //  - spread max > 3× median: at least one rep was contaminated, and a
    //    second contaminated rep WOULD own the median;
    //  - median > 2× min: the MEDIAN itself is contaminated — for a
    //    deterministic workload the min rep is the contamination-robust
    //    anchor (the driver's r14 run had pagerank at median 20.96 s over
    //    a 5.75 s min with the max-only trigger never firing).
    // Flagged queries get 2 extra reps (median of 5), run after the main
    // interleaved passes so they land outside the burst that flagged
    // them. The record lists who was re-repped ("extra_repped"); medians
    // STILL over 2× their min after the extra evidence are flagged
    // "noisy_medians" so a reader never mistakes one for a plan cost.
    def medianOverMin(name: String, factor: Double): Boolean = {
      val t = walls(name)
      t.nonEmpty && Timing.median(t) > factor * t.head
    }
    val extraRepped: Seq[String] = if (reps < 3) Seq.empty else {
      val noisy = defs.filter { q =>
        val t = walls(q.name)
        t.nonEmpty && (t.last > 3 * Timing.median(t) || medianOverMin(q.name, 2.0))
      }
      noisy.foreach { q =>
        (0 until 2).foreach(_ => runRep(q, " extra rep"))
      }
      noisy.map(_.name)
    }
    val noisyMedians: Seq[String] =
      defs.map(_.name).filter(medianOverMin(_, 2.0))
    // per-query medians over the successful reps; a query whose every rep
    // threw reads -1 in each map — flagged, not fabricated
    def medians(f: Rep => Double): Seq[(String, Double)] =
      repsByQuery.toSeq.map { case (n, rs) =>
        n -> (if (rs.isEmpty) -1.0 else Timing.median(rs.map(f)))
      }
    // per-query shuffle-write MB averaged over that query's SUCCESSFUL rep
    // count — extra reps are inside the recorded scopes, so the
    // divisor is per-query, not the global rep count (read ≈ write
    // locally; spill recorded only if nonzero anywhere)
    val shuffleMb = shuffleByQuery.toSeq.map { case (n, (w, _)) =>
      n -> w.toDouble / math.max(1, repsByQuery(n).size) / 1e6
    }
    val totalSpill = shuffleByQuery.valuesIterator.map(_._2).sum
    val loadAfter = loadAvg1
    val wallMedians = medians(_.wall)
    val total = wallMedians.map(_._2).sum
    // median CPU seconds per query — read next to the wall median: a wall
    // median far above its own earlier record while cpu_s is unchanged is
    // the contamination signature (see README "Benchmarking").
    val cpuMedians = medians(_.cpu)
    val cpuTotal = cpuMedians.map(_._2).sum
    val spread = repsByQuery.keys.toSeq.map { n =>
      val t = walls(n)
      n -> Timing.arr((if (t.isEmpty) Seq(-1.0, -1.0) else Seq(t.head, t.last)).map(Timing.num))
    }
    val env = Seq(
      "reps" -> reps.toString,
      "load1_before" -> Timing.num(loadBefore),
      "load1_after" -> Timing.num(loadAfter)) ++
      (if (canary.isEmpty) Nil else Seq("canary" -> Timing.nums(canary))) ++
      (if (extraRepped.isEmpty) Nil
       else Seq("extra_repped" -> Timing.arr(extraRepped.map(Timing.str)))) ++
      (if (noisyMedians.isEmpty) Nil
       else Seq("noisy_medians" -> Timing.arr(noisyMedians.map(Timing.str))))
    val fullLine = Timing.obj(Seq(
      "queries" -> Timing.nums(wallMedians),
      "cpu_s" -> Timing.nums(cpuMedians),
      "cpu_total" -> Timing.num(cpuTotal),
      "task_cpu_s" -> Timing.nums(medians(_.taskCpu)),
      "jvm_gc_s" -> Timing.nums(medians(_.gc)),
      "spread" -> Timing.obj(spread: _*),
      "shuffle_write_mb" -> Timing.nums(shuffleMb),
      "spilled_bytes" -> totalSpill.toString,
      "metric" -> Timing.str("total_all_queries"),
      "value" -> Timing.num(total),
      "unit" -> Timing.str("sec")) ++ env ++
      Seq("sf" -> Timing.str(sfDir)): _*)
    println(fullLine)
    recordFile.foreach(Timing.write(_, fullLine))
    println(Timing.obj(Seq(
      "metric" -> Timing.str("total"),
      "value" -> Timing.num(total),
      "unit" -> Timing.str("sec"),
      "n_queries" -> wallMedians.size.toString,
      "cpu_total" -> Timing.num(cpuTotal)) ++ env ++ Seq(
      "queries" -> Timing.nums(wallMedians.filter(r => headline.contains(r._1))),
      "sf" -> Timing.str(sfDir)): _*))
    spark.stop()
  }
}
