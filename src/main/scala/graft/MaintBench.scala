package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Timing

/** Per-phase decomposition of the artifact MAINTENANCE legs (round-19
  * verdict directive 7): the registered delete/upsert/append queries
  * deliberately compose BUILD + MAINTAIN + RETURN in one leg so the
  * driver's hash compare gates parity-with-rebuild — which means their
  * headline bench numbers conflate the (deliberate, artifact-sized)
  * build phase with the maintenance cost that the batch-proportional
  * work of rounds 19–20 actually targets. This main re-runs each leg
  * with the three phases timed SEPARATELY, so the round-over-round
  * signal can watch the maintain phase alone:
  *
  *  - build:    the full/reduced-corpus artifact build the leg starts
  *              from (train models / self-join pairs + persist);
  *  - maintain: the ONE maintenance commit (append / delete / upsert),
  *              exactly the registered leg's batch stratum;
  *  - return:   materializing the stored table the leg returns (what the
  *              driver would hash), read back through the committed
  *              generation/manifest like any reader.
  *
  * Because the registered strata are corpus-sized (they touch every
  * bucket/cell — the parity gates need oracle-expressible strata), two
  * extra SMALL-BATCH legs time the same APIs at the production cadence
  * (one whole order / a handful of vectors against the full artifact,
  * self-cleaning per rep) — the numbers that must stay near-flat across
  * the corpus decade for the batch-proportional-commit claim.
  *
  * Emits one JSON line and writes MAINTPHASES*.json (SPARK_GRAFT_BENCH_OUT
  * overrides; SPARK_GRAFT_BENCH_NOFILE suppresses); a written record
  * carries the same pinned canary pair as every other — run it per rung (sf0.1 / sf1 /
  * sf10) and `scripts/perftable.py` renders the split. Reps follow
  * SPARK_GRAFT_BENCH_REPS (default 3, median per phase; every rep re-runs
  * the build so the maintain phase always folds into a fresh artifact).
  */
object MaintBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val recordFile = Timing.recordFile("MAINTPHASES.json")
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.queries.PageRankLayout
    import graft.similarity.Similarity

    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey")
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val maxPk = li.agg(max("l_partkey")).head().getLong(0)

    // (leg name, build phase, maintain phase, return frame) — batch
    // strata verbatim from the registered legs, so these numbers ARE the
    // decomposition of the headline queries, not a lookalike workload
    val legs: Seq[(String, () => Unit, () => Unit, () => DataFrame)] = Seq(
      ("c14_pagerank_layout_append",
        () => PageRankLayout.buildLayoutFrom(spark, sfDir,
          li.where(pmod(col("l_orderkey"), lit(8)) =!= 0)),
        () => PageRankLayout.appendLayout(spark, sfDir,
          li.where(pmod(col("l_orderkey"), lit(8)) === 0)),
        () => PageRankLayout.storedEdges(spark, sfDir)),
      ("c14_pagerank_layout_delete",
        () => PageRankLayout.buildLayoutFrom(spark, sfDir, li),
        () => PageRankLayout.deleteLayout(spark, sfDir,
          li.where(pmod(col("l_orderkey"), lit(8)) === 0)),
        () => PageRankLayout.storedEdges(spark, sfDir)),
      ("c14_pagerank_layout_upsert",
        () => PageRankLayout.buildLayoutFrom(spark, sfDir, li),
        () => {
          val old = li.where(pmod(col("l_orderkey"), lit(8)) === 0)
          PageRankLayout.upsertLayout(spark, sfDir, old,
            old.withColumn("l_partkey", pmod(col("l_partkey"), lit(maxPk)) + lit(1L)))
        },
        () => PageRankLayout.storedEdges(spark, sfDir)),
      ("c18_ann_index_append",
        () => { Similarity.buildAnnIndexFrom(spark, sfDir,
          emb.where(pmod(col("vec_id"), lit(4)) =!= 3)); () },
        () => Similarity.appendAnnIndex(spark, sfDir,
          emb.where(pmod(col("vec_id"), lit(4)) === 3)),
        () => Similarity.storedCodes(spark, Similarity.annIndexRoot(sfDir))),
      ("c18_ann_index_delete",
        () => { Similarity.buildAnnIndexFrom(spark, sfDir, emb); () },
        () => Similarity.deleteAnnIndex(spark, sfDir,
          emb.where(pmod(col("vec_id"), lit(16)) === 5)),
        () => Similarity.storedCodes(spark, Similarity.annIndexRoot(sfDir))),
      ("c18_ann_index_upsert",
        () => { Similarity.buildAnnIndexFrom(spark, sfDir, emb); () },
        () => {
          val old = emb.where(pmod(col("vec_id"), lit(16)) === 9)
          Similarity.upsertAnnIndex(spark, sfDir, old,
            old.withColumn("embedding", reverse(col("embedding"))))
        },
        () => Similarity.storedCodes(spark, Similarity.annIndexRoot(sfDir)))
    )

    // one warmup build pair so the first timed rep is not paying JIT
    try { PageRankLayout.ensureLayout(spark, sfDir); Similarity.ensureAnnIndex(spark, sfDir) }
    catch { case _: Throwable => () }
    val canary = if (recordFile.isEmpty) Seq.empty else Bench.runCanary(spark)

    val results = legs.map { case (name, build, maintain, ret) =>
      val phases = (1 to reps).map { _ =>
        val b = Timing.seconds(build())
        val m = Timing.seconds(maintain())
        val r = Timing.seconds(Timing.force(ret()))
        (b, m, r)
      }
      name -> (Timing.median(phases.map(_._1)), Timing.median(phases.map(_._2)),
        Timing.median(phases.map(_._3)))
    }

    // ---- SMALL-BATCH cadence (the production hourly shape) ------------
    // The registered strata above are deliberately CORPUS-SIZED (1/8 or
    // 1/16 of all rows — the parity-gate design needs oracle-expressible
    // strata), so they touch essentially every bucket/cell and cannot
    // show the copy-on-write win. These legs time the same maintenance
    // APIs at the reference's actual cadence — ONE order / a handful of
    // vectors against the full artifact — where per-commit cost must
    // scale with the batch, not the artifact. Each rep is self-cleaning
    // (append X → delete X; upsert to identical content = unfold∘fold
    // identity), so medians are over identical artifact states.
    val liRows = li.limit(4).collect()
    val newOrderKey = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val smallOrder = spark.createDataFrame(
      spark.sparkContext.parallelize(liRows.map(r =>
        org.apache.spark.sql.Row(newOrderKey, r.getLong(1))).toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("l_partkey",
          org.apache.spark.sql.types.LongType))))
    // one whole EXISTING order (stored content, so the content-hash
    // guard passes) for the upsert-to-same-content leg
    val someKey = li.where(pmod(col("l_orderkey"), lit(8)) === 1)
      .agg(min("l_orderkey")).head().getLong(0)
    val someOrder = li.where(col("l_orderkey") === someKey)
    val layoutSmall = (1 to reps).map { _ =>
      val a = Timing.seconds(PageRankLayout.appendLayout(spark, sfDir, smallOrder))
      val d = Timing.seconds(PageRankLayout.deleteLayout(spark, sfDir, smallOrder))
      val u = Timing.seconds(PageRankLayout.upsertLayout(spark, sfDir, someOrder, someOrder))
      (a, d, u)
    }
    // ANN: 8 fresh ids outside the training stratum, embeddings borrowed
    // from existing rows (content is irrelevant to cost); 4 existing
    // non-stratum ids for the upsert-to-same-content leg
    val maxVec = emb.agg(max("vec_id")).head().getLong(0)
    val embRows = emb.limit(8).collect()
    val freshIds = Iterator.iterate(maxVec + 1)(_ + 1)
      .filter(_ % 4 != 0).take(embRows.length).toSeq
    val smallVecs = spark.createDataFrame(
      spark.sparkContext.parallelize(embRows.toSeq.zip(freshIds).map {
        case (r, id) =>
          org.apache.spark.sql.Row(id, r.getAs[scala.collection.Seq[Float]](1))
      }, 1), emb.schema)
    val upVecs = emb.where(pmod(col("vec_id"), lit(16)) === 13).limit(4)
    val annSmall = (1 to reps).map { _ =>
      val a = Timing.seconds(Similarity.appendAnnIndex(spark, sfDir, smallVecs))
      val d = Timing.seconds(Similarity.deleteAnnIndex(spark, sfDir, smallVecs))
      val u = Timing.seconds(Similarity.upsertAnnIndex(spark, sfDir, upVecs, upVecs))
      (a, d, u)
    }
    val small = Seq(
      "c14_pagerank_layout_small" ->
        ((Timing.median(layoutSmall.map(_._1)), Timing.median(layoutSmall.map(_._2)),
          Timing.median(layoutSmall.map(_._3)), liRows.length)),
      "c18_ann_index_small" ->
        ((Timing.median(annSmall.map(_._1)), Timing.median(annSmall.map(_._2)),
          Timing.median(annSmall.map(_._3)), embRows.length)))

    val legsJson = results.map { case (n, (b, m, r)) =>
      n -> Timing.nums(Seq("build_s" -> b, "maintain_s" -> m, "return_s" -> r))
    } ++ small.map { case (n, (a, d, u, rows)) =>
      n -> Timing.obj("append_s" -> Timing.num(a), "delete_s" -> Timing.num(d),
        "upsert_s" -> Timing.num(u), "batch_rows" -> rows.toString)
    }
    val json = Timing.obj(Seq(
      "metric" -> Timing.str("maint_phases"),
      "sf" -> Timing.str(sfDir),
      "reps" -> reps.toString) ++
      (if (canary.isEmpty) Nil else Seq("canary" -> Timing.nums(canary))) ++
      Seq("legs" -> Timing.obj(legsJson: _*)): _*)
    println(json)
    recordFile.foreach(Timing.write(_, json))
    spark.stop()
  }
}
