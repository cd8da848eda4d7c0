package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.{Recorder, Timing}

/** SKEWCHECK spot bench (dev tool, SKEWCHECK.md): on a `--skew` corpus
  * (scripts/gen_sf.py — Zipf-redirected o_custkey, top key tens of
  * percent of orders) time the SAME join+aggregate three ways:
  *
  *  - `plain`         orders ⋈ customer on custkey, AQE skew-join ON with
  *                    its thresholds scaled to the corpus (the defaults —
  *                    256 MB skewed-partition floor — are cluster-sized
  *                    and never trigger at sf1, which would make "AQE"
  *                    a misleading no-op label)
  *  - `plain_noskew`  AQE's skewJoin handling OFF — what a planner
  *                    without runtime skew mitigation does
  *  - `salted`        [[graft.operators.ScaleOps.saltedJoin]] with
  *                    salt=64 — the engine's own pre-planned mitigation,
  *                    shuffle key (custkey, salt). Salt COUNT must be
  *                    several × the shuffle partition count, not "a few":
  *                    the salt splits the KEY into granules but their
  *                    partition PLACEMENT is hashed, and at salt=8 into
  *                    32 partitions this bench measured 4 of the hot
  *                    key's 8 granules birthday-colliding into ONE
  *                    reducer (2.0M of 3.8M hot rows back on one task —
  *                    most of the skew resurrected). 64 granules of 60k
  *                    rows level out by the law of large numbers.
  *  - `hot_salted`    [[graft.operators.ScaleOps.hotSaltedJoin]] — salt
  *                    ONLY the sample-detected hot keys, so large salt
  *                    costs |hot|×salt replicated dim rows instead of
  *                    |dim|×salt. The production form.
  *
  * Wall time alone cannot see the hot reducer at sf1 (the top key's
  * partition is ~10 MB ≈ tens of milliseconds of join work inside a
  * ~1 s query), so each variant also reports the per-task runtime shape
  * of its timed reps — p50 and max task ms from its task records. The
  * hot reducer IS the max task: on the skewed corpus `plain_noskew`'s
  * max task carries the whole hot key while `salted` caps it at ~1/salt
  * of that, and THAT ratio is what survives a 100× scale-up (the hot
  * task grows linearly with data; the p50 task is pinned by partition
  * sizing). Row counts are asserted identical across variants, so the
  * numbers compare equal work. Median of `SPARK_GRAFT_BENCH_REPS`
  * (default 3) wall per variant, forced via noop write. One JSON line.
  *
  * Expectation being tested (round-11 verdict directive 5): on the
  * skewed corpus `salted`'s max task sits far below `plain_noskew`'s
  * and in the band AQE's own splitting reaches; on UNIFORM data salting
  * pays replication overhead for nothing (wall and max-task parity at
  * best) — which is why saltedJoin is an opt-in operator, not a default
  * rewrite. */
object SkewBench {

  /** One variant's median wall and the runtime shape of its timed reps. */
  private final case class Measured(wallS: Double, p50Ms: Long, maxMs: Long, maxReduceMs: Long)

  /** Fact-side multiplier (deterministic union of identical copies): at
    * sf1 the hot key is ~12 MB ≈ 250 ms of reducer work, inside per-task
    * noise — the first run of this bench proved wall AND max-task blind to
    * the skew at mult=1 (both corpora identical, and salted's max task was
    * its own dim-replication task). Eight copies put ~3.8 M rows on the
    * hot reducer so the quantity under test dominates its stage, which is
    * exactly the 100 TB shape: hot-key volume >> per-task constants. */
  private val Mult = 8

  /** Salt count of the salted variants (see the scaladoc above for why it
    * must be several × the shuffle partition count). */
  private val Salt = 64

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1skew"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = LocalSession.builder(cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def orders0 = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("custkey"), col("o_totalprice"))
    def orders = (1 until Mult).foldLeft(orders0)((d, _) => d.unionAll(orders0))
    def customer = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    def aggAndSink(df: DataFrame): Unit =
      Timing.force(df.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("price_sum")))
    // the join is NEVER broadcastable in the scenario under test — at
    // 100 TB the dim is too big; pin that here or local[N] broadcasts
    // the small customer side and no skew is visible at all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // scale AQE's skew-join thresholds to the corpus: defaults are 256 MB
    // floor × 5× median — cluster numbers a ~10 MB hot partition never
    // reaches. 1 MB floor / 2 MB split target keep the same 5× factor
    // semantics at sf1 size.
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")

    def plainJoin = orders.join(customer, Seq("custkey"))
    def saltedJoin = graft.operators.ScaleOps.saltedJoin(
      orders, customer, "custkey", salt = Salt)
    // the production form: only DETECTED hot keys are salted (sample says
    // which), so salt can be large without replicating the whole dim
    def hotSaltedJoin = graft.operators.ScaleOps.hotSaltedJoin(
      orders, customer, "custkey", salt = Salt,
      sampleFraction = 0.01, minSampleCount = 1000L)

    // equal-work guard
    val n = plainJoin.count()
    require(saltedJoin.count() == n, "salted join changed the row count")
    require(hotSaltedJoin.count() == n, "hot-salted join changed the row count")

    // measure one variant: one UNTIMED warm pass of ITS OWN plan first
    // (each variant's generated code JITs on first execution — without
    // this, a variant's rep-1 tasks carry compilation and its max-task
    // number lies), then median wall of `reps` + the task-runtime shape
    // (p50/max ms) across those reps' tasks. Max over the tasks that read
    // shuffle input isolates the hot reducer from scan/salt map tasks
    // (salted's own max task is otherwise its dim-replication map work).
    def measure(f: => Unit): Measured = {
      f // per-variant warmup
      val rec = Recorder.record(spark.sparkContext)(Timing.medianSeconds(reps)(f))
      val ts = rec.tasks.map(_.runMs).sorted
      val red = rec.tasks.filter(_.readsShuffle).map(_.runMs)
      if (ts.isEmpty) Measured(rec.value, 0L, 0L, 0L)
      else Measured(rec.value, ts(ts.size / 2), ts.last,
        if (red.isEmpty) 0L else red.max)
    }
    // one JSON line: the variants' median walls, then their task shapes
    def report(metric: String, count: (String, Long), variants: (String, Measured)*): Unit = {
      def shape(f: Measured => Long): String =
        Timing.obj(variants.map { case (v, m) => v -> f(m).toString }: _*)
      println(Timing.obj(Seq(
        "metric" -> Timing.str(metric),
        "sf" -> Timing.str(sfDir),
        count._1 -> count._2.toString,
        "reps" -> reps.toString,
        "mult" -> Mult.toString) ++
        variants.map { case (v, m) => s"${v}_s" -> Timing.num(m.wallS) } ++ Seq(
        "task_ms_p50" -> shape(_.p50Ms),
        "task_ms_max" -> shape(_.maxMs),
        "task_ms_max_reduce" -> shape(_.maxReduceMs)): _*))
    }

    val plain = measure(aggAndSink(plainJoin))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val plainNoSkew = measure(aggAndSink(plainJoin))
    val salted = measure(aggAndSink(saltedJoin))
    val hotSalted = measure(aggAndSink(hotSaltedJoin))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    report("skew_join_bench", "rows" -> n, "plain_aqe" -> plain,
      "plain_noskewjoin" -> plainNoSkew, "salted" -> salted, "hot_salted" -> hotSalted)

    // ---- Scenario 2 (round-13 verdict directive 5): aggregate ON the
    // join key — the shape AQE's OptimizeSkewedJoin cannot split.
    // `orders ⋈ customer GROUP BY custkey`: splitting the join partition
    // would duplicate a key group across tasks and corrupt the per-key
    // aggregate, so AQE validates-and-reverts (ScaleOpsSpec pins the
    // plan-level decline) — with skewJoin ENABLED the hot reducer still
    // carries the whole hot key. hotSaltedJoin levels the join on
    // (key, salt); the per-(key, salt) partial aggregate then folds each
    // granule and the final merge moves `salt` pre-aggregated rows per
    // hot key. THIS is the measured case the chooser contract
    // (ScaleOps.hotSaltedJoin scaladoc) routes to salting.
    def aggOnKeySink(df: DataFrame): Unit =
      Timing.force(df.groupBy("custkey")
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("price_sum")))
    val n2 = aggOnKeyRows(plainJoin)
    require(aggOnKeyRows(hotSaltedJoin) == n2,
      "hot-salted agg-on-key changed the group count")
    val aggPlain = measure(aggOnKeySink(plainJoin))     // AQE skewJoin ON, declines
    val aggHot = measure(aggOnKeySink(hotSaltedJoin))
    report("skew_agg_on_join_key_bench", "groups" -> n2,
      "plain_aqe" -> aggPlain, "hot_salted" -> aggHot)
    spark.stop()
  }

  private def aggOnKeyRows(df: DataFrame): Long =
    df.groupBy("custkey").agg(count(org.apache.spark.sql.functions.lit(1))).count()
}
