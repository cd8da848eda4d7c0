package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.withRule
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the custom expressions are callable from plain SQL.
  * The `graft.plans` rules: each rewrites the plan it is applied to with
  * `withRule`, row-identical to the unrewritten plan. */
class ExtensionsSpec extends AnyFunSuite {

  // master must match SparkSpec's: if this suite runs first, getOrCreate
  // creates the JVM-wide SparkContext every other suite reuses, and the
  // sink retry test needs maxTaskFailures = 2.
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // Suite order in the shared JVM is nondeterministic: if another suite
    // built the singleton first, withExtensions above never ran — register
    // into the existing session instead (idempotent either way).
    GraftExtensions.registerInto(s)
    s
  }

  test("cosine_sim / minhash_sig / simhash_sig / shingle_array resolve in SQL") {
    val row = spark.sql(
      """SELECT
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos_same,
        |  size(minhash_sig(array('a','b','c','d'))) AS mh_len,
        |  simhash_sig(array('x','y')) AS sh,
        |  size(shingle_array(array('a','b','c','d'))) AS n_shingles,
        |  size(minhash_bands(array('a','b','c','d'))) AS n_bands,
        |  size(srp_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)))) AS n_buckets,
        |  size(feature_hash_embed(array('a','b','c'))) AS emb_dims,
        |  cosine_sim(feature_hash_embed(array('a','b','c')),
        |             feature_hash_embed(array('c','b','a'))) AS emb_self
        |""".stripMargin).first()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getInt(1) === 64)
    assert(row.getInt(3) === 2) // "a b c", "b c d"
    assert(row.getInt(4) === 16)
    assert(row.getInt(5) === 4)
    assert(row.getInt(6) === 64)
    // order-independent: same token multiset -> identical vector
    assert(math.abs(row.getDouble(7) - 1.0) < 1e-12)
  }

  test("RangeBinJoinRule rewrites a pure band join to a binned equi-join") {
    import spark.implicits._
    val fact = (0L until 500L).map(i => (i, (i * 7) % 100)).toDF("id", "v")
    val ranges = Seq(
      ("low", 0L, 30L), ("mid", 25L, 60L), ("high", 55L, 99L), ("empty", 200L, 210L))
      .toDF("name", "lo", "hi")
    val cond = col("v") >= col("lo") && col("v") <= col("hi")
    val rule = graft.plans.RangeBinJoinRule(16)
    def run(f: DataFrame => DataFrame) = f(fact.join(ranges, cond))
      .select("id", "v", "name").orderBy("id", "name").collect().toSeq

    val baseline = run(identity) // no rule: nested-loop plan
    val rewritten = withRule(fact.join(ranges, cond), rule)
    val optimized = rewritten.queryExecution.optimizedPlan.toString
    val physical = rewritten.queryExecution.executedPlan.toString
    assert(optimized.contains("_graft_bin"), optimized)
    assert(!physical.contains("NestedLoop") && !physical.contains("Cartesian"), physical)
    assert(run(withRule(_, rule)) === baseline)
  }

  test("AsofJoinRule rewrites join+row_number as-of idiom to the union+window plan") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    val trades = Seq(
      (101L, "A", 10L), (102L, "A", 12L), (103L, "B", 7L), (104L, "A", 1L))
      .toDF("t_id", "sym", "t_ts")
    val quotes = Seq(
      ("A", 5L, 1.0, 1L), ("A", 10L, 2.0, 2L), ("A", 10L, 2.5, 3L),
      ("A", 20L, 3.0, 4L), ("B", 6L, 9.0, 5L))
      .toDF("q_sym", "q_ts", "q_px", "q_id")
    def plan(inner: Boolean, strict: Boolean) = {
      val cond = trades("sym") === quotes("q_sym") &&
        (if (strict) quotes("q_ts") < trades("t_ts")
         else quotes("q_ts") <= trades("t_ts"))
      val j = trades.join(quotes, cond, if (inner) "inner" else "left_outer")
      // ties on q_ts broken by q_id DESC so the pick is deterministic
      val w = W.partitionBy(trades("t_id")).orderBy(quotes("q_ts").desc, quotes("q_id").desc)
      j.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("t_id"), col("t_ts"), col("q_ts"), col("q_px"))
    }
    def run(inner: Boolean, strict: Boolean, rewrite: Boolean) = {
      val p = plan(inner, strict)
      (if (rewrite) withRule(p, graft.plans.AsofJoinRule) else p)
        .orderBy("t_id").collect().toSeq.map(_.toSeq)
    }

    // without the rule: the quadratic plan's answers
    val base = for (i <- Seq(true, false); s <- Seq(true, false)) yield run(i, s, false)
    val d = withRule(plan(inner = true, strict = false), graft.plans.AsofJoinRule)
    val optimized = d.queryExecution.optimizedPlan.toString
    val physical = d.queryExecution.executedPlan.toString
    assert(optimized.contains("_graft_asof"), optimized)
    assert(!physical.contains("Join"), physical) // no pair blow-up remains
    val rewritten = for (i <- Seq(true, false); s <- Seq(true, false)) yield run(i, s, true)
    assert(rewritten === base)
    // spot-check semantics: trade 102 (ts 12) sees the q_id-max quote at
    // ts 10; inclusive trade 101 sees ts-10 too, strict sees ts 5; trade
    // 104 (ts 1) has no earlier quote — dropped inner, null left-outer
    val inclusive = run(inner = true, strict = false, rewrite = true)
    assert(inclusive === Seq(
      Seq(101L, 10L, 10L, 2.5), Seq(102L, 12L, 10L, 2.5), Seq(103L, 7L, 6L, 9.0)))
    val strictOuter = run(inner = false, strict = true, rewrite = true)
    assert(strictOuter === Seq(
      Seq(101L, 10L, 5L, 1.0), Seq(102L, 12L, 10L, 2.5),
      Seq(103L, 7L, 6L, 9.0), Seq(104L, 1L, null, null)))
  }

  test("AsofJoinRule leaves non-as-of window filters alone") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    def opt(df: DataFrame) =
      withRule(df, graft.plans.AsofJoinRule).queryExecution.optimizedPlan.toString
    val l = Seq((1L, "A", 10L)).toDF("t_id", "sym", "t_ts")
    val r = Seq(("A", 5L, 1.0)).toDF("q_sym", "q_ts", "q_px")
    val j = l.join(r, l("sym") === r("q_sym") && r("q_ts") <= l("t_ts"))
    // rn = 2 is not a latest-row pick — no rewrite
    val rn2 = j.withColumn("rn",
        row_number().over(W.partitionBy(l("t_id")).orderBy(r("q_ts").desc)))
      .where(col("rn") === 2)
    assert(!opt(rn2).contains("_graft_asof"))
    // ordered by a LEFT column: not the as-of idiom — no rewrite
    val wrongOrder = j.withColumn("rn",
        row_number().over(W.partitionBy(l("t_id")).orderBy(l("t_ts").desc)))
      .where(col("rn") === 1)
    assert(!opt(wrongOrder).contains("_graft_asof"))
    // and still executes
    assert(withRule(wrongOrder, graft.plans.AsofJoinRule).count() === 1L)
  }

  test("LatestByRule rewrites the rn=1 latest-row window into an argmax aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    // ties (key 1, ts 12) totally ordered by the tag tie-break; key 3 has
    // a null ts losing to a real one (DESC = NULLS LAST); key 4 is ONLY a
    // null-ts row — rn=1 still emits it, so the argmax must too
    val t = Seq(
      (1L, Some(10L), "a", 100.0), (1L, Some(12L), "b", 101.0),
      (1L, Some(12L), "c", 99.0), (2L, Some(7L), "d", 50.0),
      (3L, None, "e", 1.0), (3L, Some(5L), "f", 2.0), (4L, None, "g", 3.0))
      .toDF("k", "ts", "tag", "v")
    def plan(desc: Boolean) = {
      val w =
        if (desc) W.partitionBy(col("k")).orderBy(col("ts").desc, col("tag").desc)
        else W.partitionBy(col("k")).orderBy(col("ts").asc, col("tag").asc)
      t.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("k", "ts", "tag", "v")
    }
    def rewritten(desc: Boolean) = withRule(plan(desc), graft.plans.LatestByRule)
    def rows(df: DataFrame) = df.orderBy("k").collect().toSeq.map(_.toSeq)

    val base = Seq(true, false).map(desc => rows(plan(desc))) // window plan's answers
    val d = rewritten(desc = true)
    val optimized = d.queryExecution.optimizedPlan.toString
    val physical = d.queryExecution.executedPlan.toString
    assert(optimized.contains("_graft_latest"), optimized)
    assert(!physical.contains("Window"), physical) // no per-key sort remains
    assert(Seq(true, false).map(desc => rows(rewritten(desc))) === base)
    // spot-check: desc picks (12,"c") for key 1 (tie broken by tag DESC),
    // "f" for key 3 (null loses), and key 4's null row survives
    assert(rows(rewritten(desc = true)) === Seq(
      Seq(1L, 12L, "c", 99.0), Seq(2L, 7L, "d", 50.0),
      Seq(3L, 5L, "f", 2.0), Seq(4L, null, "g", 3.0)))
    // asc = min_by: null ts WINS (NULLS FIRST) for key 3
    assert(rows(rewritten(desc = false)) === Seq(
      Seq(1L, 10L, "a", 100.0), Seq(2L, 7L, "d", 50.0),
      Seq(3L, null, "e", 1.0), Seq(4L, null, "g", 3.0)))
  }

  test("LatestByRule leaves non-latest-row shapes alone") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    val t = Seq((1L, 10L, "a"), (1L, 12L, "b")).toDF("k", "ts", "tag")
    def ruled(df: DataFrame) = withRule(df, graft.plans.LatestByRule)
    def opt(df: DataFrame) = ruled(df).queryExecution.optimizedPlan.toString
    // mixed directions: struct lexicographic order can't express it
    val mixed = t.withColumn("rn", row_number().over(
        W.partitionBy(col("k")).orderBy(col("ts").desc, col("tag").asc)))
      .where(col("rn") === 1)
    assert(!opt(mixed).contains("_graft_latest"), opt(mixed))
    assert(ruled(mixed).count() === 1L)
    // rn = 2: not a latest-row pick
    val rn2 = t.withColumn("rn", row_number().over(
        W.partitionBy(col("k")).orderBy(col("ts").desc)))
      .where(col("rn") === 2)
    assert(!opt(rn2).contains("_graft_latest"), opt(rn2))
    // non-default null ordering: argmax nulls land the other way
    val nullsFirst = t.withColumn("rn", row_number().over(
        W.partitionBy(col("k")).orderBy(col("ts").desc_nulls_first)))
      .where(col("rn") === 1)
    assert(!opt(nullsFirst).contains("_graft_latest"), opt(nullsFirst))
  }

  test("RangeBinJoinRule leaves equi and same-side-band joins alone") {
    import spark.implicits._
    def ruled(df: DataFrame) = withRule(df, graft.plans.RangeBinJoinRule(16))
    val a = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    val b = Seq((1L, 5L, 15L), (2L, 0L, 3L)).toDF("k", "lo", "hi")
    // equi conjunct present: the join is already shuffle-able — no rewrite
    val equi = a.join(b, a("k") === b("k") && a("v") >= b("lo") && a("v") <= b("hi"))
      .select(a("k"))
    assert(!ruled(equi).queryExecution.optimizedPlan.toString.contains("_graft_bin"))
    assert(ruled(equi).orderBy("k").as[Long].collect().toSeq === Seq(1L))
    // both bounds reference the same side: not a band join — no rewrite
    val sameSide = a.join(b, b("lo") <= b("hi") && a("v") >= b("lo"))
    assert(!ruled(sameSide).queryExecution.optimizedPlan.toString.contains("_graft_bin"))
  }
}
