package graft.fuzz

import java.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Differential query fuzzer: a seeded generator of random
  * filter / projection / aggregate / join compositions over the
  * orders / lineitem / customer tables, where EVERY AST node renders two
  * ways — a Spark `Column`/`DataFrame` plan and the equivalent DuckDB SQL —
  * so the engine can be compared against the oracle on arbitrarily many
  * machine-made queries instead of the fixed hand-written surface
  * (VERDICT r5 item 2: "this tests the engine rather than 77 fixed
  * points"). [[graft.Fuzz]] executes the Spark side and dumps the pairs in
  * the same layout `Verify` uses, so `scripts/check.py` compares them
  * unchanged.
  *
  * Determinism rules (the same cross-engine parity rules the hand-written
  * oracle queries follow — see Tables.dec2/moneySum and the c9_tpch_q1
  * oracle):
  *   - money-typed double sums go through DECIMAL(14,2) on both sides
  *     (order-independent exact accumulation);
  *   - integral-valued doubles (l_quantity) sum exactly as plain doubles;
  *   - BIGINT sums are CAST back to BIGINT in DuckDB (SUM → HUGEINT there);
  *   - year()/length() are CAST to INT in DuckDB (BIGINT there, INT in
  *     Spark);
  *   - LIMIT queries order by a unique key tuple (NULLS FIRST on both
  *     sides) so the cut is total-order deterministic;
  *   - per-row double arithmetic is rendered structurally identically on
  *     both sides — IEEE ops are deterministic, so values match bitwise.
  *
  * The RNG is `java.util.Random` (its LCG is specified by its Javadoc, so
  * a seed pins the exact query list across JVMs — FuzzSpec asserts this).
  */
object QueryGen {

  // ---- table / column model --------------------------------------------

  sealed trait Kind
  case object KLong extends Kind       // BIGINT key column
  case object KInt extends Kind        // INTEGER column
  case object KMoney extends Kind      // double with ≤2 decimals
  case object KIntDouble extends Kind  // integral-valued double
  case object KStr extends Kind
  case object KTs extends Kind
  case object KTsNtz extends Kind // TIMESTAMP_NTZ on the Spark side (events.ts)

  /** Column + the literal pool the generator draws predicates from.
    * Numeric ranges/string pools profiled from the sf0.01 testdata (they
    * are scale-invariant: TPC-H value distributions don't move with SF). */
  final case class FCol(
      name: String,
      kind: Kind,
      numRange: Option[(Long, Long)] = None,  // cents for KMoney
      strPool: Seq[String] = Nil,
      dateRange: Option[(String, String)] = None)

  private val ordersCols = Seq(
    FCol("o_orderkey", KLong, numRange = Some((0L, 14999L))),
    FCol("o_custkey", KLong, numRange = Some((0L, 1499L))),
    FCol("o_orderstatus", KStr, strPool = Seq("F", "O", "P")),
    FCol("o_totalprice", KMoney, numRange = Some((101370L, 49997859L))),
    FCol("o_orderdate", KTs, dateRange = Some(("1995-01-01", "2001-08-01"))),
    FCol("o_orderpriority", KStr, strPool = Seq(
      "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))

  private val lineitemCols = Seq(
    FCol("l_orderkey", KLong, numRange = Some((0L, 14999L))),
    FCol("l_partkey", KLong, numRange = Some((0L, 1999L))),
    FCol("l_suppkey", KLong, numRange = Some((0L, 99L))),
    FCol("l_linenumber", KInt, numRange = Some((1L, 7L))),
    FCol("l_quantity", KIntDouble, numRange = Some((1L, 50L))),
    FCol("l_extendedprice", KMoney, numRange = Some((90182L, 10499788L))),
    FCol("l_discount", KMoney, numRange = Some((0L, 10L))),
    FCol("l_tax", KMoney, numRange = Some((0L, 8L))),
    FCol("l_returnflag", KStr, strPool = Seq("A", "N", "R")),
    FCol("l_linestatus", KStr, strPool = Seq("F", "O")),
    FCol("l_shipdate", KTs, dateRange = Some(("1995-01-02", "2001-11-04"))))

  private val partCols = Seq(
    FCol("p_partkey", KLong, numRange = Some((0L, 1999L))),
    FCol("p_name", KStr, strPool = Nil),
    FCol("p_brand", KStr, strPool =
      (1 to 25).map(i => s"Brand#$i")),
    FCol("p_type", KStr, strPool = Seq(
      "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
    FCol("p_size", KInt, numRange = Some((1L, 50L))),
    FCol("p_retailprice", KMoney, numRange = Some((90000L, 99990L))))

  private val supplierCols = Seq(
    FCol("s_suppkey", KLong, numRange = Some((0L, 99L))),
    FCol("s_name", KStr, strPool = Nil),
    FCol("s_nationkey", KInt, numRange = Some((0L, 24L))),
    FCol("s_acctbal", KMoney, numRange = Some((-82116L, 995616L))))

  private val nationCols = Seq(
    FCol("n_nationkey", KInt, numRange = Some((0L, 24L))),
    FCol("n_name", KStr, strPool = (0 to 24).map(i => s"NATION_$i")),
    FCol("n_regionkey", KInt, numRange = Some((0L, 4L))))

  /** Words the synthetic documents.text corpus is built from (TESTDATA.md)
    * — the LIKE-contains predicate pool. */
  private val textWords = Seq(
    "spark", "table", "window", "hash", "merge", "batch", "scan", "sort")

  private val eventsCols = Seq(
    FCol("event_id", KLong, numRange = Some((0L, 9999L))),
    FCol("ts", KTsNtz, dateRange = Some(("2024-01-02", "2024-01-30"))),
    FCol("user_id", KLong, numRange = Some((0L, 149L))),
    FCol("event_type", KStr, strPool = Seq(
      "click", "error", "purchase", "signup", "view")),
    FCol("value", KMoney, numRange = Some((1L, 49002L))))

  private val documentsCols = Seq(
    FCol("doc_id", KLong, numRange = Some((0L, 499L))),
    FCol("text", KStr, strPool = Nil), // LIKE-contains via textWords
    FCol("lang", KStr, strPool = Seq("de", "en", "es", "fr", "zh")),
    FCol("source", KStr, strPool = (0 to 19).map(i => s"src$i")),
    FCol("n_chars", KLong, numRange = Some((48L, 553L))))

  private val customerCols = Seq(
    FCol("c_custkey", KLong, numRange = Some((0L, 1499L))),
    FCol("c_name", KStr, strPool = Nil), // predicate via LIKE prefix only
    FCol("c_nationkey", KInt, numRange = Some((0L, 24L))),
    FCol("c_acctbal", KMoney, numRange = Some((-99428L, 999741L))),
    FCol("c_mktsegment", KStr, strPool = Seq(
      "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))

  /** A relation the fuzzer can query: base table or a fixed join shape.
    * Join shapes are the semantically meaningful TPC-H joins; the point of
    * the fuzzer is random COMPOSITION (filters × projections × aggregates
    * on top), not random join graphs that would mostly be cross products. */
  final case class FSrc(
      id: String,
      cols: Seq[FCol],
      orderKeys: Seq[String],        // unique tuple → deterministic LIMIT
      sqlFrom: String,
      build: (SparkSession, String) => DataFrame)

  private def orders(s: SparkSession, d: String) = Tables.orders(s, d)
  private def lineitem(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def customer(s: SparkSession, d: String) = Tables.customer(s, d)
  private def part(s: SparkSession, d: String) = Tables.part(s, d)
  private def supplier(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def nation(s: SparkSession, d: String) = Tables.nation(s, d)

  val sources: Seq[FSrc] = Seq(
    FSrc("o", ordersCols, Seq("o_orderkey"), "orders", orders),
    FSrc("l", lineitemCols, Seq("l_orderkey", "l_linenumber"), "lineitem",
      lineitem),
    FSrc("c", customerCols, Seq("c_custkey"), "customer", customer),
    FSrc("p", partCols, Seq("p_partkey"), "part", part),
    FSrc("s", supplierCols, Seq("s_suppkey"), "supplier", supplier),
    FSrc("n", nationCols, Seq("n_nationkey"), "nation", nation),
    FSrc("oc", ordersCols ++ customerCols, Seq("o_orderkey"),
      "orders JOIN customer ON o_custkey = c_custkey",
      (s, d) => orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))),
    FSrc("lo", lineitemCols ++ ordersCols,
      Seq("l_orderkey", "l_linenumber"),
      "lineitem JOIN orders ON l_orderkey = o_orderkey",
      (s, d) => lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))),
    FSrc("loc", lineitemCols ++ ordersCols ++ customerCols,
      Seq("l_orderkey", "l_linenumber"),
      "lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey",
      (s, d) => lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))),
    // LEFT join: ~1/4 of customers have no orders → NULL order columns
    // exercise null handling through filters/aggregates on both engines.
    FSrc("col", customerCols ++ ordersCols, Seq("c_custkey", "o_orderkey"),
      "customer LEFT JOIN orders ON c_custkey = o_custkey",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")),
    FSrc("lp", lineitemCols ++ partCols, Seq("l_orderkey", "l_linenumber"),
      "lineitem JOIN part ON l_partkey = p_partkey",
      (s, d) => lineitem(s, d)
        .join(part(s, d), col("l_partkey") === col("p_partkey"))),
    FSrc("lsn", lineitemCols ++ supplierCols ++ nationCols,
      Seq("l_orderkey", "l_linenumber"),
      "lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey",
      (s, d) => lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))),
    FSrc("sn", supplierCols ++ nationCols, Seq("s_suppkey"),
      "supplier JOIN nation ON s_nationkey = n_nationkey",
      (s, d) => supplier(s, d)
        .join(nation(s, d), col("s_nationkey") === col("n_nationkey"))),
    // FULL OUTER: unmatched rows on BOTH sides → nulls in either half.
    FSrc("cof", customerCols ++ ordersCols, Seq("c_custkey", "o_orderkey"),
      "customer FULL JOIN orders ON c_custkey = o_custkey",
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "full")),
    // events goes through Tables.events (TIMESTAMP(NANOS) → µs NTZ);
    // DuckDB's reader does the same µs truncation, so values agree.
    FSrc("e", eventsCols, Seq("event_id"), "events",
      (s, d) => Tables.events(s, d)),
    FSrc("d", documentsCols, Seq("doc_id"), "documents",
      (s, d) => Tables.documents(s, d)))

  // ---- dual-rendered expression AST ------------------------------------

  /** A predicate rendered for both engines. */
  final case class P(spark: Column, sql: String)
  /** A select-list expression rendered for both engines. */
  final case class E(spark: Column, sql: String)

  private def money(cents: Long): (Double, String) = {
    val bd = java.math.BigDecimal.valueOf(cents, 2)
    (bd.doubleValue, bd.toPlainString)
  }

  // ---- generator -------------------------------------------------------

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  private def numericCols(src: FSrc): Seq[FCol] =
    src.cols.filter(c => c.kind match {
      case KLong | KInt | KMoney | KIntDouble => true; case _ => false
    })

  private def longBetween(r: Random, lo: Long, hi: Long): Long =
    lo + (math.abs(r.nextLong()) % (hi - lo + 1))

  /** Random literal drawn from inside the column's observed range, so
    * predicates are mostly satisfiable (an all-empty fuzz run would test
    * nothing). Returns (sparkLit, sqlLit). */
  private def numLit(r: Random, c: FCol): (Column, String) = {
    val (lo, hi) = c.numRange.get
    c.kind match {
      case KMoney =>
        val (d, s) = money(longBetween(r, lo, hi))
        (lit(d), s)
      case KInt =>
        // Int literal, not Long: lit(Long) would widen Spark's INT
        // arithmetic to BIGINT while DuckDB stays INTEGER
        val v = longBetween(r, lo, hi)
        (lit(v.toInt), v.toString)
      case _ =>
        val v = longBetween(r, lo, hi)
        (lit(v), v.toString)
    }
  }

  private val cmpOps = Seq(
    ("<", (a: Column, b: Column) => a < b),
    ("<=", (a: Column, b: Column) => a <= b),
    (">", (a: Column, b: Column) => a > b),
    (">=", (a: Column, b: Column) => a >= b))

  private def leafPred(r: Random, src: FSrc): P = {
    val candidates = src.cols.filter(c =>
      c.numRange.isDefined || c.strPool.nonEmpty || c.dateRange.isDefined ||
        c.name == "c_name" || c.name == "text")
    val c = pick(r, candidates)
    c.kind match {
      case KStr if c.name == "c_name" =>
        // LIKE prefix over the Customer#000000NNN pattern
        val prefix = f"Customer#00000${r.nextInt(10)}%d"
        P(col(c.name).like(prefix + "%"), s"${c.name} LIKE '$prefix%'")
      case KStr if c.name == "text" =>
        // contains-LIKE over the synthetic corpus word pool
        val w = pick(r, textWords)
        P(col(c.name).like(s"%$w%"), s"${c.name} LIKE '%$w%'")
      case KStr =>
        r.nextInt(3) match {
          case 0 =>
            val v = pick(r, c.strPool)
            P(col(c.name) === lit(v), s"${c.name} = '$v'")
          case 1 =>
            val v = pick(r, c.strPool)
            P(col(c.name) =!= lit(v), s"${c.name} <> '$v'")
          case _ =>
            val k = 1 + r.nextInt(math.min(3, c.strPool.size))
            // sample without replacement, preserving pool order for a
            // stable render
            val vs = r.shuffle1(c.strPool, k)
            P(col(c.name).isin(vs: _*),
              s"${c.name} IN (${vs.map(v => s"'$v'").mkString(", ")})")
        }
      case KTs | KTsNtz =>
        // literal type must match the column (NTZ vs TZ — Spark does not
        // implicitly mix them); session tz is UTC so wall-clock values are
        // identical and DuckDB's naive TIMESTAMP literal serves both
        val tsType: DataType =
          if (c.kind == KTsNtz) TimestampNTZType else TimestampType
        val (lo, hi) = c.dateRange.get
        val d = randDate(r, lo, hi)
        if (r.nextBoolean()) {
          val (opS, opF) = pick(r, cmpOps)
          P(opF(col(c.name), lit(d).cast(tsType)),
            s"${c.name} $opS TIMESTAMP '$d 00:00:00'")
        } else {
          val d2 = randDate(r, lo, hi)
          val (a, b) = if (d <= d2) (d, d2) else (d2, d)
          P(col(c.name) >= lit(a).cast(tsType) &&
              col(c.name) <= lit(b).cast(tsType),
            s"(${c.name} >= TIMESTAMP '$a 00:00:00' AND " +
              s"${c.name} <= TIMESTAMP '$b 00:00:00')")
        }
      case _ => // numeric
        r.nextInt(4) match {
          case 0 =>
            val (lv, ls) = numLit(r, c)
            val (hv, hs) = numLit(r, c)
            // render as an explicit >= AND <= pair (identical to BETWEEN)
            val (loL, loS, hiL, hiS) =
              if (ls.toDouble <= hs.toDouble) (lv, ls, hv, hs)
              else (hv, hs, lv, ls)
            P(col(c.name) >= loL && col(c.name) <= hiL,
              s"(${c.name} >= $loS AND ${c.name} <= $hiS)")
          case 1 if c.kind == KLong || c.kind == KInt =>
            val (v, s) = numLit(r, c)
            P(col(c.name) === v, s"${c.name} = $s")
          case _ =>
            val (opS, opF) = pick(r, cmpOps)
            val (v, s) = numLit(r, c)
            P(opF(col(c.name), v), s"${c.name} $opS $s")
        }
    }
  }

  /** Sample k distinct elements, order-stable. (Tiny extension method on
    * Random so leafPred reads cleanly.) */
  implicit private class RandomOps(val r: Random) {
    def shuffle1(xs: Seq[String], k: Int): Seq[String] = {
      val idx = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (idx.size < k) idx += r.nextInt(xs.size)
      idx.toSeq.sorted.map(xs)
    }
  }

  private def randDate(r: Random, lo: String, hi: String): String = {
    val l = java.time.LocalDate.parse(lo).toEpochDay
    val h = java.time.LocalDate.parse(hi).toEpochDay
    java.time.LocalDate.ofEpochDay(longBetween(r, l, h)).toString
  }

  /** 0–3 leaf predicates combined with AND/OR (fully parenthesized on the
    * SQL side so the structure is unambiguous). */
  private def genPred(r: Random, src: FSrc): Option[P] =
    r.nextInt(10) match {
      case 0 | 1 => None // no filter
      case 2 | 3 | 4 | 5 =>
        Some(leafPred(r, src))
      case 6 | 7 =>
        val (a, b) = (leafPred(r, src), leafPred(r, src))
        if (r.nextBoolean())
          Some(P(a.spark && b.spark, s"(${a.sql}) AND (${b.sql})"))
        else Some(P(a.spark || b.spark, s"(${a.sql}) OR (${b.sql})"))
      case 8 =>
        val (a, b, c) = (leafPred(r, src), leafPred(r, src), leafPred(r, src))
        Some(P((a.spark && b.spark) || c.spark,
          s"((${a.sql}) AND (${b.sql})) OR (${c.sql})"))
      case _ =>
        val a = leafPred(r, src)
        Some(P(!a.spark, s"NOT (${a.sql})"))
    }

  // ---- projection queries ---------------------------------------------

  /** Per-row derived expression over the source's numeric columns.
    * Structure is mirrored exactly in SQL: IEEE double arithmetic is
    * deterministic, so per-row values match bitwise across engines. */
  private def derivedExpr(r: Random, src: FSrc): E = {
    val nums = numericCols(src)
    val a = pick(r, nums)
    r.nextInt(8) match {
      case 7 if a.kind == KInt || a.kind == KLong =>
        // NULLIF plants genuine NULLs (the base tables have none), so the
        // null-propagation semantics of projection/ORDER BY/compare get
        // differential coverage; ~1/m of rows go null
        val m = 5 + r.nextInt(16)
        val k = r.nextInt(m)
        E(when(col(a.name) % m === k, lit(null)).otherwise(col(a.name) % m),
          s"NULLIF(${a.name} % $m, $k)")
      case 5 => // CASE WHEN over a numeric comparison
        val (v, s) = numLit(r, a)
        E(when(col(a.name) > v, lit("hi")).otherwise(lit("lo")),
          s"CASE WHEN ${a.name} > $s THEN 'hi' ELSE 'lo' END")
      case 6 => // COALESCE (exercises NULLs from the left-join source)
        val (fb, fbSql): (Column, String) = a.kind match {
          case KMoney | KIntDouble => (lit(-1.0), "-1.0")
          case KInt => (lit(-1), "-1")
          case _ => (lit(-1L), "-1")
        }
        E(coalesce(col(a.name), fb), s"COALESCE(${a.name}, $fbSql)")
      case 0 =>
        val b = pick(r, nums)
        E(col(a.name) + col(b.name), s"${a.name} + ${b.name}")
      case 1 =>
        val b = pick(r, nums)
        E(col(a.name) * col(b.name), s"${a.name} * ${b.name}")
      case 2 =>
        val (v, s) = numLit(r, a)
        E(col(a.name) - v, s"${a.name} - $s")
      case 3 if a.kind == KLong || a.kind == KInt =>
        val m = 7 + r.nextInt(91)
        E(col(a.name) % m, s"${a.name} % $m")
      case _ =>
        // divisor must be strictly positive: quantity ≥ 1, prices > 900
        val posDiv = nums.filter(c =>
          Set("l_quantity", "l_extendedprice", "o_totalprice")(c.name))
        if (posDiv.nonEmpty) {
          val b = pick(r, posDiv)
          E(col(a.name) / col(b.name), s"${a.name} / ${b.name}")
        } else {
          val m = 3 + r.nextInt(97)
          E(col(a.name) / m, s"${a.name} / $m")
        }
    }
  }

  /** Derived string expression (upper / substr / length). */
  private def strExpr(r: Random, src: FSrc): Option[E] = {
    val strs = src.cols.filter(_.kind == KStr)
    if (strs.isEmpty) None
    else {
      val c = pick(r, strs)
      Some(r.nextInt(4) match {
        case 0 => E(upper(col(c.name)), s"upper(${c.name})")
        case 1 =>
          val k = 1 + r.nextInt(6)
          E(substring(col(c.name), 1, k), s"substr(${c.name}, 1, $k)")
        case 2 =>
          // || not concat(): DuckDB's concat() IGNORES nulls while Spark's
          // concat returns null — || is null-propagating on both engines
          val c2 = pick(r, strs)
          E(concat(col(c.name), lit("_"), col(c2.name)),
            s"${c.name} || '_' || ${c2.name}")
        case _ =>
          // Spark length → INT, DuckDB length → BIGINT: cast oracle side
          E(length(col(c.name)), s"CAST(length(${c.name}) AS INT)")
      })
    }
  }

  private def projQuery(r: Random, src: FSrc): (Seq[(String, E)], Int) = {
    val nCols = 1 + r.nextInt(4)
    val base = (0 until nCols).map(_ => pick(r, src.cols)).distinct
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, E)]
    base.zipWithIndex.foreach { case (c, i) =>
      sel += (s"p$i" -> E(col(c.name), c.name))
    }
    if (r.nextInt(3) > 0) sel += (s"d0" -> derivedExpr(r, src))
    if (r.nextInt(3) == 0) strExpr(r, src).foreach(e => sel += (s"d1" -> e))
    // order keys appended so ORDER BY can reference projected aliases on
    // both sides (Spark can't order by a column dropped by the select)
    src.orderKeys.zipWithIndex.foreach { case (k, i) =>
      sel += (s"ok$i" -> E(col(k), k))
    }
    val limit = 50 + r.nextInt(151)
    (sel.toSeq, limit)
  }

  // ---- aggregate queries ----------------------------------------------

  /** (alias → dual-rendered aggregate) over a random column. */
  private def aggExpr(r: Random, src: FSrc, alias: String): E = {
    val c = pick(r, src.cols)
    def minMax(): E = {
      if (r.nextBoolean()) E(min(col(c.name)).as(alias),
        s"min(${c.name}) AS $alias")
      else E(max(col(c.name)).as(alias), s"max(${c.name}) AS $alias")
    }
    // exact interpolated quantile: Spark percentile and DuckDB
    // quantile_cont share the (n-1)·p linear-interpolation convention,
    // but not the FORMULA — Spark computes a + f·(b−a), DuckDB
    // (1−f)·a + f·b, which differ by an ulp even when a = b (caught by
    // seed-1337 fuzzing: an equality predicate made every group value 47
    // and DuckDB returned 47.00000000000001). Pin both to a 1e-6 grid.
    def quantile(): E = {
      val p = pick(r, Seq("0.1", "0.25", "0.5", "0.75", "0.9"))
      E(round(percentile(col(c.name), lit(p.toDouble)), 6).as(alias),
        s"round(quantile_cont(${c.name}, $p), 6) AS $alias")
    }
    c.kind match {
      case KLong | KInt =>
        r.nextInt(6) match {
          case 0 => minMax()
          case 1 => E(countDistinct(col(c.name)).as(alias),
            s"count(DISTINCT ${c.name}) AS $alias")
          case 2 => quantile()
          case 4 =>
            // null-skipping SUM: NULLIF plants NULLs inside the aggregate
            // input, so both engines must agree that sum ignores them (and
            // that an all-null group sums to NULL, not 0)
            val m = 5 + r.nextInt(16)
            val k = r.nextInt(m)
            E(sum(when(col(c.name) % m === k, lit(null))
                .otherwise(col(c.name) % m)).as(alias),
              s"CAST(sum(NULLIF(${c.name} % $m, $k)) AS BIGINT) AS $alias")
          case 5 =>
            // COUNT(expr) counts only non-null inputs, unlike COUNT(*)
            val m = 5 + r.nextInt(16)
            val k = r.nextInt(m)
            E(count(when(col(c.name) % m === k, lit(null))
                .otherwise(col(c.name))).as(alias),
              s"count(NULLIF(${c.name} % $m, $k)) AS $alias")
          case _ => E(sum(col(c.name)).as(alias),
            s"CAST(sum(${c.name}) AS BIGINT) AS $alias")
        }
      case KIntDouble =>
        r.nextInt(4) match {
          case 0 => minMax()
          case 1 => quantile()
          case _ => E(sum(col(c.name)).as(alias),
            s"sum(${c.name}) AS $alias")
        }
      case KMoney =>
        // ≤10-cent columns (discount/tax rates) pair with a price column
        // for the c9-style exact discounted sum
        val small = src.cols.filter(x =>
          x.kind == KMoney && x.numRange.exists(_._2 <= 10))
        r.nextInt(5) match {
          case 4 if small.nonEmpty =>
            val b = pick(r, small)
            E(sum(col(c.name).cast(DecimalType(12, 2)) *
                (lit("1.00").cast(DecimalType(3, 2)) -
                  col(b.name).cast(DecimalType(4, 2))))
                .cast(DoubleType).as(alias),
              s"CAST(sum(CAST(${c.name} AS DECIMAL(12,2)) * " +
                s"(CAST(1.00 AS DECIMAL(3,2)) - " +
                s"CAST(${b.name} AS DECIMAL(4,2)))) AS DOUBLE) AS $alias")
          case 0 => minMax()
          case 3 => quantile()
          case 1 =>
            // exact mean: DECIMAL sum ÷ count, identical division both sides
            E((sum(col(c.name).cast(DecimalType(14, 2))).cast(DoubleType) /
                count(lit(1))).as(alias),
              s"CAST(sum(CAST(${c.name} AS DECIMAL(14,2))) AS DOUBLE) " +
                s"/ count(*) AS $alias")
          case _ =>
            E(sum(col(c.name).cast(DecimalType(14, 2))).cast(DoubleType)
                .as(alias),
              s"CAST(sum(CAST(${c.name} AS DECIMAL(14,2))) AS DOUBLE) " +
                s"AS $alias")
        }
      case KStr | KTs | KTsNtz =>
        if (r.nextInt(3) == 0)
          E(countDistinct(col(c.name)).as(alias),
            s"count(DISTINCT ${c.name}) AS $alias")
        else minMax()
    }
  }

  /** Random group key, UNALIASED (spark, sql) — a low-cardinality column
    * or a date part. Callers alias it for the select list; window queries
    * use the raw form in the OVER clause. */
  private def groupKeyRaw(r: Random, src: FSrc): Option[(Column, String)] = {
    val lowCard = src.cols.filter(c =>
      c.kind == KStr && c.strPool.nonEmpty ||
        (c.kind == KInt && c.numRange.exists { case (lo, hi) => hi - lo < 40 }))
    val tsCols = src.cols.filter(c => c.kind == KTs || c.kind == KTsNtz)
    val choices = r.nextInt(3)
    if (choices < 2 && lowCard.nonEmpty) {
      val c = pick(r, lowCard)
      Some((col(c.name), c.name))
    } else if (tsCols.nonEmpty) {
      val c = pick(r, tsCols)
      r.nextInt(3) match {
        case 0 => Some((year(col(c.name)), s"CAST(year(${c.name}) AS INT)"))
        case 1 => Some((month(col(c.name)), s"CAST(month(${c.name}) AS INT)"))
        case _ => Some((date_trunc("month", col(c.name)),
          s"date_trunc('month', ${c.name})"))
      }
    } else if (lowCard.nonEmpty) {
      val c = pick(r, lowCard)
      Some((col(c.name), c.name))
    } else None
  }

  // ---- semi/anti, set-op, window shapes --------------------------------

  private val baseById: Map[String, FSrc] =
    sources.filter(_.id.length == 1).map(s => s.id -> s).toMap

  /** (outer, inner, outerKey, innerKey) pairs for correlated
    * EXISTS / NOT EXISTS — the FK edges of the schema. */
  private val semiPairs = Seq(
    ("c", "o", "c_custkey", "o_custkey"),
    ("o", "l", "o_orderkey", "l_orderkey"),
    ("o", "c", "o_custkey", "c_custkey"),
    ("l", "o", "l_orderkey", "o_orderkey"),
    ("p", "l", "p_partkey", "l_partkey"),
    ("s", "l", "s_suppkey", "l_suppkey"),
    ("l", "p", "l_partkey", "p_partkey"),
    ("n", "s", "n_nationkey", "s_nationkey"))

  /** Correlated EXISTS (left-semi) / NOT EXISTS (left-anti) with an
    * optional predicate on each side. Spark renders the relational form;
    * DuckDB the correlated-subquery form — same semantics, very different
    * plans, which is exactly what a differential test wants. */
  private def semiAntiQuery(r: Random, name: String): FuzzQuery = {
    val (oId, iId, oKey, iKey) = pick(r, semiPairs)
    val (outer, inner) = (baseById(oId), baseById(iId))
    val anti = r.nextBoolean()
    val outerPred = if (r.nextInt(3) == 0) Some(leafPred(r, outer)) else None
    val innerPred = if (r.nextInt(10) < 7) Some(leafPred(r, inner)) else None
    val nCols = 1 + r.nextInt(3)
    val ps = (0 until nCols).map(_ => pick(r, outer.cols)).distinct
    val sel = ps.zipWithIndex.map { case (c, i) => (s"p$i", c.name) } ++
      outer.orderKeys.zipWithIndex.map { case (k, i) => (s"ok$i", k) }
    val limit = 100 + r.nextInt(101)
    val existsKw = if (anti) "NOT EXISTS" else "EXISTS"
    val innerWhere = innerPred.map(p => s" AND (${p.sql})").getOrElse("")
    val outerWhere = outerPred.map(p => s"(${p.sql}) AND ").getOrElse("")
    val selSql = sel.map { case (a, c) => s"$c AS $a" }.mkString(", ")
    val orderSql = sel.map(a => s"${a._1} NULLS FIRST").mkString(", ")
    val sql =
      s"SELECT $selSql FROM ${outer.sqlFrom} WHERE $outerWhere$existsKw " +
        s"(SELECT 1 FROM ${inner.sqlFrom} WHERE $iKey = $oKey$innerWhere) " +
        s"ORDER BY $orderSql LIMIT $limit"
    FuzzQuery(name, sql, (s, d) => {
      val o0 = outer.build(s, d)
      val o1 = outerPred.map(p => o0.where(p.spark)).getOrElse(o0)
      val i0 = inner.build(s, d)
      val i1 = innerPred.map(p => i0.where(p.spark)).getOrElse(i0)
      o1.join(i1, col(oKey) === col(iKey),
          if (anti) "left_anti" else "left_semi")
        .select(sel.map { case (a, c) => col(c).as(a) }: _*)
        .orderBy(sel.map(a => col(a._1).asc_nulls_first): _*)
        .limit(limit)
    })
  }

  /** UNION / INTERSECT / EXCEPT (set semantics on both engines) of two
    * independently filtered low-cardinality projections of one source. */
  private def setOpQuery(r: Random, name: String): FuzzQuery = {
    val src = pick(r, sources)
    val lowCard = src.cols.filter(c => c.kind == KStr && c.strPool.nonEmpty)
    if (lowCard.isEmpty) return fallbackCount(name, src, None, "")
    val nk = 1 + r.nextInt(math.min(2, lowCard.size))
    val cs = r.shuffle1(lowCard.map(_.name), nk)
    val (p1, p2) = (leafPred(r, src), leafPred(r, src))
    val op = pick(r,
      Seq("UNION", "INTERSECT", "EXCEPT", "INTERSECT ALL", "EXCEPT ALL"))
    val selSql = cs.zipWithIndex.map { case (c, j) => s"$c AS p$j" }
      .mkString(", ")
    val sql =
      s"SELECT $selSql FROM ${src.sqlFrom} WHERE ${p1.sql} $op " +
        s"SELECT $selSql FROM ${src.sqlFrom} WHERE ${p2.sql}"
    FuzzQuery(name, sql, (s, d) => {
      def side(p: P) = src.build(s, d).where(p.spark)
        .select(cs.zipWithIndex.map { case (c, j) => col(c).as(s"p$j") }: _*)
      val (a, b) = (side(p1), side(p2))
      op match {
        case "UNION" => a.union(b).distinct()
        case "INTERSECT" => a.intersect(b)
        case "EXCEPT" => a.except(b)
        case "INTERSECT ALL" => a.intersectAll(b)
        case _ => a.exceptAll(b)
      }
    })
  }

  /** Windowed top-k per group: row_number over (partition by a low-card
    * key, order by EVERY projected column) — ties are then identical
    * output rows, so the rn ≤ k cut is a deterministic multiset for the
    * same reason the projection LIMIT is. */
  private def windowQuery(r: Random, name: String): FuzzQuery = {
    val src = pick(r, sources)
    val pred = genPred(r, src)
    val where = pred.map(p => s" WHERE ${p.sql}").getOrElse("")
    groupKeyRaw(r, src) match {
      case None => fallbackCount(name, src, pred, where)
      case Some((gRaw, gSql)) =>
        val nCols = 1 + r.nextInt(3)
        val ps = ((0 until nCols).map(_ => pick(r, src.cols)) ++
          src.orderKeys.map(k => src.cols.find(_.name == k).get)).distinct
        val sel = ps.zipWithIndex.map { case (c, i) => (s"p$i", c.name) }
        // a third of the draws become rn <= 1 latest-row picks with
        // LatestByRule applied (drawn HERE, not in the run lambda — see
        // asofQuery). Bare-column keys only: the rule's conservative
        // match wants attribute partition specs. Each latest draw then
        // draws a direction REGIME so the rule's guard conditions are
        // differentially tested, not just unit-pinned (round-13 verdict
        // directive 6):
        //   0 all-ASC  → min_by (earliest row)  — rewrite MUST fire
        //   1 all-DESC → max_by (latest row)    — rewrite MUST fire
        //   2 MIXED directions — the guard must DECLINE (a lexicographic
        //     struct argmax cannot express mixed per-column directions);
        //     the window plan must run unrewritten and still match the
        //     oracle. Degrades to regime 1 when only one order column
        //     exists (mixed needs two).
        // Corpus-pin visibility: fired draws are named *_lrw, declined
        // draws *_lrg — sweeps count both in the fuzz summary.
        val latestDraw = r.nextInt(3) == 0 && gSql.matches("[a-z_][a-z_0-9]*")
        val regime = if (!latestDraw) -1 else r.nextInt(3)
        val dirs: Seq[Boolean] = regime match { // true = DESC
          case 0 => Seq.fill(sel.size)(false)
          case 1 => Seq.fill(sel.size)(true)
          case 2 if sel.size >= 2 =>
            Seq(false, true) ++ Seq.fill(sel.size - 2)(r.nextBoolean())
          case 2 => Seq.fill(sel.size)(true)
          case _ => Seq.fill(sel.size)(false) // top-k draws stay all-ASC
        }
        val mixed = dirs.distinct.size > 1
        val qname =
          if (!latestDraw) name else if (mixed) s"${name}_lrg" else s"${name}_lrw"
        val k = if (latestDraw) 1 else 2 + r.nextInt(4)
        // explicit null ordering on BOTH engines: Spark's defaults
        // (ASC NULLS FIRST / DESC NULLS LAST) are not DuckDB's
        val orderSql = sel.zip(dirs).map {
          case ((_, c), desc) =>
            if (desc) s"$c DESC NULLS LAST" else s"$c NULLS FIRST"
        }.mkString(", ")
        val selSql = sel.map { case (a, c) => s"$c AS $a" }.mkString(", ")
        val sql =
          s"SELECT * FROM (SELECT $selSql, $gSql AS k0, " +
            s"CAST(row_number() OVER (PARTITION BY $gSql " +
            s"ORDER BY $orderSql) AS INT) AS rn " +
            s"FROM ${src.sqlFrom}$where) WHERE rn <= $k"
        FuzzQuery(qname, sql, (s, d) => {
          import org.apache.spark.sql.expressions.Window
          val df0 = src.build(s, d)
          val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
          val w = Window.partitionBy(gRaw)
            .orderBy(sel.zip(dirs).map { case ((_, c), desc) =>
              if (desc) col(c).desc_nulls_last else col(c).asc_nulls_first
            }: _*)
          val top = df1.select(sel.map { case (a, c) => col(c).as(a) } ++
              Seq(gRaw.as("k0"), row_number().over(w).as("rn")): _*)
            .where(col("rn") <= k)
          if (!latestDraw) top
          else {
            val out = org.apache.spark.sql.GraftBridge.withRule(top, graft.plans.LatestByRule)
            val rewritten = out.queryExecution.optimizedPlan.toString
              .contains("_graft_latest")
            if (mixed) require(!rewritten,
              s"$qname: mixed-direction draw was rewritten — guard breach")
            else require(rewritten,
              s"$qname: latest-row draw did not route through LatestByRule")
            out
          }
        })
    }
  }

  /** Windowed interpolated quantile over a bounded ROWS frame (the
    * c12_rolling_median shape under random geometry): random numeric
    * column, random frame depth, random f ∈ {0.25, 0.5, 0.75}, snapped to
    * the 1e-6 grid on both engines (percentile's a + f·(b−a) vs
    * quantile_cont's (1−f)·a + f·b, one ulp apart). Frame contents are
    * deterministic because the ORDER BY covers the source's key tuple AND
    * the measured value: any residual ties are value-identical, so every
    * frame sees the same multiset and the output multiset is pinned. */
  private def windowMedianQuery(r: Random, name: String): FuzzQuery = {
    val src = pick(r, sources)
    val pred = genPred(r, src)
    val where = pred.map(p => s" WHERE ${p.sql}").getOrElse("")
    val numeric = src.cols.filter(c =>
      c.kind == KLong || c.kind == KInt || c.kind == KMoney || c.kind == KIntDouble)
    groupKeyRaw(r, src) match {
      case Some((gRaw, gSql)) if numeric.nonEmpty =>
        val v = pick(r, numeric)
        val k = 2 + r.nextInt(5)
        val f = pick(r, Seq("0.25", "0.5", "0.75"))
        val oks = src.orderKeys.zipWithIndex.map { case (c, i) => (s"ok$i", c) }
        val selSql = (oks.map { case (a, c) => s"$c AS $a" } :+
          s"CAST(${v.name} AS DOUBLE) AS v").mkString(", ")
        val orderSql = (oks.map(_._1) :+ "v").map(a => s"$a NULLS FIRST").mkString(", ")
        val sql =
          s"SELECT k0, ${oks.map(_._1).mkString(", ")}, v, " +
            s"round(quantile_cont(v, $f) OVER (PARTITION BY k0 ORDER BY $orderSql " +
            s"ROWS BETWEEN $k PRECEDING AND CURRENT ROW), 6) AS med " +
            s"FROM (SELECT $gSql AS k0, $selSql FROM ${src.sqlFrom}$where) t"
        FuzzQuery(name, sql, (s, d) => {
          import org.apache.spark.sql.expressions.Window
          val df0 = src.build(s, d)
          val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
          val proj = df1.select(gRaw.as("k0") +:
            (oks.map { case (a, c) => col(c).as(a) } :+
              col(v.name).cast("double").as("v")): _*)
          val w = Window.partitionBy(col("k0"))
            .orderBy((oks.map(_._1) :+ "v").map(a => col(a).asc_nulls_first): _*)
            .rowsBetween(-k, Window.currentRow)
          proj.select(col("k0") +: (oks.map(a => col(a._1)) :+ col("v") :+
            round(percentile(col("v"), lit(f.toDouble)).over(w), 6).as("med")): _*)
        })
      case _ => fallbackCount(name, src, pred, where)
    }
  }

  /** As-of join over the events table: for each left-type event, the
    * latest right-type event of the same user at-or-before its timestamp.
    * Exercises the library's ScaleOps.asofJoin operator (union + window)
    * against DuckDB's inequality-join + max_by formulation — radically
    * different plans, same semantics. Deterministic because
    * (user_id, event_type, ts) is unique in the testdata (verified at
    * sf0.01 and sf0.1). */
  private def asofQuery(r: Random, name: String): FuzzQuery = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val lt = pick(r, types)
    val rt = pick(r, types.filterNot(_ == lt))
    val eventsSrc = sources.find(_.id == "e").get
    val rightPred = if (r.nextInt(2) == 0) Some(leafPred(r, eventsSrc)) else None
    val rightWhere = rightPred.map(p => s" AND (${p.sql})").getOrElse("")
    // all four as-of semantics: backward/forward × inclusive/strict —
    // backward runs the operator directly, forward runs the SAME operator
    // on negated epoch micros (the c8_asof_forward construction)
    val strict = r.nextInt(2) == 0
    val forward = r.nextInt(2) == 0
    val cmp = (forward, strict) match {
      case (false, false) => "<="
      case (false, true) => "<"
      case (true, false) => ">="
      case (true, true) => ">"
    }
    val (aggBy, agg) = if (forward) ("min_by", "min") else ("max_by", "max")
    // drawn HERE, not in the run lambda: the lambda executes after
    // generation, and touching `r` there would perturb later draws
    val viaRewrite = !forward && r.nextInt(2) == 0
    val sql =
      s"SELECT p.event_id AS p_id, p.user_id AS k, p.ts AS p_ts, " +
        s"$aggBy(c.event_id, c.ts) AS last_id, $agg(c.ts) AS last_ts " +
        s"FROM (SELECT * FROM events WHERE event_type = '$lt') p " +
        s"LEFT JOIN (SELECT * FROM events WHERE event_type = '$rt'$rightWhere) c " +
        s"ON c.user_id = p.user_id AND c.ts $cmp p.ts " +
        s"GROUP BY 1, 2, 3"
    FuzzQuery(name, sql, (s, d) => {
      val ev = Tables.events(s, d)
      val right0 = ev.where(col("event_type") === rt)
      val rightDf0 = rightPred.map(p => right0.where(p.spark)).getOrElse(right0)
      if (!forward) {
        val leftDf = ev.where(col("event_type") === lt)
          .select(col("user_id"), col("ts"), col("event_id").as("p_id"))
        // half the backward draws run the DECLARATIVE idiom (join +
        // row_number + rn=1) through AsofJoinRule instead of calling the
        // operator — the rewrite path stays fuzz-covered end-to-end. The
        // require fails loudly if routing silently stops rewriting.
        if (viaRewrite) {
          val rightDf = rightDf0.select(col("user_id").as("r_uid"),
            col("ts").as("r_ts"), col("event_id").as("r_id"))
          val cmp =
            if (strict) rightDf("r_ts") < leftDf("ts")
            else rightDf("r_ts") <= leftDf("ts")
          val j = leftDf.join(rightDf,
            leftDf("user_id") === rightDf("r_uid") && cmp, "left_outer")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(leftDf("p_id")).orderBy(rightDf("r_ts").desc)
          // p_id is the left table's unique key: the rule's soundness
          // contract, so this plan may take the rewrite
          val out = org.apache.spark.sql.GraftBridge.withRule(
            j.withColumn("rn", row_number().over(w))
              .where(col("rn") === 1)
              .select(col("p_id"), col("user_id").as("k"), col("ts").as("p_ts"),
                col("r_id").as("last_id"), col("r_ts").as("last_ts")),
            graft.plans.AsofJoinRule)
          require(out.queryExecution.optimizedPlan.toString.contains("_graft_asof"),
            s"$name: declarative as-of draw did not route through AsofJoinRule")
          out
        } else
        graft.operators.ScaleOps.asofJoin(leftDf, rightDf0, "user_id", "ts",
          Seq("event_id" -> "last_id", "ts" -> "last_ts"), strict = strict)
          .select(col("p_id"), col("user_id").as("k"), col("ts").as("p_ts"),
            col("last_id"), col("last_ts"))
      } else {
        val neg = -unix_micros(col("ts").cast(TimestampType))
        val leftDf = ev.where(col("event_type") === lt)
          .select(col("user_id"), neg.as("ts_neg"),
            col("event_id").as("p_id"), col("ts").as("p_ts"))
        val rightDf = rightDf0.select(col("user_id"), neg.as("ts_neg"),
          col("event_id"), col("ts"))
        graft.operators.ScaleOps.asofJoin(leftDf, rightDf, "user_id", "ts_neg",
          Seq("event_id" -> "last_id", "ts" -> "last_ts"), strict = strict)
          .select(col("p_id"), col("user_id").as("k"), col("p_ts"),
            col("last_id"), col("last_ts"))
      }
    })
  }

  /** Binned range join over synthesized interval tables: random range
    * count / stride / width AND a random bin width. The oracle is the
    * plain inequality join, which does not mention bins at all — the
    * property under test is that ScaleOps.rangeBinJoin's result is
    * INDEPENDENT of binWidth (covering-bin enumeration and the
    * hi-on-bin-edge exclusive case included). */
  private def rangeQuery(r: Random, name: String): FuzzQuery = {
    val n = 100 + r.nextInt(201)
    val stride = pick(r, Seq(100.0, 250.0, 500.0, 1000.0))
    val width = stride * pick(r, Seq(0.5, 1.0, 1.5, 2.0))
    val binWidth = pick(r, Seq(50.0, 125.0, 250.0, 333.0, 500.0))
    def fmtD(d: Double) = if (d == d.floor) f"$d%.1f" else d.toString
    val sql =
      s"SELECT range_id, count(*) AS a0, " +
        s"min(l_extendedprice) AS a1, max(l_extendedprice) AS a2 " +
        s"FROM lineitem JOIN (" +
        s"SELECT i AS range_id, i * ${fmtD(stride)} AS lo, " +
        s"i * ${fmtD(stride)} + ${fmtD(width)} AS hi " +
        s"FROM range(0, $n) t(i)) r " +
        s"ON l_extendedprice >= lo AND l_extendedprice < hi " +
        s"GROUP BY range_id"
    // half the draws go through the explicit operator, half through the
    // declarative band join + RangeBinJoinRule(binWidth) rewrite — both
    // against the same binless oracle
    val viaRule = r.nextBoolean()
    FuzzQuery(name, sql, (s, d) => {
      val ranges = s.range(0, n).select(
        col("id").as("range_id"),
        (col("id") * stride).as("lo"),
        (col("id") * stride + width).as("hi"))
      val joined = if (viaRule) {
        val binned = org.apache.spark.sql.GraftBridge.withRule(
          Tables.lineitem(s, d).join(ranges,
            col("l_extendedprice") >= col("lo") &&
              col("l_extendedprice") < col("hi")),
          graft.plans.RangeBinJoinRule(binWidth))
        require(binned.queryExecution.optimizedPlan.toString.contains("_graft_bin"),
          s"$name: declarative band join did not route through RangeBinJoinRule")
        binned
      } else graft.operators.ScaleOps.rangeBinJoin(
        Tables.lineitem(s, d), ranges, "l_extendedprice", "lo", "hi",
        binWidth)
      joined
        .groupBy("range_id")
        .agg(count(lit(1)).as("a0"),
          min(col("l_extendedprice")).as("a1"),
          max(col("l_extendedprice")).as("a2"))
    })
  }

  /** Interval-overlap join over derived maintenance windows vs the binless
    * overlap theta-join oracle: random window count / stride / length,
    * random lineitem interval length, AND a random bin width — the
    * property under test is that ScaleOps.intervalBinJoin's result is
    * INDEPENDENT of binWidth (covering-bin enumeration, exactly-once
    * overlap-start-bin matching, inclusive endpoints). */
  private def intervalQuery(r: Random, name: String): FuzzQuery = {
    val n = 10 + r.nextInt(41)
    val stride = pick(r, Seq(30, 45, 60, 90))
    val len = pick(r, Seq(7, 14, 21, 30))
    val ship = pick(r, Seq(3, 7, 10))
    val binDays = pick(r, Seq(5, 14, 30, 61))
    val sql =
      s"SELECT w_id, count(*) AS a0, " +
        s"CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS a1 " +
        s"FROM (SELECT i AS w_id, d0 + i * INTERVAL $stride DAY AS w_lo, " +
        s"d0 + i * INTERVAL $stride DAY + INTERVAL $len DAY AS w_hi " +
        s"FROM (SELECT min(l_shipdate) AS d0 FROM lineitem) b, " +
        s"unnest(range(0, $n)) t(i)) wins " +
        s"JOIN lineitem ON l_shipdate <= w_hi " +
        s"AND w_lo <= l_shipdate + INTERVAL $ship DAY " +
        s"GROUP BY 1"
    FuzzQuery(name, sql, (s, d) => {
      val wins = Tables.lineitem(s, d).agg(min(col("l_shipdate")).as("d0"))
        .select(explode(sequence(lit(0L), lit((n - 1).toLong))).as("w_id"), col("d0"))
        .withColumn("w_lo", expr(s"d0 + w_id * INTERVAL '$stride' DAY"))
        .withColumn("w_hi", expr(s"w_lo + INTERVAL '$len' DAY"))
        .withColumn("w_lo_s", unix_timestamp(col("w_lo")))
        .withColumn("w_hi_s", unix_timestamp(col("w_hi")))
        .drop("d0")
      val li = Tables.lineitem(s, d)
        .select(col("l_shipdate"), col("l_quantity"))
        .withColumn("ship_hi", expr(s"l_shipdate + INTERVAL '$ship' DAY"))
        .withColumn("ship_lo_s", unix_timestamp(col("l_shipdate")))
        .withColumn("ship_hi_s", unix_timestamp(col("ship_hi")))
      graft.operators.ScaleOps.intervalBinJoin(
        li, wins, "ship_lo_s", "ship_hi_s", "w_lo_s", "w_hi_s",
        binWidth = binDays.toLong * 86400)
        .groupBy("w_id")
        .agg(count(lit(1)).as("a0"),
          sum(col("l_quantity").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("a1"))
    })
  }

  /** Salted join vs the plain equi-join oracle: the salt factor must not
    * change the result multiset (hot-key scatter + replica join is a pure
    * execution technique). Random salt, random filters on either side. */
  private def saltQuery(r: Random, name: String): FuzzQuery = {
    val salt = pick(r, Seq(2, 3, 4, 8, 16))
    val (li, or) = (baseById("l"), baseById("o"))
    val leftPred = if (r.nextInt(2) == 0) Some(leafPred(r, li)) else None
    val rightPred = if (r.nextInt(3) == 0) Some(leafPred(r, or)) else None
    val lw = leftPred.map(p => s" AND (${p.sql})").getOrElse("")
    val rw = rightPred.map(p => s" AND (${p.sql})").getOrElse("")
    val sql =
      s"SELECT o_orderstatus AS k0, count(*) AS a0, " +
        s"CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS a1, " +
        s"sum(l_quantity) AS a2 " +
        s"FROM lineitem JOIN orders ON l_orderkey = o_orderkey$lw$rw " +
        s"GROUP BY 1"
    FuzzQuery(name, sql, (s, d) => {
      val l0 = Tables.lineitem(s, d)
      val l1 = leftPred.map(p => l0.where(p.spark)).getOrElse(l0)
      val o0 = Tables.orders(s, d)
      // predicate BEFORE the rename — it references o_orderkey
      val o1 = rightPred.map(p => o0.where(p.spark)).getOrElse(o0)
        .withColumnRenamed("o_orderkey", "l_orderkey")
      graft.operators.ScaleOps.saltedJoin(l1, o1, "l_orderkey", salt)
        .groupBy(col("o_orderstatus").as("k0"))
        .agg(count(lit(1)).as("a0"),
          sum(col("l_extendedprice").cast(DecimalType(14, 2)))
            .cast(DoubleType).as("a1"),
          sum(col("l_quantity")).as("a2"))
    })
  }

  // ---- top level -------------------------------------------------------

  final case class FuzzQuery(
      name: String,
      sql: String,
      fn: (SparkSession, String) => DataFrame)

  /** Generate `n` paired queries from `seed`. Pure function of its
    * arguments — FuzzSpec pins this. */
  def generate(seed: Long, n: Int): Seq[FuzzQuery] = {
    val r = new Random(seed)
    (0 until n).map { i =>
      val name = f"fz_$i%04d"
      r.nextInt(24) match {
        case s if s >= 22 => intervalQuery(r, name)
        case s if s >= 21 => saltQuery(r, name)
        case s if s >= 19 => rangeQuery(r, name)
        case s if s >= 16 => asofQuery(r, name)
        case s if s >= 15 => windowMedianQuery(r, name)
        case s if s >= 14 => windowQuery(r, name)
        case s if s >= 12 => setOpQuery(r, name)
        case s if s >= 10 => semiAntiQuery(r, name)
        case _ => classicQuery(r, name)
      }
    }
  }

  /** The original projection / DISTINCT / aggregate shapes. */
  private def classicQuery(r: Random, name: String): FuzzQuery = {
      val src = pick(r, sources)
      val pred = genPred(r, src)
      val where = pred.map(p => s" WHERE ${p.sql}").getOrElse("")
      r.nextInt(10) match {
        case k if k < 4 => // projection + order + limit
          val (sel, limit) = projQuery(r, src)
          val selSql = sel.map { case (a, e) => s"${e.sql} AS $a" }
            .mkString(", ")
          // Order by the key tuple FIRST, then every other projected
          // column: the testdata's (l_orderkey, l_linenumber) is not
          // unique (the synthetic generator is not TPC-H-strict), so key
          // order alone leaves the LIMIT cut nondeterministic. With ALL
          // output columns in the sort, ties are identical output rows —
          // any tie-break yields the same result multiset.
          val okAliases = sel.map(_._1).filter(_.startsWith("ok")) ++
            sel.map(_._1).filterNot(_.startsWith("ok"))
          // random sort direction per column (ties are identical rows, so
          // direction never affects the multiset — pin the null end so the
          // engines agree on placement: Spark defaults nulls FIRST asc,
          // DuckDB nulls LAST)
          val descs = okAliases.map(_ => r.nextInt(4) == 0)
          val orderSql = okAliases.zip(descs).map { case (a, d) =>
            if (d) s"$a DESC NULLS LAST" else s"$a NULLS FIRST"
          }.mkString(", ")
          // occasional OFFSET: deterministic under the same total-order
          // argument as LIMIT (ties at the cut are identical rows)
          val offset = if (r.nextInt(4) == 0) 10 + r.nextInt(91) else 0
          val offsetSql = if (offset > 0) s" OFFSET $offset" else ""
          val sql =
            s"SELECT $selSql FROM ${src.sqlFrom}$where " +
              s"ORDER BY $orderSql LIMIT $limit$offsetSql"
          FuzzQuery(name, sql, (s, d) => {
            val df0 = src.build(s, d)
            val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
            val sorted = df1.select(sel.map { case (a, e) => e.spark.as(a) }: _*)
              .orderBy(okAliases.zip(descs).map { case (a, dsc) =>
                if (dsc) col(a).desc_nulls_last else col(a).asc_nulls_first
              }: _*)
            (if (offset > 0) sorted.offset(offset) else sorted).limit(limit)
          })
        case k if k < 5 => // DISTINCT projection of low-card columns
          val lowCard = src.cols.filter(c =>
            c.kind == KStr && c.strPool.nonEmpty)
          if (lowCard.isEmpty) fallbackCount(name, src, pred, where)
          else {
            val nk = 1 + r.nextInt(math.min(2, lowCard.size))
            val cs = r.shuffle1(lowCard.map(_.name), nk)
            val selSql = cs.zipWithIndex
              .map { case (c, j) => s"$c AS p$j" }.mkString(", ")
            val sql =
              s"SELECT DISTINCT $selSql FROM ${src.sqlFrom}$where"
            FuzzQuery(name, sql, (s, d) => {
              val df0 = src.build(s, d)
              val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
              df1.select(cs.zipWithIndex.map { case (c, j) =>
                col(c).as(s"p$j")
              }: _*).distinct()
            })
          }
        case _ => // aggregate (flat GROUP BY, or ROLLUP/CUBE with gid)
          val nKeys = r.nextInt(3)
          // dedup by rendered expression: ROLLUP(c, c) level semantics
          // would otherwise depend on engine-specific duplicate handling
          val keysRaw = (0 until nKeys)
            .flatMap(_ => groupKeyRaw(r, src))
            .distinctBy(_._2)
            .zipWithIndex
            .map { case ((c, s0), j) => (c, s0, s"k$j") }
          val keys = keysRaw.map { case (c, s0, a) => E(c.as(a), s"$s0 AS $a") }
          val having = keys.nonEmpty && r.nextInt(4) == 0
          // grouping-set variant: 25% of keyed HAVING-less aggregates run
          // as ROLLUP, CUBE, or explicit GROUPING SETS; grouping_id
          // disambiguates rollup nulls from real nulls so the hash compare
          // needs no COALESCE
          val setOp = if (keys.nonEmpty && !having && r.nextInt(4) == 0)
            Some(pick(r, Seq("ROLLUP", "CUBE", "SETS"))) else None
          // for SETS: 2–3 distinct random subsets of the keys (bitmask-
          // deduped; may include the empty grand-total set)
          val setsIdx: Seq[Seq[Int]] =
            if (setOp.contains("SETS")) {
              val space = 1 << keys.size
              val want = math.min(2 + r.nextInt(2), space)
              val masks = scala.collection.mutable.LinkedHashSet.empty[Int]
              while (masks.size < want) masks += r.nextInt(space)
              masks.toSeq.map(m =>
                (0 until keys.size).filter(i => (m & (1 << i)) != 0))
            } else Nil
          val nAggs = 1 + r.nextInt(3)
          // a0 is always count(*): it anchors the HAVING clause and makes
          // every aggregate row self-describing in mismatch triage
          val aggs = E(count(lit(1)).as("a0"), "count(*) AS a0") +:
            (1 to nAggs).map(j => aggExpr(r, src, s"a$j"))
          val havingN = 1 + r.nextInt(5)
          val rawList = keysRaw.map(_._2).mkString(", ")
          val gidSql = setOp.map(_ =>
            s"CAST(GROUPING($rawList) AS BIGINT) AS gid, ").getOrElse("")
          val selSql = gidSql +
            (keys.map(_.sql) ++ aggs.map(_.sql)).mkString(", ")
          val groupSql = setOp match {
            case Some("SETS") =>
              val sets = setsIdx.map(s =>
                s"(${s.map(i => keysRaw(i)._2).mkString(", ")})")
              s" GROUP BY GROUPING SETS (${sets.mkString(", ")})"
            case Some(op) => s" GROUP BY $op($rawList)"
            case None if keys.isEmpty => ""
            case None => s" GROUP BY ${(1 to keys.size).mkString(", ")}"
          }
          // ROLLUP/CUBE over an EMPTY input: DuckDB emits the standard
          // grand-total row (gid=1, count=0); Spark emits zero rows. With
          // non-empty input no grouping-set row can have count 0, so a
          // count(*)>0 filter on the ORACLE side equalizes exactly the
          // divergent empty-input case and nothing else (fuzzer-found,
          // seed 7).
          val havingSql =
            if (having) s" HAVING count(*) >= $havingN"
            else if (setOp.isDefined) " HAVING count(*) > 0"
            else ""
          val sql =
            s"SELECT $selSql FROM ${src.sqlFrom}$where$groupSql$havingSql"
          FuzzQuery(name, sql, (s, d) => {
            val df0 = src.build(s, d)
            val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
            val grouped = setOp match {
              case Some("ROLLUP") =>
                df1.rollup(keys.map(_.spark): _*)
                  .agg(grouping_id().cast(LongType).as("gid"),
                    (aggs.map(_.spark)): _*)
              case Some("SETS") =>
                // RAW key exprs in both the sets and the grouping cols
                // (an aliased col in either position makes the analyzer
                // mint an extra grouping column → wrong grouping_id);
                // the output is renamed positionally instead: grouping
                // cols first, then the agg list
                df1.groupingSets(
                    setsIdx.map(_.map(i => keysRaw(i)._1)),
                    keysRaw.map(_._1): _*)
                  .agg(grouping_id().cast(LongType).as("gid"),
                    (aggs.map(_.spark)): _*)
                  .toDF(keysRaw.map(_._3) ++ ("gid" +:
                    (0 to nAggs).map(j => s"a$j")): _*)
              case Some(_) =>
                df1.cube(keys.map(_.spark): _*)
                  .agg(grouping_id().cast(LongType).as("gid"),
                    (aggs.map(_.spark)): _*)
              case None if keys.isEmpty =>
                df1.agg(aggs.head.spark, aggs.tail.map(_.spark): _*)
              case None =>
                df1.groupBy(keys.map(_.spark): _*)
                  .agg(aggs.head.spark, aggs.tail.map(_.spark): _*)
            }
            if (having) grouped.where(col("a0") >= havingN) else grouped
          })
      }
  }

  /** Degenerate fallback when a shape can't apply to the source: global
    * filtered count (still a real differential check). */
  private def fallbackCount(
      name: String, src: FSrc, pred: Option[P], where: String): FuzzQuery =
    FuzzQuery(name,
      s"SELECT count(*) AS a0 FROM ${src.sqlFrom}$where",
      (s, d) => {
        val df0 = src.build(s, d)
        val df1 = pred.map(p => df0.where(p.spark)).getOrElse(df0)
        df1.agg(count(lit(1)).as("a0"))
      })
}
