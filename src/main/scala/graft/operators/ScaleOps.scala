package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-technique operators: the join shapes that keep 100 TB plans alive
  * when the built-in strategies degrade.
  *
  *  - [[saltedJoin]] — hot-key salting for shuffle joins whose key
  *    distribution AQE's skew handling can't fix (e.g. one key is 30% of
  *    the table and the other side can't be broadcast).
  *  - [[rangeBinJoin]] — interval/range joins against a LARGE ranges table:
  *    Spark's only native plan is BroadcastNestedLoop (every row × every
  *    range). Binning converts it to an equi-join on overlapping bins plus
  *    a residual filter — shuffle-parallel and linear in matches.
  *  - co-located joins are [[graft.util.ArtifactStore.writeBucketed]] and
  *    `readBucketed`: both sides pre-hashed into the same bucket layout at
  *    write time join with ZERO shuffle at read time (asserted in
  *    ScaleOpsSpec).
  *  - [[asofJoin]] — as-of (latest right row at-or-before each left row's
  *    timestamp) via union + one window pass: ONE shuffle on the key, no
  *    inequality join (the naive `ts <=` join is quadratic per key).
  */
object ScaleOps {

  /** As-of join: for each left row, attach the payload of the LATEST right
    * row with `right.tsCol <= left.tsCol` in the same `key` group ("at or
    * before": a right row at exactly the left row's timestamp is visible;
    * with `strict = true` the bound is `<` — QuestDB's LT JOIN semantics —
    * and the equal-ts right row is NOT visible). Left rows with no
    * qualifying right row get typed nulls.
    *
    * Spark-first formulation (no public as-of API): union both sides
    * tagged with a kind bit, one window pass per key ordered by
    * (ts, kind) — right rows sort before left rows at equal ts (after, in
    * strict mode) — then `last(payload, ignoreNulls)` carries the most
    * recent right payload forward. ONE shuffle on `key`; at 100 TB this is
    * the scale-safe shape. With duplicate right-side (key, tsCol) rows "the
    * latest right row" is ill-defined — pass `tie` (a right-side column,
    * e.g. an event id; highest value wins among equal-ts rows) to make the
    * pick total-order deterministic instead of partition-order dependent.
    *
    * @param payload right-side columns to carry, as (sourceCol → outCol);
    *                outCol names must not collide with left's columns
    * @param tie     optional right-side tiebreak expression: among right
    *                rows tied on (key, tsCol) the row with the HIGHEST tie
    *                value is "the latest" (negate it to prefer the lowest)
    * @return left's columns plus the payload outCols
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      payload: Seq[(String, String)],
      strict: Boolean = false,
      tie: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the payload travels as ONE struct so all columns come atomically
    // from the SAME right row even if individual payload values are null
    val pType = StructType(payload.map { case (s, o) =>
      StructField(o, right.schema(s).dataType) })
    val leftExtra = left.columns.toSeq.filterNot(c => c == key || c == tsCol)
    val lSide = left.select(
      Seq(col(key), col(tsCol), lit(1).as("_kind"),
        lit(null).as("_tie"),
        lit(null).cast(pType).as("_p")) ++ leftExtra.map(col): _*)
    // kind ordering at equal ts decides visibility: 0 sorts before the
    // left's 1 (inclusive <=), 2 sorts after it (strict <)
    val rKind = if (strict) 2 else 0
    val rSide = right.select(
      Seq(col(key), col(tsCol), lit(rKind).as("_kind"),
        tie.getOrElse(lit(null)).as("_tie"),
        struct(payload.map { case (s, o) => col(s).as(o) }: _*).as("_p")) ++
        leftExtra.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    // _tie only orders rows WITHIN the right kind (left rows carry null and
    // a distinct kind), so `last` picks the highest-tie row among equal-ts
    // right rows; with tie = None the column is constant-null and inert
    val w = Window.partitionBy(key).orderBy(col(tsCol), col("_kind"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide)
      .withColumn("_p", last(col("_p"), ignoreNulls = true).over(w))
      .where(col("_kind") === 1)
      .select(Seq(col(key), col(tsCol)) ++ leftExtra.map(col) ++
        payload.map { case (_, o) => col(s"_p.$o").as(o) }: _*)
  }

  /** Salted equi-join: replicate each right-side row `salt` times with a
    * salt suffix, scatter the left side's hot keys uniformly across the
    * replicas. The shuffle key becomes (key, salt) — a key holding p% of
    * the rows now occupies p%/salt per partition. Semantics identical to
    * `left.join(right, key)` (inner).
    *
    * Sizing `salt` (measured, SKEWCHECK.md): the salt splits the KEY into
    * granules, but granule→partition PLACEMENT is hashed — with salt on
    * the order of the shuffle partition count, birthday collisions pile
    * several hot granules back onto one reducer (the skewed-sf1 bench
    * caught 4 of 8 granules of a 3.8M-row key landing in ONE partition,
    * resurrecting most of the skew). Choose salt a few × the partition
    * count (so each partition expects several granules and the law of
    * large numbers levels the load), and remember the cost side: the dim
    * is replicated `salt`× — salt=64 on a 1 GB build side ships 64 GB. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salt)))
    val saltedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** Hot-key-differentiated salted join — the production form of
    * [[saltedJoin]], fixing BOTH failure modes SKEWCHECK.md measured in
    * the naive full-salt:
    *
    *  - **Granule placement**: splitting a hot key `salt` ways only helps
    *    if the (key, salt) granules spread across reducers, and placement
    *    is hashed — at salt ≈ the partition count, birthday collisions
    *    pile several granules back onto one reducer (measured: 4 of 8
    *    granules of a 3.8M-row key on ONE task). Salting only the hot
    *    keys makes large salt (a few × partitions) affordable, so the
    *    law of large numbers levels the load.
    *  - **Replication cost**: full salting ships the ENTIRE build side
    *    `salt`× (measured: salt=64 on a 1.5M-row dim doubled the whole
    *    join's wall). Here only the ≤ `maxHotKeys` hot keys' dim rows
    *    replicate — `|hot| × salt` extra rows, irrelevant at any scale.
    *
    * Hot keys are detected from a key-column SAMPLE (one column-pruned
    * scan of `left`): a key with p% of n rows appears ≥ `minSampleCount`
    * times in an f-sample with overwhelming probability once
    * n·f·p ≫ minSampleCount — the 100 TB default (f = 1e-4) resolves
    * keys down to ~0.1% of a 10¹¹-row table at minSampleCount = 100. The
    * collect is bounded by `maxHotKeys` and fail-loud beyond it (house
    * cap contract; a corpus with > 4096 genuinely hot keys needs a
    * different plan, not a silent truncation). `c10_heavy_hitters`'s
    * Misra–Gries sketch is the deterministic-guarantee alternative
    * detector for the same decision.
    *
    * Cold keys keep salt 0 on both sides — their rows shuffle exactly as
    * in the plain join. Semantics identical to `left.join(right, key)`
    * (inner); parity + cap specs in ScaleOpsSpec, measured win in
    * SKEWCHECK.md.
    *
    * == The chooser contract (measured, SKEWCHECK.md; pinned in
    * ScaleOpsSpec "skew chooser") ==
    *
    * '''AQE-first for sort-merge-joinable skew.''' On the measured skewed
    * corpus, AQE's runtime skew-split (with corpus-sized thresholds) beat
    * this operator — 278 vs 665 ms max reduce task — because it splits
    * only the offending partitions after seeing actual sizes and
    * replicates nothing. When the join is an SMJ whose output feeds no
    * operator requiring the join key's distribution, do nothing: AQE wins.
    *
    * '''hotSaltedJoin for the shapes AQE cannot split:'''
    *  - '''join + aggregate/window on the SAME skewed key''' —
    *    OptimizeSkewedJoin may only split a partition when splitting
    *    breaks no downstream distribution requirement; duplicating a key
    *    group across tasks would corrupt a following per-key aggregate,
    *    so AQE validates-and-reverts and the hot reducer survives
    *    (asserted plan-level in ScaleOpsSpec; measured at skewed sf1 in
    *    SKEWCHECK.md's agg-on-join-key scenario). Salting covers it: the
    *    (key, salt) shuffle levels the join, the partial aggregate folds
    *    each granule, and the final merge moves `salt` pre-aggregated
    *    rows per hot key.
    *  - '''skewed hash AGGREGATES without a join''' — same mechanism,
    *    no join for AQE to split (use the (key, salt) two-stage directly).
    *  - '''stateful streaming keys''' — state sticks to its shuffle
    *    partition across batches; no runtime re-plan exists.
    *  - '''clusters/pipelines with AQE disabled''' or non-SMJ joins the
    *    deployed Spark version's skew rule does not cover.
    *
    * Naive [[saltedJoin]] (full-dim replication) lost to BOTH on the
    * measured corpus and stays a last resort. */
  def hotSaltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salt: Int,
      sampleFraction: Double = 1e-2,
      minSampleCount: Long = 100L,
      maxHotKeys: Int = 4096): DataFrame = {
    val hotRows = left.select(col(key)).where(col(key).isNotNull)
      .sample(withReplacement = false, sampleFraction, seed = 1337L)
      .groupBy(col(key)).agg(count(lit(1)).as("_c"))
      .where(col("_c") >= minSampleCount)
      .orderBy(col("_c").desc, col(key))
      .limit(maxHotKeys + 1) // bounded driver collect, fail-loud over cap
      .collect()
    require(hotRows.length <= maxHotKeys,
      s"hotSaltedJoin: more than $maxHotKeys hot keys at " +
        s"sampleFraction=$sampleFraction, minSampleCount=$minSampleCount — " +
        "raise minSampleCount or rethink the plan (broadcast? bucketed?)")
    if (hotRows.isEmpty) return left.join(right, Seq(key))
    val hot = hotRows.map(_.get(0)).toSeq
    val isHot = col(key).isin(hot: _*) // ≤ maxHotKeys values → InSet
    val saltedLeft = left.withColumn("_salt",
      when(isHot, pmod(hash(monotonically_increasing_id()), lit(salt)))
        .otherwise(lit(0)))
    val saltedRight = right.withColumn("_salt",
      explode(when(isHot, sequence(lit(0), lit(salt - 1)))
        .otherwise(array(lit(0)))))
    saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** Range join via binning: rows join ranges where lo <= v < hi.
    * Each range explodes to its covering bins of width `binWidth`; each
    * fact row maps to one bin; equi-join on the bin, then the exact
    * residual predicate. Equivalent to
    * `fact.join(ranges, v >= lo && v < hi)` but as a shuffle hash join. */
  def rangeBinJoin(
      fact: DataFrame,
      ranges: DataFrame,
      valueCol: String,
      loCol: String,
      hiCol: String,
      binWidth: Double): DataFrame = {
    val factBinned = fact.withColumn("_bin",
      floor(col(valueCol) / binWidth).cast(LongType))
    val rangesBinned = ranges.withColumn("_bin",
      explode(sequence(
        floor(col(loCol) / binWidth).cast(LongType),
        // hi is exclusive: a range ending exactly on a bin edge does not
        // cover that bin
        when(pmod(col(hiCol), lit(binWidth)) === 0.0,
          (floor(col(hiCol) / binWidth) - 1).cast(LongType))
          .otherwise(floor(col(hiCol) / binWidth).cast(LongType)))))
    factBinned.join(rangesBinned, Seq("_bin"))
      .where(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("_bin")
  }

  /** Interval-overlap join via binning: pairs of intervals
    * `[lLo, lHi] × [rLo, rHi]` (inclusive ends, numeric columns) with
    * `lLo <= rHi AND rLo <= lHi`, as an equi-join. Spark's native plan for
    * an interval×interval theta join is BroadcastNestedLoop — quadratic
    * when neither side is small. Here BOTH sides explode into the
    * `binWidth`-wide bins their interval covers and meet on the bin key.
    *
    * Exactly-once without a dedup shuffle: an overlapping pair shares every
    * bin in the overlap, so matches are restricted to the overlap's FIRST
    * bin (`floor(max(lLo, rLo) / binWidth)` — covered by both sides by
    * construction). Each overlapping pair then survives in exactly one bin
    * and the residual predicate removes same-bin non-overlaps; no
    * dropDuplicates pass over the matches is needed.
    *
    * Fan-out bound: rows replicate interval_span/binWidth times — pick
    * binWidth near the typical interval length so the explode factor stays
    * O(1) while bins stay selective. */
  def intervalBinJoin(
      left: DataFrame,
      right: DataFrame,
      lLo: String, lHi: String,
      rLo: String, rHi: String,
      binWidth: Long): DataFrame = {
    val leftBinned = left.withColumn("_bin",
      explode(sequence(
        floor(col(lLo) / binWidth).cast(LongType),
        floor(col(lHi) / binWidth).cast(LongType))))
    val rightBinned = right.withColumn("_bin",
      explode(sequence(
        floor(col(rLo) / binWidth).cast(LongType),
        floor(col(rHi) / binWidth).cast(LongType))))
    leftBinned.join(rightBinned, Seq("_bin"))
      .where(col("_bin") ===
        floor(greatest(col(lLo), col(rLo)) / binWidth).cast(LongType))
      .where(col(lLo) <= col(rHi) && col(rLo) <= col(lHi))
      .drop("_bin")
  }

  /** Z-order (Morton) interleave of two dimension columns — the storage-
    * clustering lever for MULTI-dimensional pruning. A layout sorted by one
    * column serves range predicates on that column only; sorting by the
    * interleaved code bounds BOTH dimensions within every contiguous file /
    * row-group, so min/max stats prune scans on either dimension (the
    * technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`). Pure `Column`
    * bit arithmetic — shifts, masks, ors — stays inside whole-stage
    * codegen and is exactly mirrorable in the DuckDB oracle.
    *
    * Each input is truncated to its low 16 bits (callers bucket wider
    * domains first), bits are spread apart with the classic mask ladder,
    * and the two spread words interleave into one 32-bit code.
    */
  def zorder2(a: Column, b: Column): Column = {
    def spread(v: Column): Column = {
      var x = v.cast(LongType).bitwiseAND(lit(65535L))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(16711935L))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(252645135L))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(858993459L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(1431655765L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Write `df` clustered by the Z-order of (`colA`, `colB`) into `files`
    * parquet files: range-partition on the code so each file owns one
    * contiguous Z interval, sort within so row groups are tight too. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int): Unit =
    df.withColumn("_z", zorder2(col(colA), col(colB)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Hive-style partitioned layout: write the table as one directory per
    * value of `partCol` (`path/partCol=v/...`), so a predicate on the
    * partition column prunes whole directories at PLANNING time — the
    * pruned files are never listed into tasks, let alone read. This is the
    * primary scan-reduction lever at 100 TB: a day-partitioned events table
    * serves a one-day query by reading 1/365th of the data no matter how
    * wide the table is. Asserted in ScaleOpsSpec: the scan's
    * PartitionFilters carry the predicate and the selected-partition count
    * drops to the matching directories only. */
  object PartitionedTables {
    def write(df: DataFrame, path: String, partCol: String): Unit =
      df.write.mode("overwrite").partitionBy(partCol).parquet(path)

    def read(spark: SparkSession, path: String): DataFrame =
      spark.read.parquet(path)
  }
}
