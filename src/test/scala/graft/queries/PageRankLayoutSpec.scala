package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.ArtifactStore

/** The persisted co-partitioned PageRank layout: parity with the in-query
  * path, the zero-Exchange iteration join the layout exists to provide,
  * the staleness contract, and — round 19 — the generational store's
  * fail-loud order-complete guards, delete maintenance, and
  * reader-stability across a concurrent append. */
class PageRankLayoutSpec extends SparkSpec {

  private def genRoot(dataDir: String): String =
    s"${PageRankLayout.layoutRoot(dataDir)}/v=${PageRankLayout.currentGen(spark, dataDir)}"
  private def buckets(dataDir: String): Int =
    spark.read.parquet(s"${PageRankLayout.layoutRoot(dataDir)}/meta").head().getAs[Int]("buckets")
  // the current generation's tables and the last rank result, read as a
  // reader outside the store reads them: by path, with meta's bucket count
  private def currentEdges(dataDir: String, s: SparkSession = spark): DataFrame =
    ArtifactStore.readBucketed(s, s"${genRoot(dataDir)}/edges",
      PageRankLayout.edgesSchema, "src", buckets(dataDir))
  private def currentNodes(dataDir: String): DataFrame =
    ArtifactStore.readBucketed(spark, s"${genRoot(dataDir)}/nodes",
      PageRankLayout.nodesSchema, "id", buckets(dataDir))
  private def rankResult(dataDir: String, s: SparkSession = spark): DataFrame =
    ArtifactStore.readBucketed(s, s"${PageRankLayout.layoutRoot(dataDir)}/rank_result",
      PageRankLayout.rankSchema, "id", buckets(dataDir))

  test("from-layout ranks match the in-query pageRankRanks bit-for-bit") {
    val inQuery = Relational.pageRankRanks(
      Relational.coPurchaseEdges(spark, sf), iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val fromLayout = PageRankLayout.fromLayoutRanks(spark, sf, iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(fromLayout === inQuery)
  }

  test("iteration join over the layout runs with ZERO Exchange; the full " +
    "step's only Exchange is the inherent contribution shuffle") {
    PageRankLayout.ensureLayout(spark, sf)
    // rank_result exists after any from-layout run; make it explicit
    PageRankLayout.fromLayoutRanks(spark, sf, iters = 1)
    val edges = currentEdges(sf)
    val nodes = currentNodes(sf)
    // round 21: iterations checkpoint in memory; `rank_result` is the only
    // written rank vector — same bucketed layout the loop's vectors ride
    val rank = rankResult(sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the per-iteration rank join: both sides scan bucketed tables —
      // no shuffle, no broadcast
      val j = edges.join(rank.hint("shuffle_hash"), col("id") === col("src"))
      j.collect()
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"),
        s"expected Exchange-free bucketed rank join:\n$jPlan")
      // the whole step: exactly one shuffle — the contribution aggregate
      // re-keying by dst (inherent to rank propagation), nothing else
      val cnt = spark.read.parquet(s"${PageRankLayout.layoutRoot(sf)}/meta")
        .head().getLong(1)
      val step = Relational.pageRankStep(edges, nodes, cnt, rank)
      step.collect()
      // AQE's toString prints the initial plan after the final one — count
      // shuffles in the FINAL (executed) section only
      val sPlan = step.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!sPlan.contains("BroadcastExchange"),
        s"rank must never broadcast:\n$sPlan")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(sPlan).size
      assert(shuffles === 1,
        s"expected exactly the contribution shuffle, got $shuffles:\n$sPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round 21: an in-loop PERSISTED rank vector (what fromLayoutRanks " +
    "now iterates on instead of scratch tables) keeps the step's only " +
    "Exchange the inherent contribution shuffle") {
    PageRankLayout.ensureLayout(spark, sf)
    val edges = currentEdges(sf)
    val nodes = currentNodes(sf)
    val meta = spark.read.parquet(s"${PageRankLayout.layoutRoot(sf)}/meta").head()
    val cnt = meta.getAs[Long]("node_count")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // r0 exactly as fromLayoutRanks builds it: bucketed node scan →
      // project → eagerly materialized persist, whose InMemoryRelation
      // preserves the id HashPartitioning into the step's joins
      val r0 = nodes.select(col("id"),
        round(lit(1.0 / cnt), 9).as("r")).persist()
      r0.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      val step = Relational.pageRankStep(edges, nodes, cnt, r0)
      step.collect()
      val sPlan = step.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!sPlan.contains("BroadcastExchange"),
        s"rank must never broadcast:\n$sPlan")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(sPlan).size
      assert(shuffles === 1,
        s"expected exactly the contribution shuffle over the persisted " +
          s"rank vector, got $shuffles:\n$sPlan")
      r0.unpersist(false)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("append ≡ from-scratch rebuild; only the delta touches raw lineitem") {
    // expectation: the full-corpus build (stored src,dst,w,wn)
    PageRankLayout.buildLayout(spark, sf)
    val full = currentEdges(sf)
      .orderBy("src", "dst").collect().map(_.toString).toSeq
    // old snapshot: built from a DELETABLE lineitem copy under its own root
    val tmp = tempDir("graft_pr_append").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(key)))
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val oldPath = s"$key/old_lineitem.parquet"
    li.where(pmod(col("l_orderkey"), lit(8)) =!= 0).write.parquet(oldPath)
    PageRankLayout.buildLayoutFrom(spark, key, spark.read.parquet(oldPath))
    // batch held IN MEMORY (order-complete: whole orders), then the old
    // snapshot's file is DELETED — any append-path rescan of the already-
    // indexed corpus now fails loudly
    val batchRows = li.where(pmod(col("l_orderkey"), lit(8)) === 0).collect().toSeq
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(batchRows, 2), li.schema)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(oldPath))
    PageRankLayout.appendLayout(spark, key, batch)
    val appended = currentEdges(key)
      .orderBy("src", "dst").collect().map(_.toString).toSeq
    assert(appended === full,
      "append-maintained layout diverged from the from-scratch rebuild")
    // folded fingerprint equals the full corpus' — ensure would reuse it
    val meta = spark.read.parquet(s"${PageRankLayout.layoutRoot(key)}/meta").head()
    val liveFp = graft.util.CorpusFingerprint.of(li, col("l_orderkey"), col("l_partkey"))
    assert(meta.getAs[Long]("lineitem_count") === liveFp.count)
    assert(meta.getAs[Long]("fp_xor") === liveFp.xorFp)
    assert(new java.math.BigDecimal(meta.getAs[String]("fp_sum"))
      .compareTo(liveFp.sumFp) === 0)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("append refuses a batch whose orders already exist in the layout " +
    "(order-complete guard is fail-loud, not documentation)") {
    PageRankLayout.ensureLayout(spark, sf)
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    // new rows for an EXISTING order: merging them from the batch alone
    // would silently drop the old-row × new-row pairs within the order
    val existingOrder = li.limit(1).collect().head.getLong(0)
    import spark.implicits._
    val partial = Seq((existingOrder, 999991L), (existingOrder, 999992L))
      .toDF("l_orderkey", "l_partkey")
    val e = intercept[IllegalStateException] {
      PageRankLayout.appendLayout(spark, sf, partial)
    }
    assert(e.getMessage.contains("not order-complete"))
    // restore the exact-corpus layout for later suites
    PageRankLayout.ensureLayout(spark, sf)
  }

  test("delete ≡ from-scratch rebuild over the reduced corpus; guards " +
    "refuse partial or unknown orders") {
    val tmp = tempDir("graft_pr_delete").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(key)))
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val liPath = s"$key/lineitem_copy.parquet"
    li.write.parquet(liPath)
    PageRankLayout.buildLayoutFrom(spark, key, spark.read.parquet(liPath))
    // expectation: a from-scratch build over the reduced corpus
    val tmp2 = tempDir("graft_pr_delete_exp").toFile
    val expKey = tmp2.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(expKey)))
    PageRankLayout.buildLayoutFrom(spark, expKey,
      li.where(pmod(col("l_orderkey"), lit(8)) =!= 0))
    val expected = currentEdges(expKey)
      .orderBy("src", "dst").collect().map(_.toString).toSeq
    // the delete batch held in memory, then the corpus copy DELETED: the
    // delete path must derive everything from the batch + stored aggregates
    val batchRows = li.where(pmod(col("l_orderkey"), lit(8)) === 0).collect().toSeq
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(batchRows, 2), li.schema)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(liPath))
    // guard 1: a PARTIAL order (one row missing) is refused
    val someOrder = batchRows.head.getLong(0)
    val partial = spark.createDataFrame(
      spark.sparkContext.parallelize(
        batchRows.filter(_.getLong(0) == someOrder).drop(1), 1), li.schema)
    if (batchRows.count(_.getLong(0) == someOrder) > 1) {
      val e1 = intercept[IllegalStateException] {
        PageRankLayout.deleteLayout(spark, key, partial)
      }
      assert(e1.getMessage.contains("order-complete"))
    }
    // guard 2: an order the layout never indexed is refused
    import spark.implicits._
    val unknown = Seq((999999999L, 1L)).toDF("l_orderkey", "l_partkey")
    val e2 = intercept[IllegalStateException] {
      PageRankLayout.deleteLayout(spark, key, unknown)
    }
    assert(e2.getMessage.contains("order-complete"))
    // the real order-complete delete lands bit-identical to the rebuild
    PageRankLayout.deleteLayout(spark, key, batch)
    val deleted = currentEdges(key)
      .orderBy("src", "dst").collect().map(_.toString).toSeq
    assert(deleted === expected,
      "delete-maintained layout diverged from the reduced-corpus rebuild")
    // un-folded fingerprint equals the reduced corpus' — ensure would trust it
    val meta = spark.read.parquet(s"${PageRankLayout.layoutRoot(key)}/meta").head()
    val redFp = graft.util.CorpusFingerprint.of(
      li.where(pmod(col("l_orderkey"), lit(8)) =!= 0),
      col("l_orderkey"), col("l_partkey"))
    assert(meta.getAs[Long]("lineitem_count") === redFp.count)
    assert(meta.getAs[Long]("fp_xor") === redFp.xorFp)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    org.apache.commons.io.FileUtils.deleteQuietly(tmp2)
  }

  test("maintenance commits are COPY-ON-WRITE: untouched bucket files are " +
    "reused (same inode), only delta-touched buckets are rewritten") {
    import spark.implicits._
    val tmp = tempDir("graft_pr_cow").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(key)))
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    li.write.parquet(s"$key/lineitem.parquet")
    PageRankLayout.buildLayoutFrom(spark, key, spark.read.parquet(s"$key/lineitem.parquet"))
    val root = PageRankLayout.layoutRoot(key)
    def gen: Long = PageRankLayout.currentGen(spark, key)
    def dataFiles(sub: String, g: Long): Map[String, java.nio.file.Path] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/v=$g/$sub"))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => f.getName -> f.toPath).toMap
    }
    val g0 = gen
    val build = dataFiles("edges", g0)
    val buildRows = currentEdges(key).orderBy("src", "dst")
      .collect().map(_.toString).toSeq
    // ONE new order over 3 parts: the delta touches at most 3 src buckets
    val batch = Seq((999999001L, 1L), (999999001L, 2L), (999999001L, 3L))
      .toDF("l_orderkey", "l_partkey")
    PageRankLayout.appendLayout(spark, key, batch)
    val g1 = gen
    assert(g1 === g0 + 1)
    val appended = dataFiles("edges", g1)
    val carried = appended.keySet.intersect(build.keySet)
    val rewritten = appended.keySet -- build.keySet
    // the delta's 3 srcs hash into at most 3 buckets; everything else is
    // carried — and carried means the SAME file (hardlink inode), not a
    // byte-identical rewrite
    assert(rewritten.size <= 3,
      s"append rewrote ${rewritten.size} bucket files for a 3-src delta: $rewritten")
    assert(carried.nonEmpty, "append carried no bucket files — CoW is off")
    carried.foreach { name =>
      assert(java.nio.file.Files.isSameFile(build(name), appended(name)),
        s"carried edge bucket file $name was rewritten, not reused")
    }
    // nodes and the ledger carry the same way
    val nodesCarried = dataFiles("nodes", g1).keySet
      .intersect(dataFiles("nodes", g0).keySet)
    assert(nodesCarried.nonEmpty, "append carried no node bucket files")
    val ledger0 = dataFiles("orderkeys", g0)
    val ledger1 = dataFiles("orderkeys", g1)
    val ledgerCarried = ledger1.keySet.intersect(ledger0.keySet)
    assert(ledgerCarried.nonEmpty, "append carried no ledger partitions")
    ledgerCarried.foreach { name =>
      assert(java.nio.file.Files.isSameFile(ledger0(name), ledger1(name)),
        s"carried ledger file $name was rewritten, not reused")
    }
    // deleting the same order is CoW too, and round-trips bit-identically
    PageRankLayout.deleteLayout(spark, key, batch)
    val g2 = gen
    val deleted = dataFiles("edges", g2)
    val delCarried = deleted.keySet.intersect(appended.keySet)
    assert((deleted.keySet -- appended.keySet).size <= 3)
    assert(delCarried.nonEmpty)
    delCarried.foreach { name =>
      assert(java.nio.file.Files.isSameFile(appended(name), deleted(name)),
        s"carried edge bucket file $name was rewritten by the delete")
    }
    val roundTrip = currentEdges(key).orderBy("src", "dst")
      .collect().map(_.toString).toSeq
    assert(roundTrip === buildRows,
      "append-then-delete did not round-trip to the original layout")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("round 22: scale-adaptive bucket count — a source past the per-bucket " +
    "target builds buckets = 2·np (a multiple of np), stays one file per " +
    "bucket and per ob, and maintenance + from-layout parity hold at the " +
    "scaled count") {
    import spark.implicits._
    val tmp = tempDir("graft_pr_scale").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(key)))
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    li.write.parquet(s"$key/lineitem.parquet")
    val src = spark.read.parquet(s"$key/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val np = spark.sessionState.conf.numShufflePartitions
    // pick the target so srcBytes / (np × target) rounds to exactly 2
    val srcBytes = src.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val target = math.max(1L, (srcBytes / (np * 2)).toLong)
    try {
      assert(PageRankLayout.layoutBuckets(spark, src, target) === 2 * np)
      PageRankLayout.buildLayoutFrom(spark, key, src, target)
      val root = PageRankLayout.layoutRoot(key)
      val meta = spark.read.parquet(s"$root/meta").head()
      val buckets = meta.getAs[Int]("buckets")
      assert(buckets === 2 * np, "meta did not record the scaled bucket count")
      def gen: Long = PageRankLayout.currentGen(spark, key)
      def dataFiles(sub: String, g: Long): Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$root/v=$g/$sub"))
          .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      }
      // one file per bucket: the build's repartition width IS the scaled
      // bucket count, so bucketBy splits nothing further
      val edgeFiles = dataFiles("edges", gen)
      assert(edgeFiles.size === buckets,
        s"expected one edge file per bucket ($buckets), got ${edgeFiles.size}")
      // one file per ob: the ledger groupBy runs np-wide, but np divides
      // the scaled count, so task i holds exactly the obs ≡ i (mod np)
      val obDirs = new java.io.File(s"$root/v=$gen/orderkeys").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ob="))
      assert(obDirs.nonEmpty)
      obDirs.foreach { d =>
        val files = d.listFiles().filterNot(f =>
          f.getName.startsWith("_") || f.getName.startsWith("."))
        assert(files.length === 1,
          s"${d.getName} holds ${files.length} files — ledger write no longer " +
            "lands one file per ob at a scaled bucket count")
      }
      val buildRows = currentEdges(key)
        .orderBy("src", "dst").collect().map(_.toString).toSeq
      // maintenance at the scaled count: a 3-src order touches ≤ 3 of the
      // 2·np buckets, everything else carries (same inode), and the
      // append→delete round-trip is bit-identical
      val g0 = gen
      val before = dataFiles("edges", g0).map(f => f.getName -> f.toPath).toMap
      val batch = Seq((999999001L, 1L), (999999001L, 2L), (999999001L, 3L))
        .toDF("l_orderkey", "l_partkey")
      PageRankLayout.appendLayout(spark, key, batch)
      val after = dataFiles("edges", gen).map(f => f.getName -> f.toPath).toMap
      val carried = after.keySet.intersect(before.keySet)
      assert((after.keySet -- before.keySet).size <= 3,
        "a 3-src delta rewrote more than 3 scaled buckets")
      assert(carried.size >= buckets - 3, "scaled-bucket CoW carried too few files")
      carried.take(4).foreach { name =>
        assert(java.nio.file.Files.isSameFile(before(name), after(name)),
          s"carried bucket file $name was rewritten at the scaled count")
      }
      PageRankLayout.deleteLayout(spark, key, batch)
      val roundTrip = currentEdges(key)
        .orderBy("src", "dst").collect().map(_.toString).toSeq
      assert(roundTrip === buildRows,
        "append-then-delete did not round-trip at the scaled bucket count")
      // the query path over a buckets ≠ np layout: ranks must stay
      // bit-identical to the in-query derivation
      val fromLayout = PageRankLayout.fromLayoutRanks(spark, key, iters = 3)
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      val inQuery = Relational.pageRankRanks(
        Relational.coPurchaseEdgesFrom(li), iters = 3)
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
      assert(fromLayout === inQuery,
        "from-layout ranks diverged at a scaled bucket count")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a frame resolved before an append keeps scanning after it " +
    "(versioned generations retain the predecessor)") {
    val tmp = tempDir("graft_pr_rdr").toFile
    val key = tmp.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(key)))
    val li = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    PageRankLayout.buildLayoutFrom(spark, key,
      li.where(pmod(col("l_orderkey"), lit(4)) === 1))
    // resolve the generation-0 frame NOW — a concurrent reader mid-query
    val resolved = currentEdges(key)
    val before = resolved.count()
    assert(before > 0)
    // two appends land generations 1 and 2; gen 0 is GC'd at gen 2
    PageRankLayout.appendLayout(spark, key,
      li.where(pmod(col("l_orderkey"), lit(4)) === 2))
    // after ONE append the resolved gen-0 frame must still scan fully
    assert(resolved.count() === before,
      "reader resolved before the append lost its snapshot after one commit")
    assert(new java.io.File(s"${PageRankLayout.layoutRoot(key)}/v=0").exists())
    PageRankLayout.appendLayout(spark, key,
      li.where(pmod(col("l_orderkey"), lit(4)) === 3))
    // retention is ONE predecessor: gen 0 is gone, gen 1 retained
    assert(!new java.io.File(s"${PageRankLayout.layoutRoot(key)}/v=0").exists(),
      "generation GC never ran — storage would grow with every batch")
    assert(new java.io.File(s"${PageRankLayout.layoutRoot(key)}/v=1").exists())
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a same-count content change triggers a layout rebuild; an unchanged corpus does not") {
    val dir = tempDir("graft_pr_mut").toFile.getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(PageRankLayout.layoutRoot(dir)))
    val src = graft.Tables.lineitem(spark, sf)
    src.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    PageRankLayout.buildLayout(spark, dir)
    val root = PageRankLayout.layoutRoot(dir)
    def metaXor: Long = spark.read.parquet(s"$root/meta").head().getAs[Long]("fp_xor")
    def edgeListing: Set[(String, Long)] =
      new java.io.File(s"${genRoot(dir)}/edges").listFiles()
        .map(f => f.getName -> f.lastModified).toSet
    val xorBefore = metaXor
    val before = edgeListing
    PageRankLayout.ensureLayout(spark, dir)
    assert(edgeListing === before, "fresh layout was rebuilt needlessly")
    // swap one row's l_partkey — count preserved, graph changed
    val rows = spark.read.parquet(s"$dir/lineitem.parquet").collect().toSeq
    val mutKey = rows.head.getAs[Long]("l_orderkey")
    val mutPart = rows.head.getAs[Long]("l_partkey")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), src.schema)
      .withColumn("l_partkey",
        when(col("l_orderkey") === mutKey && col("l_partkey") === mutPart,
          col("l_partkey") + 1000000L).otherwise(col("l_partkey")))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(spark.read.parquet(s"$dir/lineitem.parquet").count() === rows.size.toLong)
    PageRankLayout.ensureLayout(spark, dir)
    assert(metaXor !== xorBefore,
      "same-count content change did not trigger a rebuild — stale graph served")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a new session reads the surviving files: no rebuild, zero-Exchange " +
    "iteration join, bit-identical ranks") {
    PageRankLayout.ensureLayout(spark, sf)
    val before = PageRankLayout.fromLayoutRanks(spark, sf, iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    def edgeListing: Set[String] =
      new java.io.File(s"${genRoot(sf)}/edges").listFiles().map(_.getName).toSet
    val files = edgeListing
    // a new session shares the stored files and nothing else: its own
    // conf, no relation resolved by the session that wrote them
    val fresh = spark.newSession()
    PageRankLayout.ensureLayout(fresh, sf)
    assert(edgeListing === files,
      "a new session rebuilt the layout instead of reading the files")
    val after = PageRankLayout.fromLayoutRanks(fresh, sf, iters = 3)
      .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(after === before, "a new session's ranks differ over the same files")
    // a wrong bucket count on read would silently reintroduce the
    // Exchange — pin the join shape over the new session's reads
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val j = currentEdges(sf, fresh)
      .join(rankResult(sf, fresh).hint("shuffle_hash"), col("id") === col("src"))
    j.collect()
    val jPlan = j.queryExecution.executedPlan.toString
    assert(!jPlan.contains("Exchange"),
      s"a new session's reads lost the Exchange-free bucketed join:\n$jPlan")
  }

  test("stale layout (corpus fingerprint mismatch) is rebuilt, fresh one reused") {
    PageRankLayout.ensureLayout(spark, sf)
    val root = PageRankLayout.layoutRoot(sf)
    def edgeFiles: Set[String] =
      new java.io.File(s"${genRoot(sf)}/edges").listFiles().map(_.getName).toSet
    def metaCount: Long = spark.read.parquet(s"$root/meta").head().getLong(0)
    val before = edgeFiles
    // fresh: ensure is a no-op on the files
    PageRankLayout.ensureLayout(spark, sf)
    assert(edgeFiles === before)
    // tamper the fingerprint: ensure must rebuild and restore it
    val meta = spark.read.parquet(s"$root/meta").collect().head
    import spark.implicits._
    Seq((meta.getLong(0) + 1L, meta.getLong(1), meta.getInt(2)))
      .toDF("lineitem_count", "node_count", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
    val live = graft.Tables.lineitem(spark, sf).count()
    assert(metaCount !== live)
    PageRankLayout.ensureLayout(spark, sf)
    assert(metaCount === live, "stale layout was not rebuilt")
  }
}
