package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Invariants of the iterative graph surface (C14 PageRank; connected
  * components is pinned in DedupSpec). */
class GraphSpec extends SparkSpec {

  test("pagerank on a path graph: symmetric ends, center dominates, mass conserved") {
    import spark.implicits._
    // undirected path a—b—c as directed multi-edges
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r = Relational.pageRankRanks(edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) === r(3L)) // symmetry
    assert(r(2L) > r(1L))   // the cut vertex collects rank
    // teleport + no dangling nodes conserve total mass (up to the 1e-9
    // per-iteration snaps)
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("pagerank under a reliable checkpoint dir matches the local-checkpoint ranks") {
    import spark.implicits._
    val dir = tempDir("pr_ckpt").toString
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val local = Relational.pageRankRanks(edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val reliable = Relational.pageRankRanks(edges, iters = 3,
      checkpointDir = Some(dir))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(reliable === local) // bit-identical: same plan, different ckpt medium
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(dir)).nonEmpty,
      "reliable checkpoint dir stayed empty — the op fell back to local checkpoints")
  }

  test("pagerank iteration never broadcasts the rank vector: shuffled joins only") {
    import spark.implicits._
    val np = spark.sessionState.conf.numShufflePartitions
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst").repartition(np, col("src"))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
      .persist()
    try {
      val outw = edges.groupBy("src").agg(sum(col("w")).as("tw"))
      val edgesN = edges.join(outw.hint("shuffle_hash"), Seq("src"))
        .select(col("src"), col("dst"), (col("w") / col("tw")).as("wn"))
        .persist()
      try {
        val nodes = edgesN.select(col("src").as("id")).distinct().persist()
        val cnt = nodes.count()
        val r0 = nodes.select(col("id"), round(lit(1.0 / cnt), 9).as("r"))
          .localCheckpoint(true) // as in the loop: iterations start from a checkpoint
        val step = Relational.pageRankStep(edgesN, nodes, cnt, r0)
        // run THIS QueryExecution's physical plan (a write/count would plan
        // a fresh one) so AQE finalizes and the assertions inspect the real
        // executed shape, not the conservative initial plan
        step.queryExecution.executedPlan.execute().count()
        // Walk the FINALIZED operator tree programmatically (the toString
        // dump interleaves initial-plan sections and nested cached-plan
        // dumps, so text counting double-counts re-planned nodes). The
        // walk flattens AQE wrappers and stops at InMemoryTableScan
        // leaves — nested cache-materialization plans are not this
        // iteration's cost.
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
          case q: QueryStageExec => q +: flatten(q.plan)
          case other => other +: other.children.flatMap(flatten)
        }
        val ops = flatten(step.queryExecution.executedPlan)
        def names = ops.map(_.nodeName)
        val plan = step.queryExecution.executedPlan.toString
        // rank and edges are both data-scaled: neither may be broadcast,
        // and since the node count rides in as a literal there is NO
        // broadcast of any kind left in a step; the persisted
        // pre-partitioned edge scan must not re-exchange (only the
        // freshly-checkpointed rank side and the dst aggregate
        // legitimately shuffle).
        assert(!names.exists(_.contains("BroadcastHashJoin")),
          s"rank frame broadcast:\n$plan")
        assert(names.exists(_.contains("ShuffledHashJoin")),
          s"expected shuffled joins:\n$plan")
        assert(!names.exists(_.contains("BroadcastExchange")),
          s"a step should broadcast nothing:\n$plan")
        // only hash shuffles of data-scaled frames are counted; a
        // SinglePartition gather (bounded 1-row output) is not a scale risk
        val shuffles = ops.count {
          case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            s.outputPartitioning !=
              org.apache.spark.sql.catalyst.plans.physical.SinglePartition
          case _ => false
        }
        assert(shuffles <= 2,
          s"expected at most rank-side + dst-aggregate shuffles, got $shuffles:\n$plan")
      } finally {
        edgesN.select(col("src").as("id")).distinct().unpersist(false)
        edgesN.unpersist(false)
      }
    } finally edges.unpersist(false)
  }

  test("triangle counting: K4, a pendant, and a triangle-free star") {
    import spark.implicits._
    // K4 on {1,2,3,4} = C(4,3) = 4 triangles, every vertex in 3 of them;
    // vertex 5 hangs off 4 (pendant — in no triangle); star 10-{11,12,13}
    // is triangle-free. Exercises the degree tiebreak (K4 is regular) and
    // the orientation (hub 10 has max degree but zero triangles).
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (10L, 11L), (10L, 12L), (10L, 13L)))
      .toDF("u", "v")
    val out = Relational.trianglesPerVertex(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // total triangles = per-vertex sum / 3
    assert(out.values.sum === 12L)
  }

  test("registered triangle query returns a deterministic non-empty top-20") {
    val rows = Relational.c14TriangleCount.fn(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val counts = rows.map(_.getLong(1))
    assert(counts.sameElements(counts.sorted.reverse), "not sorted by n_tri desc")
    assert(counts.forall(_ > 0))
  }

  test("registered pagerank: mass conserved, every rank at least the teleport floor") {
    val rows = Relational.c14PageRank.fn(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    val ranks = rows.map(_.getDouble(1))
    assert(math.abs(ranks.sum - 1.0) < 1e-4) // n * 1e-9 snap error bound
    assert(ranks.forall(_ >= 0.15 / n - 1e-9))
  }
}
