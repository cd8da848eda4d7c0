package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C17 self-checks with planted duplicates (the noOracle queries' evidence). */
class DedupSpec extends SparkSpec {

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
  private val nearDup =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill today"
  private val unrelated =
    "completely different content about distributed query engines and columnar storage formats at scale"

  test("minhashPairs finds planted near-duplicates and not unrelated docs") {
    val docs = docsDf(Seq(
      (1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "short text"), (5L, base))) // 5 is an exact dup of 1
    val pairs = Dedup.minhashPairs(docs, k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 5L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }) // unrelated never passes verify
  }

  test("minhash LSH on sf0.001 documents finds the planted near-dup pairs, all above threshold") {
    val pairs = Dedup.minhashLsh.fn(spark, sf).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.7)) // exact-verified jaccard
  }

  test("minhash LSH recall is exactly 1 vs the exact jaccard join on the current corpus") {
    // The strict-equality DuckDB oracle on c17_minhash_lsh is sound only
    // while recall = 1 on the testdata (see the Dedup.minhashLsh scaladoc);
    // this pins that premise so a testdata regeneration that breaks it
    // fails HERE with a clear message instead of reading as an engine bug.
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairSet(Dedup.minhashLsh.fn(spark, sf))
    // Exact = the collision-linear join with the df cap disabled and source
    // blocking collapsed (minhash is corpus-global, not source-blocked).
    val docs = graft.Tables.documents(spark, sf).withColumn("source", lit("all"))
    val exact = pairSet(
      Dedup.ngramJaccardPairs(docs, threshold = 0.7, dfCap = Int.MaxValue))
    assert(lsh === exact,
      "minhash-LSH pair set diverged from exact jaccard — re-verify the " +
        "c17_minhash_lsh oracle against the regenerated testdata")
  }

  test("incremental dedup finds exactly the cross-split subset of the full pair set") {
    val inc = Dedup.incrementalDedup.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(inc.nonEmpty)
    // flags only new-vs-old pairs, never within-split
    inc.foreach { case (n, o) =>
      assert(n % 5 == 0 && o % 5 != 0, s"($n, $o) is not a new-vs-old pair")
    }
    // equals the full corpus-wide pair set restricted to cross-split pairs
    val full = Dedup.minhashPairs(graft.Tables.documents(spark, sf), 64, 16, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossFull = full.filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
    val incCanon = inc.map { case (n, o) => if (n < o) (n, o) else (o, n) }.toSet
    assert(incCanon === crossFull,
      "incremental probe diverged from the full pair set's cross-split slice")
    // and DIRECTLY against exact all-pairs Jaccard (the DuckDB oracle's own
    // computation): the c17_incremental_dedup strict-equality oracle is
    // sound only while the banded probe misses no cross-split pair above
    // threshold — a borderline pair in a regenerated corpus (jaccard just
    // over 0.7 has a ~1–2% per-pair band-miss probability at k=64/b=16)
    // must fail HERE with this message, not at the oracle gate.
    import org.apache.spark.sql.functions.lit
    val docs = graft.Tables.documents(spark, sf).withColumn("source", lit("all"))
    val exactCross = Dedup.ngramJaccardPairs(docs, threshold = 0.7, dfCap = Int.MaxValue)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 5 == 0) != (b % 5 == 0) }
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    assert(incCanon === exactCross,
      "banded incremental probe lost a cross-split pair vs exact jaccard — " +
        "the recall-1 premise broke; re-verify the c17_incremental_dedup oracle")
  }

  test("hot-gram df cap keeps boilerplate shingles from going quadratic") {
    import spark.implicits._
    // 30 docs sharing a boilerplate opening, each with unique tail content,
    // plus one planted near-dup pair (100, 101) built from rare grams.
    val boiler = "subscribe to our newsletter for updates and offers every week"
    val corpus = (1 to 30).map { i =>
      (i.toLong, s"$boiler unique content piece number n$i with extra words alpha beta gamma v$i")
    } ++ Seq(
      (100L, "rare seahorse document about glacier melting patterns in the arctic circle zone"),
      (101L, "rare seahorse document about glacier melting patterns in the arctic circle zone today"))
    val docs = corpus.toDF("doc_id", "text").withColumn("source", lit("s"))
    // uncapped: every boilerplate doc pairs with every other → quadratic
    val uncapped = Dedup.ngramJaccardPairs(docs, threshold = 0.2, dfCap = 1000).count()
    assert(uncapped > 400) // 30*29/2 boilerplate pairs + the planted pair
    // capped: boilerplate grams (df=30 > 5) carry no signal and are dropped;
    // only the planted rare-gram pair survives
    val capped = Dedup.ngramJaccardPairs(docs, threshold = 0.2, dfCap = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(capped === Set((100L, 101L)))
  }

  test("simhash is deterministic and hamming(identical)=0") {
    val docs = docsDf(Seq((1L, base), (2L, base), (3L, unrelated)))
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("exact dedup keeps the lowest doc_id per identical text") {
    val docs = docsDf(Seq((5L, base), (2L, base), (9L, unrelated)))
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.createOrReplaceTempView("tmp_docs")
    val keep = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"))
      .collect().map(_.getLong(1)).toSet
    assert(keep === Set(2L, 9L))
  }

  test("connected components labels a chain, a separate pair, and needs >1 round") {
    import spark.implicits._
    // 10-20-30-40 is a path (diameter 3: the min label needs several rounds
    // to walk to the far end), 100-200 is an island; both resolve to their
    // smallest member.
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (100L, 200L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      100L -> 100L, 200L -> 100L))
    // maxIter below the path diameter must FAIL LOUDLY — partially-
    // propagated labels are wrong cluster ids, never a silent return
    val raised = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIter = 1).collect()
    }
    assert(raised.getMessage.contains("did not converge"))
  }

  test("a planted diameter-40 duplicate chain converges in O(log) rounds — " +
    "far under the diameter — and a too-low bound still raises") {
    import spark.implicits._
    // a 41-vertex path (diameter 40): one-hop min-label propagation (the
    // round-19 implementation) needed 40 rounds and could only fail loud
    // here; alternating large-star/small-star (round-19 verdict directive
    // 6) contracts it in ~log₂(40) rounds — maxIter = 10 proves the
    // logarithmic rate, not just eventual convergence
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ok = Dedup.connectedComponents(chain, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet === Set(0L) && ok.size === 41)
    // shuffle the ids so the path is not min-sorted along its length —
    // the contraction must not depend on the planted ordering
    val perm = new scala.util.Random(7).shuffle((0L until 41L).toVector)
    val shuffled = (0L until 40L)
      .map(i => (perm(i.toInt), perm(i.toInt + 1))).toDF("doc_a", "doc_b")
    val ok2 = Dedup.connectedComponents(shuffled, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok2.values.toSet === Set(0L) && ok2.size === 41)
    // an unreachable bound still fails loudly rather than returning
    // partially-contracted labels
    val raised = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    assert(raised.getMessage.contains("maxIter"))
  }

  test("connected components under a reliable checkpoint dir: same labels, files written") {
    import spark.implicits._
    val dir = tempDir("cc_ckpt").toString
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (100L, 200L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.connectedComponents(pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      100L -> 100L, 200L -> 100L))
    // the fault-tolerant path really checkpointed to the dir (rdd-* files
    // under the per-app UUID subdirectory), not to executor-local blocks
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    assert(walk(new java.io.File(dir)).nonEmpty,
      "reliable checkpoint dir stayed empty — the op fell back to local checkpoints")
  }

  test("registered cluster query groups every verified near-dup pair") {
    val pairs = Dedup.minhashPairs(
      graft.Tables.documents(spark, sf), k = 64, bands = 16, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dedupClusters.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b)) // paired docs land in one cluster
    }
    clusters.foreach { case (id, c) => assert(c <= id) } // min-label canonical
  }

  test("minhash signature match-rate estimates exact Jaccard within theory bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // high-overlap pair (1,2), disjoint pair (1,3)
    val base = (1 to 60).map(i => s"tok$i")
    val docs = Seq(
      (1L, base.mkString(" ")),
      (2L, (base.drop(12) ++ (1 to 12).map(i => s"new$i")).mkString(" ")),
      (3L, (1 to 60).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val k = 256 // sigma = sqrt(J(1-J)/k) <= 0.032; assert within ~4 sigma
    val sigs = docs.select(col("doc_id"),
      graft.functions.HashExprs.minhashSig(Dedup.tokens(col("text")), 3, k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val shingleSets = docs.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def exactJ(a: Long, b: Long): Double =
      (shingleSets(a) & shingleSets(b)).size.toDouble / (shingleSets(a) | shingleSets(b)).size
    def estJ(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / k
    for ((a, b) <- Seq((1L, 2L), (1L, 3L))) {
      assert(math.abs(estJ(a, b) - exactJ(a, b)) <= 0.13,
        s"pair ($a,$b): est ${estJ(a, b)} vs exact ${exactJ(a, b)}")
    }
    assert(exactJ(1L, 3L) === 0.0) // and the estimator agrees it is far
    assert(estJ(1L, 3L) <= 0.13)
    assert(exactJ(1L, 2L) >= 0.6) // genuinely near-dup
  }

  test("feature-hash embedding: identical token multisets at cosine exactly 1, near-copies found") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact copy
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"), // near copy
      (4L, "totally different vocabulary everywhere here now")
    ).toDF("doc_id", "text")
    val emb = docs.select(col("doc_id").as("vec_id"),
      graft.functions.VectorExprs.featureHashEmbed(Dedup.tokens(col("text")), 64).as("embedding"))
    val pairs = graft.similarity.Similarity
      .nearDupPairs(emb, tables = 8, bits = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) === 1.0) // identical multiset -> identical vector
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 0.9)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
    // registered query: planted near-copies (doc_id+1e6) must be found
    val reg = Dedup.textEmbedNearDup.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(0L, 1L, 2L).foreach(id => assert(reg.contains((id, id + 1000000L)),
      s"planted pair for doc $id missing"))
  }

  test("md5 text-embed twin finds the planted pairs at score ~1, " +
      "is deterministic, and exact copies score exactly 1") {
    import spark.implicits._
    // registered query on real data: planted (id, id+1e6) pairs found
    val r1 = Dedup.textEmbedNearDupMd5.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Seq(0L, 1L, 2L).foreach { id =>
      assert(r1.contains((id, id + 1000000L)),
        s"planted pair for doc $id missing from the md5 twin")
      assert(r1((id, id + 1000000L)) >= 0.95)
    }
    val r2 = Dedup.textEmbedNearDupMd5.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(r1 === r2)
    // identical token multisets -> identical sparse vectors -> cosine
    // exactly 1 through the integer pipeline (doc 7 is a verbatim copy of
    // doc 5's text; both share no 0.95-neighbor with doc 9)
    val docs = Seq(
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (9L, "totally different vocabulary everywhere here now")
    ).toDF("doc_id", "text")
    val out = Dedup.textEmbedMd5Pairs(docs, planes = 16, tables = 8, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet.exists { case (a, b) => a == 5L && b == 7L })
    assert(out((5L, 7L)) === 1.0)
    assert(!out.keySet.exists { case (a, b) => a == 9L || b == 9L })
  }

  test("span dedup finds exactly the planted aligned 16-token overlap") {
    import spark.implicits._
    val words = (1 to 24).map(i => s"w$i")
    val docs = Seq(
      (1L, words.mkString(" ")),                 // w1..w24
      (2L, words.slice(4, 24).mkString(" ")),    // w5..w24: shares a 20-token run
      (3L, (1 to 24).map(i => s"x$i").mkString(" ")) // disjoint vocabulary
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupPairs(docs, k = 16, dfCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // a shared 20-token run contains 20-16+1 = 5 aligned 16-windows
    assert(out === Map((1L, 2L) -> 5))
  }

  test("span dedup df cap drops boilerplate spans shared by too many docs") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = (1L to 70L).map(id => (id, boiler)).toDF("doc_id", "text")
    // the one span occurs in 70 > dfCap docs → dropped, no pairs at all
    assert(Dedup.spanDedupPairs(docs, k = 16, dfCap = 64).count() === 0)
    // with a cap above the df, all 70·69/2 pairs appear
    assert(Dedup.spanDedupPairs(docs, k = 16, dfCap = 128).count() === 70L * 69 / 2)
  }

  test("edit-distance join finds substitution AND insertion pairs, never ed>1") {
    import spark.implicits._
    // ids assigned in lexicographic name order (the function's pair-order contract)
    val strings = Seq(
      (1L, "abc"),   // ed("abc","abd")=1 substitution; ed("abc","abxc")=1 insertion
      (2L, "abd"),
      (3L, "abxc"),  // ed("abd","abxc")=2 — candidate via shared variants, must be verified away
      (4L, "zzz")
    ).toDF("id", "name")
    val pairs = Dedup.editDistPairs(strings)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("abc", "abd"), ("abc", "abxc")))
  }

  test("passage dedup drops repeated blocks corpus-wide and keeps first occurrences") {
    import spark.implicits._
    val blockA = (1 to 32).map(i => s"a$i").mkString(" ")
    val blockB = (1 to 32).map(i => s"b$i").mkString(" ")
    val blockC = (1 to 32).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$blockA $blockB"), // first occurrence of A and B: all kept
      (2L, s"$blockA $blockC"), // A is a repeat, C is fresh
      (3L, s"$blockA $blockB")  // exact dup of doc 1: nothing kept
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedupSummary(docs, k = 32)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) === ((2, 2, out(1L)._3)))
    assert(out(2L)._1 === 2 && out(2L)._2 === 1)
    assert(out(3L) === ((2, 0, java.security.MessageDigest.getInstance("MD5")
      .digest("".getBytes).map("%02x".format(_)).mkString)))
  }

  test("fused deletion-variant hashes equal the substr/concat/xxhash64 composition") {
    import spark.implicits._
    // doubled chars (de-dup), 1-char, empty, and multibyte (é is 2 UTF-8
    // bytes — character deletion must drop the whole byte run)
    val df = Seq("abc", "aabb", "x", "", "café", "ééé").toDF("name")
    val legacy = array_distinct(transform(
      sequence(lit(0), length(col("name"))),
      i => xxhash64(when(i === 0, col("name")).otherwise(concat(
        col("name").substr(lit(1), i - 1),
        col("name").substr(i + 1, length(col("name"))))))))
    val rows = df.select(
      col("name"),
      graft.functions.HashExprs.deletionVariantHashes(col("name")).as("fused"),
      legacy.as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"for '${r.getString(0)}'")
    }
  }

  test("edit-distance join recall is exact vs brute-force levenshtein on random strings") {
    import spark.implicits._
    // random lowercase strings over a 3-letter alphabet, length 4-7: small
    // alphabet + short strings force dense ed<=1 neighborhoods, exercising
    // substitution, insertion AND deletion pairs in one corpus
    val rnd = new scala.util.Random(20260813)
    val strings = (1 to 120).map(_ =>
      (1 to (4 + rnd.nextInt(4))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      .distinct.sorted.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = strings.toDF("id", "name")
    val got = Dedup.editDistPairs(df)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = strings.map(_._2)
    val want = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 1
    } yield (a, b)).toSet
    assert(got === want) // exact recall AND no false positives
  }

  test("containment flags a prefix-subset doc that symmetric jaccard misses") {
    import spark.implicits._
    val small = (1 to 12).map(i => s"s$i").mkString(" ")
    val big = small + " " + (1 to 80).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, "web", small), (2L, "web", big),
      (3L, "web", (1 to 40).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val inter = Dedup.gramIntersections(docs, dfCap = 64)
      .collect().map(r => (r.getLong(1), r.getLong(3)) ->
        ((r.getInt(2), r.getInt(4), r.getLong(5)))).toMap
    val ((na, nb, i)) = inter((1L, 2L))
    // every trigram of the prefix doc is inside the long doc: containment 1
    assert(i === na)
    // while symmetric jaccard is far below any dedup threshold
    assert(i.toDouble / (na + nb - i) < 0.2)
    assert(!inter.contains((1L, 3L)) && !inter.contains((2L, 3L)))
  }
}
