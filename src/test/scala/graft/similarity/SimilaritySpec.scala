package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** C18 self-checks: cosine math against hand-computed values; ANN candidates
  * score identically to brute force. */
class SimilaritySpec extends SparkSpec {

  test("cosine of hand-checked vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f)), (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val scored = df.as("a").crossJoin(df.as("b"))
      .select(
        col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        (Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (sqrt(Similarity.norm2(col("a.embedding"))) *
            sqrt(Similarity.norm2(col("b.embedding"))))).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(scored((1L, 2L)) - 0.0) < 1e-12)       // orthogonal
    assert(math.abs(scored((1L, 4L)) - 1.0) < 1e-12)       // parallel
    assert(math.abs(scored((1L, 3L)) - math.sqrt(0.5)) < 1e-12)
  }

  test("codegen CosineSim matches the independent HOF composition bit-for-bit") {
    val emb = graft.Tables.embeddings(spark, sf).limit(50)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
    val both = pairs.select(
      graft.functions.VectorExprs.cosineSim(col("ea"), col("eb")).as("fused"),
      (Similarity.dot(col("ea"), col("eb")) /
        (sqrt(Similarity.norm2(col("ea"))) * sqrt(Similarity.norm2(col("eb"))))).as("composed"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("brute-force knn returns 5 ranked neighbors per query, scores descending") {
    val out = Similarity.knnBrute.fn(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { rows =>
      assert(rows.length === 5)
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF results carry exact scores and reasonable recall vs brute top-3") {
    val brute = Similarity.knnBrute.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteTop3 = Similarity.knnBrute.fn(spark, sf).collect()
      .filter(_.getInt(1) <= 3).map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.annIvf.fn(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val (q, n, s) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      brute.get((q, n)).foreach(bs => assert(math.abs(bs - s) < 1e-12))
    }
    // recall isn't guaranteed for an ANN index, but with 16 lists and 4
    // probes on 500 vectors it should find at least a third of the true top-3
    val found = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(found.intersect(bruteTop3).size * 3 >= bruteTop3.size)
  }

  test("IVF-PQ rerank scores are exact and recall vs brute top-3 is reasonable") {
    val brute = Similarity.knnBrute.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val bruteTop3 = Similarity.knnBrute.fn(spark, sf).collect()
      .filter(_.getInt(1) <= 3).map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.annIvfPq.fn(spark, sf).collect()
    assert(pq.nonEmpty)
    // the rerank refetches raw vectors, so every REPORTED score is the true
    // cosine — approximation only decides which neighbors made the shortlist
    pq.foreach { r =>
      val (q, n, s) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      brute.get((q, n)).foreach(bs => assert(math.abs(bs - s) < 1e-12))
    }
    val found = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(found.intersect(bruteTop3).size * 3 >= bruteTop3.size)
  }

  test("PQ encode/LUT expressions agree bit-for-bit with a driver-local reference") {
    val embDf = graft.Tables.embeddings(spark, sf)
    val m = 8; val k = 16
    val sample = Similarity.collectSample(embDf)
    val books = Similarity.pqCodebooks(
      sample.map(p => Similarity.l2NormLocal(p._2)), m, k, iters = 3)
    val bookArr = books.map(_.toArray).toArray
    val rows = embDf.limit(32).select(
      col("embedding"),
      graft.functions.VectorExprs.pqEncode(
        graft.functions.VectorExprs.l2Normalize(col("embedding")), books, m, k).as("codes"),
      graft.functions.VectorExprs.pqLut(
        graft.functions.VectorExprs.l2Normalize(col("embedding")), books, m, k).as("lut"),
      graft.functions.VectorExprs.pqAdcScore(
        graft.functions.VectorExprs.pqEncode(
          graft.functions.VectorExprs.l2Normalize(col("embedding")), books, m, k),
        graft.functions.VectorExprs.pqLut(
          graft.functions.VectorExprs.l2Normalize(col("embedding")), books, m, k),
        k).as("self_adc"))
      .collect()
    rows.foreach { r =>
      val v = Similarity.l2NormLocal(r.getSeq[Float](0).toArray)
      val dsub = v.length / m
      // reference encode: per-subspace argmin squared L2, lowest id on ties
      val refCodes = (0 until m).map { s =>
        val base = s * dsub
        (0 until k).minBy { j =>
          val cw = bookArr(s * k + j)
          var dist = 0.0
          var i = 0
          while (i < dsub) { val d = v(base + i).toDouble - cw(i).toDouble; dist += d * d; i += 1 }
          dist
        }
      }
      assert(r.getSeq[Int](1) === refCodes)
      // reference LUT: inner product of each sub-vector with each codeword
      val refLut = (0 until m).flatMap { s =>
        val base = s * dsub
        (0 until k).map { j =>
          val cw = bookArr(s * k + j)
          var dot = 0.0
          var i = 0
          while (i < dsub) { dot += v(base + i).toDouble * cw(i).toDouble; i += 1 }
          dot
        }
      }
      val gotLut = r.getSeq[Double](2)
      refLut.zip(gotLut).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) === java.lang.Double.doubleToLongBits(b))
      }
      // ADC = sum of the code-indexed LUT entries (here: the vector's own
      // quantized self-similarity, which must approach |v|² = 1)
      val refAdc = refCodes.zipWithIndex.map { case (c, s) => refLut(s * k + c) }.sum
      assert(java.lang.Double.doubleToLongBits(refAdc) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
      // the quantized self-similarity is bounded by |v|² = 1 and positive
      // (how CLOSE to 1 depends on how quantizable the vector is — observed
      // down to ~0.4 on this synthetic corpus's hardest vectors)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("PQ codebooks are bit-deterministic and training moves codewords") {
    val sample = Similarity.collectSample(graft.Tables.embeddings(spark, sf))
      .map(p => Similarity.l2NormLocal(p._2))
    val a = Similarity.pqCodebooks(sample, m = 8, k = 16, iters = 3)
    val b = Similarity.pqCodebooks(sample, m = 8, k = 16, iters = 3)
    assert(a === b)
    val init = Similarity.pqCodebooks(sample, m = 8, k = 16, iters = 0)
    assert(a !== init)
  }

  test("k-means centroids are bit-deterministic across runs and move from init") {
    val emb = graft.Tables.embeddings(spark, sf)
    val a = Similarity.kmeansCentroids(emb, c = 16, iters = 3)
    val b = Similarity.kmeansCentroids(emb, c = 16, iters = 3)
    assert(a.map(_._1) === (0L until 16L))
    assert(a.map(_._2) === b.map(_._2)) // decimal-accumulated means: exact
    val init = Similarity.kmeansCentroids(emb, c = 16, iters = 0)
    assert(a.map(_._2) !== init.map(_._2)) // training actually updated them
  }

  test("embedding near-dup pairs are symmetric-half only and all above threshold") {
    val rows = Similarity.embNearDup.fn(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.9)
    }
  }

  test("bucketed near-dup has pair-set parity with the all-pairs baseline on planted near-dups") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = Seq.fill(20)(vec())
    // two planted near-identical pairs: (0,100) and (1,101)
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((100L, base(0).map(_ + 0.001f)), (101L, base(1).map(_ + 0.001f)))
    val df = rows.toDF("vec_id", "embedding")
    val allPairs = df.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"))
      .join(df.select(col("vec_id").as("vec_b"), col("embedding").as("e_b")),
        col("vec_a") < col("vec_b"))
      .withColumn("score", graft.functions.VectorExprs.cosineSim(col("e_a"), col("e_b")))
      .where(col("score") >= 0.9)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.nearDupPairs(df, tables = 8, bits = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(allPairs.contains((0L, 100L)) && allPairs.contains((1L, 101L)))
    assert(bucketed === allPairs) // near-identical vectors collide in every table
  }

  test("registered bucketed near-dup is a subset of the all-pairs baseline on real data") {
    val brute = Similarity.embNearDup.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.embNearDupLsh.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
  }

  test("ANN-LSH results are a subset of correct scores (same score as brute for that pair)") {
    val brute = Similarity.knnBrute.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // score every pair brute-force for validation of ANN output values
    val ann = Similarity.annLsh.fn(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val (q, n, s) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      brute.get((q, n)).foreach(bs => assert(math.abs(bs - s) < 1e-12))
      assert(s <= 1.0 + 1e-9 && s >= -1.0 - 1e-9)
    }
  }

  test("semantic dedup drops every planted near-identical copy, keeps the originals") {
    val corpus = Similarity.injectedCorpus(graft.Tables.embeddings(spark, sf))
    val total = corpus.count()
    val kept = Similarity.semanticDedupKept(corpus, c = 16, tau = 0.9)
      .collect().map(_.getLong(0)).toSet
    // the planted copies (vec_id = original + 1,000,000, cosine 0.97–0.998)
    // must fall to a lower-id in-cluster near-dup — their original
    Seq(1000000L, 1000001L, 1000002L).foreach(id => assert(!kept.contains(id)))
    assert(Set(0L, 1L, 2L).subsetOf(kept))
    // no genuine ≥0.9 pairs exist in the testdata (max real pair cosine
    // ~0.5), so exactly the three planted copies are dropped
    assert(kept.size === total - 3)
  }

  test("radius search agrees with brute-force scores and respects the threshold") {
    val out = Similarity.radiusSearch.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(2) >= 0.3))
    // symmetric sanity: if (q, n) qualifies with q,n < 20 then (n, q) does too
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs.filter { case (_, n) => n < 20 }
      .foreach { case (q, n) => assert(pairs.contains((n, q))) }
  }

  test("bitsFor holds bucket load ~constant: width grows with the corpus, clamped") {
    // spec-scale corpora keep today's pinned 8-bit behavior
    assert(Similarity.bitsFor(500) === 8)
    assert(Similarity.bitsFor(5000) === 8)
    // 10x bench scale: ceil(log2(50000/64)) = 10
    assert(Similarity.bitsFor(50000) === 10)
    // load ~target at any n: buckets >= n/target within a factor of 2
    for (n <- Seq(100000L, 10000000L, 1000000000L)) {
      val bits = Similarity.bitsFor(n)
      val load = n.toDouble / (1L << bits)
      assert(load <= 64.0 * 1.01 || bits === 24,
        s"n=$n bits=$bits load=$load")
    }
    // clamp: never past 24 bits (int bucket ids, and 16M buckets suffice)
    assert(Similarity.bitsFor(Long.MaxValue / 2) === 24)
  }

  test("md5-twin buckets match a driver-side exact recomputation; planted " +
      "near-dups collide under both the twin and the SRP scale scheme") {
    import spark.implicits._
    val emb = Similarity.injectedCorpus(graft.Tables.embeddings(spark, sf))
    // 1. the distributed md5Buckets pipeline == an independent driver-side
    // recomputation from first principles (MessageDigest, not Spark md5) —
    // the derivation-anchor property: every engine computing "md5 parity →
    // ±1 weights → floor-quantized integer dot → sign bits" gets THIS map.
    val buckets = Similarity.md5Buckets(emb, planes = 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val local = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    def weight(p: Int, d: Int): Long = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${p}_$d".getBytes("UTF-8"))
      if ("02468ace".contains("%02x".format(digest(0) & 0xff).charAt(0))) 1L
      else -1L
    }
    assert(local.nonEmpty && buckets.size === local.length)
    local.foreach { case (id, v) =>
      var expected = 0
      (0 until 8).foreach { p =>
        var dot = 0L
        v.indices.foreach { d =>
          dot += weight(p, d) * math.floor(v(d).toDouble * 1000).toLong
        }
        if (dot >= 0) expected |= 1 << p
      }
      assert(buckets(id) === expected, s"vec $id")
    }
    // 2. the planted near-identical copies (injectedCorpus: last element
    // zeroed, cosine 0.97+) agree with their originals on all-or-all-but-
    // one of the twin's 8 sign bits: a bit flips only when a per-plane dot
    // sits within |w·q_last| of zero (measured on this corpus: pair 0
    // flips exactly plane 1, pairs 1–2 collide exactly — deterministic,
    // pinned). This is precisely WHY the scale path runs multiple tables:
    // a single-table signature splits near-boundary pairs; the twin is a
    // derivation anchor for the bucketing arithmetic, not a recall-optimal
    // index.
    val hammings = (0 until 3).map { i =>
      Integer.bitCount(buckets(i.toLong) ^ buckets(i + 1000000L))
    }
    assert(hammings.forall(_ <= 1), s"planted-pair sign flips: $hammings")
    assert(hammings.count(_ == 0) >= 2, s"planted-pair sign flips: $hammings")
    // 3. the same pairs collide in ≥1 of the SRP scale path's 8 tables —
    // the recall property c17_embedding_neardup_lsh's exact oracle already
    // relies on, asserted here directly against the fused SrpBuckets
    // expression so twin and scale path are pinned to agree on WHAT a
    // near-exact duplicate does: it shares a bucket.
    val srp = emb
      .where(col("vec_id") < 3 || col("vec_id") >= 1000000L)
      .select(col("vec_id"),
        graft.functions.VectorExprs.srpBuckets(col("embedding"), 8, 8).as("b"))
      .as[(Long, Array[Int])].collect().toMap
    (0 until 3).foreach { i =>
      val shared = srp(i.toLong).zip(srp(i + 1000000L)).count { case (x, y) => x == y }
      assert(shared >= 1, s"planted pair $i shares no SRP table bucket")
    }
  }

  test("IVF exact-twin pipeline matches a driver-side recomputation; planted " +
      "near-identicals co-locate under both the twin and the float scale scheme") {
    import spark.implicits._
    // 1. the distributed c18_ann_ivf_md5 pipeline == an independent
    // driver-side recomputation from first principles (plain Scala integer
    // arithmetic, no Spark) — the derivation-anchor property: every engine
    // computing "floor-quantize → init from 16 lowest sample ids → 2
    // integer-L2 Lloyd steps with floor-means → assign → 2-probe → rounded
    // cosine rerank" gets THIS candidate list.
    val emb = graft.Tables.embeddings(spark, sf)
    val local = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000).toLong + 1024L)
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double = // mirror of Spark round(_, 6): HALF_UP
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def twinCells(corpus: Array[(Long, Array[Float])])
        : (Map[Long, Int], Map[Int, Array[Long]]) = {
      val qv = corpus.map { case (id, v) => id -> quant(v) }.toMap
      val sample = corpus.map(_._1).filter(_ % 4 == 0).sorted.take(4096)
      var cents: Map[Int, Array[Long]] =
        sample.take(16).zipWithIndex.map { case (id, c) => c -> qv(id) }.toMap
      def ranked(id: Long, cs: Map[Int, Array[Long]]): Seq[Int] =
        cs.toSeq.map { case (c, ct) => (dist(qv(id), ct), c) }.sorted.map(_._2)
      (1 to 2).foreach { _ =>
        val a = sample.map(id => id -> ranked(id, cents).head).toMap
        cents = cents.map { case (c, old) =>
          val members = sample.filter(a(_) == c)
          c -> (if (members.isEmpty) old
                else Array.tabulate(64)(d =>
                  math.floor(members.map(qv(_)(d)).sum.toDouble / members.size).toLong))
        }
      }
      (corpus.map { case (id, _) => id -> ranked(id, cents).head }.toMap, cents)
    }
    val (cells, cents) = twinCells(local)
    val qvAll = local.map { case (id, v) => id -> quant(v) }.toMap
    val vecs = local.toMap
    def probes2(id: Long): Seq[Int] =
      cents.toSeq.map { case (c, ct) => (dist(qvAll(id), ct), c) }
        .sorted.take(2).map(_._2)
    val expected = (for {
      q <- local.map(_._1).filter(_ < 5)
      cId <- probes2(q)
      (n, _) <- local if cells(n) == cId && n != q
    } yield (q, cId, n, r6(cosL(vecs(q), vecs(n)))))
      .groupBy(_._1).toSeq.flatMap { case (q, cand) =>
        cand.sortBy { case (_, _, n, s) => (-s, n) }.zipWithIndex
          .map { case ((_, c, n, s), i) => (q, i + 1, c, n, s) }
      }.toSet
    val got = Similarity.annIvfMd5.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got.nonEmpty && got === expected)
    // 2. twin/scale-path cell agreement on the planted near-identical
    // copies (injectedCorpus: cosine 0.97–0.998 to their originals):
    //  - twin (integer-L2) — every copy lands in its original's home cell
    //    (measured deterministic on this corpus, pinned);
    //  - float scale scheme (kmeansFromSample + cosine argmax, the annIvf
    //    trainer) — at least 2 of 3 co-locate, and EVERY pair shares its
    //    2-probe set both ways (copy's home ∈ original's probes and vice
    //    versa): the multi-probe recovery that semanticDedupKept relies on
    //    for exactly this flip mode (a zeroed last element can move the
    //    argmax centroid; it cannot leave the probe neighborhood).
    val injected = local ++ (0 until 3).map { i =>
      (i + 1000000L, vecs(i.toLong).take(63) :+ 0.0f)
    }
    val (iCells, _) = twinCells(injected.sortBy(_._1))
    (0 until 3).foreach { i =>
      assert(iCells(i.toLong) === iCells(i + 1000000L),
        s"twin: planted copy $i left its original's cell")
    }
    val iSample = injected.filter(_._1 % 4 == 0).sortBy(_._1)
    val model = Similarity.kmeansFromSample(iSample.map(p => (p._1, p._2)), c = 16, iters = 3)
    def floatRanked(v: Array[Float]): Seq[Int] =
      model.zipWithIndex.map { case ((_, ct), k) =>
        (-cosL(v, ct.map(_.toFloat).toArray), k)
      }.sorted.map(_._2)
    val iVecs = injected.toMap
    val colocated = (0 until 3).count { i =>
      floatRanked(iVecs(i.toLong)).head === floatRanked(iVecs(i + 1000000L)).head
    }
    assert(colocated >= 2, s"scale scheme: only $colocated/3 planted pairs co-locate")
    (0 until 3).foreach { i =>
      val o = floatRanked(iVecs(i.toLong)); val c = floatRanked(iVecs(i + 1000000L))
      assert(c.take(2).contains(o.head) && o.take(2).contains(c.head),
        s"scale scheme: planted pair $i not recovered by 2-probe")
    }
  }

  test("IVF-PQ exact-twin pipeline matches a driver-side recomputation " +
      "from first principles") {
    import spark.implicits._
    // Independent reimplementation (plain Scala, no Spark, no library
    // trainers): floor-quantize → coarse integer Lloyd (init from the 16
    // lowest sample ids, 2 steps, floor-means) → per-subspace PQ Lloyd →
    // encode → LUT → ADC over the 2-probe candidate lists → top-20 ADC
    // shortlist → 1e-6-rounded cosine rerank. Any engine following the
    // c18_ann_ivfpq_md5 derivation contract must produce THIS row set.
    val emb = graft.Tables.embeddings(spark, sf)
    val local = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000).toLong + 1024L)
    def dist(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // generic integer Lloyd: ties to the lowest cell id via tuple order
    def lloyd(sample: Seq[(Long, Array[Long])], k: Int,
        iters: Int): IndexedSeq[Array[Long]] = {
      var cents = sample.take(k).map(_._2).toIndexedSeq
      def best(v: Array[Long]): Int =
        cents.zipWithIndex.map { case (ct, c) => (dist(v, ct), c) }.min._2
      (1 to iters).foreach { _ =>
        val assign = sample.map { case (_, v) => best(v) }
        cents = cents.zipWithIndex.map { case (old, c) =>
          val members = sample.zip(assign).collect { case ((_, v), a) if a == c => v }
          if (members.isEmpty) old
          else Array.tabulate(old.length)(d =>
            math.floor(members.map(_(d)).sum.toDouble / members.size).toLong)
        }
      }
      cents
    }
    val qv = local.map { case (id, v) => id -> quant(v) }.toMap
    val sample = local.map(_._1).filter(_ % 4 == 0).sorted.take(4096)
      .map(id => id -> qv(id))
    val coarse = lloyd(sample, 16, 2)
    def rankedCells(id: Long): Seq[Int] =
      coarse.zipWithIndex.map { case (ct, c) => (dist(qv(id), ct), c) }
        .sorted.map(_._2)
    val home = local.map(_._1).map(id => id -> rankedCells(id).head).toMap
    val books = (0 until 8).map { s =>
      lloyd(sample.map { case (id, v) => id -> v.slice(s * 8, s * 8 + 8) }, 16, 2)
    }
    def code(id: Long, s: Int): Int =
      books(s).zipWithIndex
        .map { case (cw, j) => (dist(qv(id).slice(s * 8, s * 8 + 8), cw), j) }
        .min._2
    def lutDist(q: Long, s: Int, j: Int): Long =
      dist(qv(q).slice(s * 8, s * 8 + 8), books(s)(j))
    val vecs = local.toMap
    val expected = local.map(_._1).filter(_ < 5).flatMap { q =>
      val probeSet = rankedCells(q).take(2).toSet
      val adc = local.map(_._1)
        .filter(n => n != q && probeSet.contains(home(n)))
        .map(n => (n, (0 until 8).map(s => lutDist(q, s, code(n, s))).sum))
      adc.sortBy { case (n, a) => (a, n) }.take(20)
        .map { case (n, a) => (n, a, r6(cosL(vecs(q), vecs(n)))) }
        .sortBy { case (n, _, sc) => (-sc, n) }.zipWithIndex
        .map { case ((n, a, sc), i) => (q, i + 1, n, a, sc) }
    }.toSet
    val got = Similarity.annIvfPqMd5.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet
    assert(got.nonEmpty && got === expected)
  }

  test("semantic-dedup exact twin drops every planted copy, keeps the " +
      "originals, and is deterministic") {
    val kept = Similarity.semanticDedupMd5.fn(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val all = Similarity.injectedCorpus(graft.Tables.embeddings(spark, sf))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    (0 until 3).foreach { i =>
      assert(kept(i.toLong), s"original $i was dropped")
      assert(!kept(i + 1000000L), s"planted copy $i survived the prune")
    }
    assert(kept.subsetOf(all) && kept.size >= all.size - 16,
      "twin pruned far more than the planted copies at spec scale")
    val again = Similarity.semanticDedupMd5.fn(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("clusterCountFor scales C with the corpus, clamped to the spec and model bounds") {
    assert(Similarity.clusterCountFor(500) === 16)   // spec scale: pinned C
    assert(Similarity.clusterCountFor(4096) === 16)
    assert(Similarity.clusterCountFor(20000) === 78) // sf1: ~256/cluster
    assert(Similarity.clusterCountFor(Long.MaxValue / 2) === 2048)
    // monotone non-decreasing across the whole range
    val cs = Seq(1L, 1000L, 10000L, 100000L, 10000000L)
      .map(Similarity.clusterCountFor(_))
    assert(cs === cs.sorted)
  }
}
