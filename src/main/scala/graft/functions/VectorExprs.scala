package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType}
import org.apache.spark.sql.GraftBridge

/** Fused cosine similarity as a native Catalyst expression with whole-stage
  * codegen: one loop accumulates dot, |a|² and |b|² together, then
  * dot / (sqrt(na)·sqrt(nb)).
  *
  * Why an Expression and not the zip_with/aggregate composition: higher-order
  * functions evaluate a lambda per element with variable binding and boxing
  * (and block codegen); this compiles to a tight primitive float loop inside
  * the generated code. Interleaving the three accumulators preserves each
  * accumulator's left-to-right addition order, so results are bit-identical
  * to the sequential composition (and to DuckDB's list_cosine_similarity).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection LSH buckets for all hash tables in one pass:
  * plane component (t, i, j) = ±1 from splitmix64(t, i, j); bit i of table
  * t's bucket is the sign of the projection. Returns array<int> of `tables`
  * bucket ids in [0, 2^bits). Replaces a triple-nested higher-order-function
  * composition (tables × bits × dims interpreted lambdas per row) with one
  * primitive loop; planes stay implicit/deterministic so both sides of the
  * bucket join recompute them identically.
  *
  * The ±1 plane matrix is a pure function of (tables, bits, dims), so it is
  * materialized once per executor in [[SrpPlanes]] instead of re-deriving
  * tables × bits × dims splitmix64 mixes per row (4096 mixes/row at
  * 8×8×64 — formerly the dominant cost of every SRP signature pass).
  */
case class SrpBuckets(child: Expression, tables: Int, bits: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "srp_buckets"

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val dims = v.numElements()
    val planes = SrpPlanes.get(tables, bits, dims)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var i = 0
      while (i < bits) {
        var proj = 0.0
        var j = 0
        val base = (t * bits + i) * dims
        while (j < dims) {
          proj += v.getFloat(j) * planes(base + j)
          j += 1
        }
        if (proj >= 0) bucket |= (1 << i)
        i += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpBuckets =
    copy(child = newChild)
}

/** Per-JVM cache of SRP plane-sign matrices. Planes are deterministic
  * (splitmix64 of the (table, bit, dim) index — the SAME formula the
  * per-row loop previously evaluated inline), so concurrent builds race
  * benignly to identical arrays. Row-major layout: ((t·bits)+i)·dims+j. */
object SrpPlanes {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  def get(tables: Int, bits: Int, dims: Int): Array[Double] =
    cache.computeIfAbsent((tables, bits, dims), { key =>
      val (t0, b0, d0) = key
      val planes = new Array[Double](t0 * b0 * d0)
      var t = 0
      while (t < t0) {
        var i = 0
        while (i < b0) {
          val planeSeed = (t.toLong << 32) | (i.toLong << 16)
          var j = 0
          while (j < d0) {
            planes((t * b0 + i) * d0 + j) =
              if ((HashMix.mix(planeSeed | j) & 1L) == 0L) 1.0 else -1.0
            j += 1
          }
          i += 1
        }
        t += 1
      }
      planes
    })
}

/** The `keep` nearest centroids of a float vector by cosine (descending
  * score, centroid id ascending on ties), as array<long> of centroid ids.
  *
  * This is the IVF assignment step as a map-side expression: the trained
  * model (C × dims floats, a few KB) rides inside the expression, so
  * assigning a corpus vector to its inverted list costs one fused loop per
  * row — no row expansion, no join, no shuffle. The previous formulation
  * cross-joined every row against the broadcast centroid table (C× row
  * expansion carrying the embedding payload) and then shuffled the whole
  * corpus through a groupBy/max_by to undo the expansion; at scale the
  * assignment pass is embarrassingly parallel and must stay map-only.
  *
  * Scores accumulate dot/|a|²/|b|² in double over the float elements in the
  * same interleaved order as [[CosineSim]], so scores — and therefore
  * assignments — are bit-identical to the join formulation. Ties keep the
  * lowest centroid id (centroids are scanned in ascending-id order with a
  * strict-greater win).
  */
case class NearestCentroids(
    child: Expression,
    ids: Seq[Long],
    cents: Seq[Seq[Float]],
    keep: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val centArr: Array[Array[Float]] =
    cents.map(_.toArray).toArray
  @transient private lazy val idArr: Array[Long] = ids.toArray

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val c = centArr.length
    val scores = new Array[Double](c)
    var k = 0
    while (k < c) {
      val cent = centArr(k)
      val n = math.min(v.numElements(), cent.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < n) {
        val xi = v.getFloat(j).toDouble
        val yi = cent(j).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        j += 1
      }
      scores(k) = dot / (math.sqrt(na) * math.sqrt(nb))
      k += 1
    }
    val m = math.min(keep, c)
    val out = new Array[Long](m)
    val taken = new Array[Boolean](c)
    var r = 0
    while (r < m) {
      var best = -1
      var k2 = 0
      while (k2 < c) { // ascending-id scan, strict > : lowest id wins ties
        if (!taken(k2) && (best < 0 || scores(k2) > scores(best))) best = k2
        k2 += 1
      }
      taken(best) = true
      out(r) = idArr(best)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** Feature-hashing text embedding (the hashing trick — Weinberger et al.
  * 2009, arXiv:0902.2206): token t contributes ±1 to dimension
  * `murmur(t) mod dims`, sign from an independent bit of the mixed hash;
  * the result is L2-normalized. This is the in-engine bridge from raw text
  * to the `array<float>` similarity/dedup operators — no external model,
  * one pass per row, map-side only, and identical vectors for identical
  * token multisets (so exact duplicates embed at cosine exactly 1).
  * Input: array<string> tokens. Output: array<float> of `dims`.
  */
case class FeatureHashEmbed(child: Expression, dims: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "feature_hash_embed"

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val acc = new Array[Double](dims)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
      val d = java.lang.Math.floorMod(h, dims)
      // sign from an independent mixed bit, not the index bits
      val sign = if ((HashMix.mix(h.toLong) & 1L) == 0L) 1.0 else -1.0
      acc(d) += sign
      i += 1
    }
    var norm2 = 0.0
    var j = 0
    while (j < dims) { norm2 += acc(j) * acc(j); j += 1 }
    val inv = if (norm2 == 0.0) 0.0 else 1.0 / math.sqrt(norm2)
    val out = new Array[Float](dims)
    j = 0
    while (j < dims) { out(j) = (acc(j) * inv).toFloat; j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): FeatureHashEmbed =
    copy(child = newChild)
}

/** L2-normalize a float vector (zero vectors pass through unchanged). With
  * both sides unit-norm, inner product = cosine, which is what lets the
  * PQ asymmetric-distance scores below rank by cosine. */
case class L2Normalize(child: Expression) extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "l2_normalize"

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var norm2 = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; norm2 += x * x; i += 1 }
    val inv = if (norm2 == 0.0) 1.0 else 1.0 / math.sqrt(norm2)
    val out = new Array[Float](n)
    i = 0
    while (i < n) { out(i) = (v.getFloat(i).toDouble * inv).toFloat; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): L2Normalize =
    copy(child = newChild)
}

/** Product-quantization encode (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search"): the vector is split into `m`
  * contiguous subspaces of dims/m dimensions; each sub-vector is replaced by
  * the id of its nearest (squared-L2, ties → lowest id) codeword among that
  * subspace's `k` codewords. Output: array<int> of `m` codes in [0, k).
  *
  * This is the map-side index-build step: after it runs, the raw embedding
  * is DROPPED and the inverted index carries m small ints per vector
  * (m=8, k=16 → 8 codes ≈ 4 bits each vs 64 × 4-byte floats — the
  * compression that lets a 100 TB corpus's ANN index live in memory).
  * `books` is the trained codebook, row-major: entry (s·k + j) holds
  * subspace s's codeword j. Trained driver-locally on a bounded sample
  * ([[graft.similarity.Similarity.pqCodebooks]]), rides inside the
  * expression like [[NearestCentroids]] — no join, no shuffle.
  */
case class PqEncode(child: Expression, books: Seq[Seq[Float]], m: Int, k: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  @transient private lazy val bookArr: Array[Array[Float]] =
    books.map(_.toArray).toArray

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dsub = v.numElements() / m
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var best = 0
      var bestDist = Double.MaxValue
      var j = 0
      while (j < k) {
        val cw = bookArr(s * k + j)
        var dist = 0.0
        var i = 0
        while (i < dsub) {
          val d = v.getFloat(base + i).toDouble - cw(i).toDouble
          dist += d * d
          i += 1
        }
        if (dist < bestDist) { bestDist = dist; best = j } // strict < : lowest id wins ties
        j += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance lookup table for one query vector: entry (s·k + j) =
  * inner product of the query's subspace-s sub-vector with codeword j. With
  * the LUT on the query side, scoring a corpus vector against the query
  * costs `m` table lookups instead of a dims-length float loop
  * ([[PqAdcScore]]) — the ADC trick that makes PQ scan-rate-bound, not
  * FLOP-bound. Output: array<double> of m·k entries.
  */
case class PqLut(child: Expression, books: Seq[Seq[Float]], m: Int, k: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  @transient private lazy val bookArr: Array[Array[Float]] =
    books.map(_.toArray).toArray

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dsub = v.numElements() / m
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var j = 0
      while (j < k) {
        val cw = bookArr(s * k + j)
        var dot = 0.0
        var i = 0
        while (i < dsub) {
          dot += v.getFloat(base + i).toDouble * cw(i).toDouble
          i += 1
        }
        out(s * k + j) = dot
        j += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
}

/** ADC score: Σ_s lut[s·k + codes[s]] — the approximate inner product of a
  * PQ-encoded corpus vector with the query whose [[PqLut]] is on the other
  * side. m table lookups per pair, fully inside whole-stage codegen. */
case class PqAdcScore(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int> codes, array<double> lut)")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_score"

  override def nullSafeEval(codes: Any, lut: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val t = lut.asInstanceOf[ArrayData]
    var acc = 0.0
    var s = 0
    val m = c.numElements()
    while (s < m) {
      acc += t.getDouble(s * k + c.getInt(s))
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
         |int $m = $c.numElements();
         |double $acc = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $acc += $t.getDouble($s * $k + $c.getInt($s));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Per-slice byte sums of a binary payload: the payload is cut into `dims`
  * contiguous slices with boundaries floor(len·i/dims), and slice i's output
  * is the sum of its unsigned byte values — the trivial-but-real "mean
  * brightness per region" feature a raster pipeline extracts, computed in
  * one fused pass over the bytes (no per-byte substring/ascii churn, no
  * HOF lambda boxing). Output: array<long> of length `dims`; empty slices
  * (payload shorter than `dims`) sum to 0. Exactly reproducible by any
  * engine with substring+byte-sum, so queries built on it are oracle-able.
  */
case class ByteSliceSums(child: Expression, dims: Int)
    extends ComputeRefCodegen {
  require(dims > 0, "dims must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_slice_sums"

  override def compute(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val n = b.length
    val out = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      var p = n.toLong * i / dims
      val end = n.toLong * (i + 1) / dims
      var s = 0L
      while (p < end) { s += (b(p.toInt) & 0xff); p += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ByteSliceSums =
    copy(child = newChild)
}

/** Integer-exact IVF assignment for the md5-twin/persisted-index pipelines:
  * quantize the float vector EXACTLY as the twins' `dims` view does
  * (q = floor(v·1000) + 1024, a long), then return the ids of the `keep`
  * nearest centroids by integer squared L2, ordered by (dist, id) — the
  * same total order as the relational form's
  * `ROW_NUMBER() OVER (ORDER BY dist, c)`. Integer sums are exact in any
  * association, so this per-row loop is BIT-IDENTICAL to the
  * explode-join-aggregate-window formulation it replaces
  * ([[graft.similarity.Similarity]] round 21) while touching each corpus
  * row once: the old shape exploded every vector to 64 dim rows, joined
  * them against a C×64-row broadcast (a 16× row multiplication), partially
  * aggregated n·C distance rows and window-sorted them — all for an argmin
  * a fused per-row loop computes in registers. The oracles are unchanged:
  * they mirror the ARITHMETIC (which is identical), not the plan.
  * Input: array<float>. Output: array<int> of `keep` cell ids.
  */
case class IntNearestCells(child: Expression, cents: Seq[Seq[Long]], keep: Int)
    extends ComputeRefCodegen {
  require(cents.nonEmpty && keep >= 1 && keep <= cents.size,
    "keep must be in [1, #cells]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "int_nearest_cells"

  @transient private lazy val centArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = centArr(0).length
    val c = centArr.length
    val q = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      q(i) = math.floor(v.getFloat(i).toDouble * 1000).toLong + 1024L
      i += 1
    }
    val dist = new Array[Long](c)
    var k = 0
    while (k < c) {
      val ct = centArr(k)
      var s = 0L; var d = 0
      while (d < dims) { val x = q(d) - ct(d); s += x * x; d += 1 }
      dist(k) = s
      k += 1
    }
    // selection by (dist, id) lexicographic: strict < with ascending id
    // scan reproduces the relational ROW_NUMBER ordering exactly
    val out = new Array[Int](keep)
    val used = new Array[Boolean](c)
    var r = 0
    while (r < keep) {
      var best = -1; var bd = Long.MaxValue
      k = 0
      while (k < c) {
        if (!used(k) && dist(k) < bd) { bd = dist(k); best = k }
        k += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): IntNearestCells =
    copy(child = newChild)
}

/** Integer-exact PQ encode for the md5-twin/persisted-index pipelines:
  * quantize like [[IntNearestCells]], then per contiguous subspace s return
  * the codeword with the smallest integer squared L2 (ties to the lowest
  * j — strict `<` with ascending scan, the relational
  * `min(struct(dist, j))`'s exact order). `books` is row-major: entry
  * (s·k + j) holds subspace s's codeword j (dsub longs). Same replacement
  * economics as [[IntNearestCells]]: one per-row fused loop instead of an
  * exploded (n·dims) view joined against an m·k·dsub broadcast and
  * re-aggregated. Input: array<float>. Output: array<int> of m codes.
  */
case class IntPqCodes(child: Expression, books: Seq[Seq[Long]], m: Int, k: Int)
    extends ComputeRefCodegen {
  require(books.size == m * k, s"books must hold m*k=${m * k} codewords")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "int_pq_codes"

  @transient private lazy val bookArr: Array[Array[Long]] =
    books.map(_.toArray).toArray

  override def compute(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dims = v.numElements()
    val dsub = dims / m
    val q = new Array[Long](dims)
    var i = 0
    while (i < dims) {
      q(i) = math.floor(v.getFloat(i).toDouble * 1000).toLong + 1024L
      i += 1
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      var best = 0; var bd = Long.MaxValue
      var j = 0
      while (j < k) {
        val cw = bookArr(s * k + j)
        var dist = 0L; var d = 0
        while (d < dsub) { val x = q(base + d) - cw(d); dist += x * x; d += 1 }
        if (dist < bd) { bd = dist; best = j } // strict <: lowest j wins ties
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): IntPqCodes =
    copy(child = newChild)
}

object VectorExprs {
  /** Column wrapper: fused codegen cosine similarity of two float arrays. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** L2-normalized copy of a float vector. */
  def l2Normalize(a: Column): Column =
    GraftBridge.column(L2Normalize(GraftBridge.expression(a)))

  /** PQ codes (array<int> of m) of a float vector under a trained codebook. */
  def pqEncode(emb: Column, books: Seq[Seq[Float]], m: Int, k: Int): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(emb), books, m, k))

  /** Per-query ADC lookup table (array<double> of m·k). */
  def pqLut(emb: Column, books: Seq[Seq[Float]], m: Int, k: Int): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(emb), books, m, k))

  /** ADC approximate inner product from codes + a query LUT. */
  def pqAdcScore(codes: Column, lut: Column, k: Int): Column =
    GraftBridge.column(PqAdcScore(
      GraftBridge.expression(codes), GraftBridge.expression(lut), k))

  /** All SRP-LSH table buckets of a float vector in one pass. */
  def srpBuckets(emb: Column, tables: Int, bits: Int): Column =
    GraftBridge.column(SrpBuckets(GraftBridge.expression(emb), tables, bits))

  /** Feature-hashed, L2-normalized text embedding from a token array. */
  def featureHashEmbed(tokens: Column, dims: Int): Column =
    GraftBridge.column(FeatureHashEmbed(GraftBridge.expression(tokens), dims))

  /** Map-side IVF assignment: ids of the `keep` nearest centroids. */
  def nearestCentroids(
      emb: Column, model: Seq[(Long, Seq[Float])], keep: Int): Column =
    GraftBridge.column(NearestCentroids(
      GraftBridge.expression(emb), model.map(_._1), model.map(_._2), keep))

  /** Per-slice byte sums (`dims` slices) of a binary payload. */
  def byteSliceSums(payload: Column, dims: Int): Column =
    GraftBridge.column(ByteSliceSums(GraftBridge.expression(payload), dims))

  /** Integer-exact IVF assignment (quantized q = floor(v·1000)+1024): ids
    * of the `keep` nearest cells by integer L2, ordered (dist, id). */
  def intNearestCells(emb: Column, cents: Seq[Seq[Long]], keep: Int): Column =
    GraftBridge.column(IntNearestCells(GraftBridge.expression(emb), cents, keep))

  /** Integer-exact PQ codes (array<int> of m) under a row-major integer
    * codebook — the md5-twin arithmetic as one fused per-row loop. */
  def intPqCodes(emb: Column, books: Seq[Seq[Long]], m: Int, k: Int): Column =
    GraftBridge.column(IntPqCodes(GraftBridge.expression(emb), books, m, k))
}
