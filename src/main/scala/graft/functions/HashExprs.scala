package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Signature expressions for dedup at scale.
  *
  * The HOF formulation (`transform(sequence(0,k-1), i -> array_min(...))`)
  * re-hashes every shingle k times through interpreted lambdas — O(k·n)
  * full murmur evaluations per document with per-element boxing. These
  * expressions hash each shingle ONCE and derive the k permutation values
  * with one multiply-add each (universal hashing — the standard MinHash
  * construction), a ~50× constant-factor win that makes signatures linear
  * in document size.
  */
/** Codegen that calls the expression instance's `compute` through a
  * referenced object. Unlike CodegenFallback (which ejects the whole
  * operator from whole-stage codegen), this keeps the projection fused in
  * the surrounding codegen span; only the per-row signature loop runs
  * through a virtual call — negligible next to the loop body. */
trait ComputeRefCodegen extends UnaryExpression {
  /** The per-row kernel; input is the evaluated child. */
  def compute(input: Any): Any

  override def nullSafeEval(input: Any): Any = compute(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("graftExpr", this, classOf[ComputeRefCodegen].getName)
      val boxed = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.boxedType(dataType)
      // Java auto-unboxes when dataType is primitive (e.g. long for SimHash)
      s"${ev.value} = (($boxed) $ref.compute($c));"
    })
}

object HashMix {
  /** splitmix64 finalizer — decorrelates the per-permutation constants. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Word n-gram MinHash signature straight from the token array: shingles are
  * hashed incrementally (one murmur per n-gram window), permutation i's
  * value is mix(a_i·h + b_i) truncated to int — no shingle strings are ever
  * materialized. Input: array<string> tokens. Output: array<int> of k mins.
  */
case class MinHashSig(child: Expression, n: Int, k: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // deterministic per-permutation odd multipliers / addends
  private val as: Array[Long] = Array.tabulate(k)(i => HashMix.mix(2L * i + 1) | 1L)
  private val bs: Array[Long] = Array.tabulate(k)(i => HashMix.mix(0x5851f42d4c957f2dL + i))

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val numToks = toks.numElements()
    val mins = Array.fill(k)(Int.MaxValue)
    val windows = math.max(1, numToks - n + 1)
    var w = 0
    while (w < windows) {
      // one murmur-chain per n-gram window (token hashes combined in order)
      var h = 42
      var j = 0
      val span = math.min(n, numToks)
      while (j < span) {
        val s = toks.getUTF8String(w + j)
        h = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
        j += 1
      }
      // k permutation values in O(1) each
      var i = 0
      while (i < k) {
        val v = (HashMix.mix(as(i) * h.toLong + bs(i)) >>> 33).toInt
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 64-bit SimHash from the token array: one murmur per token; bit b of the
  * signature is the sign of Σ_tokens (±1 by bit b of mix(token hash)).
  * Input: array<string>. Output: long.
  */
case class SimHashSig(child: Expression)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    var j = 0
    while (j < toks.numElements()) {
      val s = toks.getUTF8String(j)
      val h = HashMix.mix(
        Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42).toLong)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

/** Distinct word n-gram shingle strings from a token array — the exact-set
  * companion to [[MinHashSig]] used for Jaccard verification. One pass, one
  * space-joined UTF8String per window, de-duplicated in place; ~30× faster
  * than the transform(sequence...)+concat_ws higher-order composition.
  * Input: array<string> tokens. Output: array<string> distinct shingles.
  */
case class ShingleArray(child: Expression, n: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_array"

  private val space = UTF8String.fromString(" ")

  override def compute(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val numToks = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    if (numToks < n) {
      // degenerate doc: the whole token sequence is the single shingle
      val parts = Array.tabulate(math.max(numToks, 0))(toks.getUTF8String)
      seen.add(UTF8String.concatWs(space, parts: _*))
    } else {
      var w = 0
      while (w <= numToks - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(w + j); j += 1 }
        seen.add(UTF8String.concatWs(space, parts: _*))
        w += 1
      }
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

/** Character n-gram MinHash signature computed DIRECTLY on the string —
  * byte-for-byte the same output as `split(text, "")` + [[MinHashSig]], but
  * with zero per-character allocation: character boundaries are located by
  * UTF-8 lead-byte inspection and every window hash reads byte sub-ranges of
  * the ORIGINAL UTF8String (murmur over a sub-range equals murmur over the
  * detached per-char string `split` would have produced, since both hash the
  * same byte stream). This removes the per-character UTF8String array that
  * dominated the winnowing fingerprint's cost. Input: string. Output:
  * array<int> of k window-hash minima.
  */
case class CharMinHashSig(child: Expression, n: Int, k: Int)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "char_minhash_sig"

  // identical per-permutation constants to MinHashSig — signatures interop
  private val as: Array[Long] = Array.tabulate(k)(i => HashMix.mix(2L * i + 1) | 1L)
  private val bs: Array[Long] = Array.tabulate(k)(i => HashMix.mix(0x5851f42d4c957f2dL + i))

  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    // one pass to index character start offsets (+ sentinel at the end)
    val starts = new Array[Int](nb + 1)
    var numChars = 0
    var p = 0
    while (p < nb) {
      starts(numChars) = p
      numChars += 1
      p += UTF8String.numBytesForFirstByte(s.getByte(p))
    }
    starts(numChars) = nb
    val mins = Array.fill(k)(Int.MaxValue)
    // `split("", "")` yields one empty token, so the empty string hashes a
    // single zero-byte window — mirror that exactly.
    val windows = if (numChars == 0) 1 else math.max(1, numChars - n + 1)
    val span = if (numChars == 0) 0 else math.min(n, numChars)
    var w = 0
    while (w < windows) {
      var h = 42
      if (span == 0) h = Murmur3_x86_32.hashUnsafeBytes(base, off, 0, h)
      var j = 0
      while (j < span) {
        val cs = starts(w + j)
        h = Murmur3_x86_32.hashUnsafeBytes(base, off + cs, starts(w + j + 1) - cs, h)
        j += 1
      }
      var i = 0
      while (i < k) {
        val v = (HashMix.mix(as(i) * h.toLong + bs(i)) >>> 33).toInt
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): CharMinHashSig =
    copy(child = newChild)
}

/** MinHash LSH band hashes, fused: computes the k-permutation signature and
  * directly emits one murmur-combined hash per band of `k / bands`
  * consecutive minima — the array the LSH bucket join explodes. Fusing
  * avoids materializing the signature and the interpreted
  * transform/slice/hash banding pass. Input: array<string> tokens.
  * Output: array<int> of `bands` band hashes.
  */
case class MinHashBands(child: Expression, n: Int, k: Int, bands: Int)
    extends ComputeRefCodegen {
  require(k % bands == 0, "bands must divide k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  private val rowsPerBand = k / bands
  private val sig = MinHashSig(child, n, k)

  override def compute(input: Any): Any = {
    val mins = sig.compute(input).asInstanceOf[GenericArrayData]
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var h = 42
      var j = 0
      while (j < rowsPerBand) {
        h = Murmur3_x86_32.hashInt(mins.getInt(b * rowsPerBand + j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** All single-character-deletion xxhash64 keys of a string, fused: element
  * 0 hashes the string itself, followed by the distinct hashes of the
  * string with character i removed (UTF-8 boundary aware — a character's
  * whole byte run is dropped). Replaces the interpreted
  * `transform(sequence(0,n), i -> xxhash64(substr‖substr))` composition in
  * the edit-distance ≤ 1 join: no per-variant UTF8String materialization —
  * each variant is two arraycopies into a reused buffer and one XXH64 pass
  * (seed 42, byte-identical to Spark's `xxhash64` of the variant string,
  * so the join keys are unchanged). Input: string. Output: array<long> of
  * distinct variant hashes (identity first).
  */
case class DeletionVariantHashes(child: Expression)
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "deletion_variant_hashes"

  override def compute(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val nb = s.numBytes
    // one pass to index character start offsets (+ sentinel at the end)
    val starts = new Array[Int](nb + 1)
    var numChars = 0
    var p = 0
    while (p < nb) {
      starts(numChars) = p
      numChars += 1
      p += UTF8String.numBytesForFirstByte(s.getByte(p))
    }
    starts(numChars) = nb
    val buf = new Array[Byte](nb)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    val out = new Array[Long](numChars + 1)
    out(0) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, nb, 42L)
    var m = 1
    val work = new Array[Byte](nb)
    var i = 0
    while (i < numChars) {
      val st = starts(i)
      val en = starts(i + 1)
      System.arraycopy(buf, 0, work, 0, st)
      System.arraycopy(buf, en, work, st, nb - en)
      val h = XXH64.hashUnsafeBytes(work, Platform.BYTE_ARRAY_OFFSET, nb - (en - st), 42L)
      // deleting either of a doubled character yields the same variant:
      // de-dup by linear scan (the array is one entry per character — tiny)
      var j = 0
      var dup = false
      while (j < m && !dup) { dup = out(j) == h; j += 1 }
      if (!dup) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  override protected def withNewChildInternal(newChild: Expression): DeletionVariantHashes =
    copy(child = newChild)
}

object HashExprs {
  /** Distinct word n-gram shingles of a token array. */
  def shingleArray(tokens: Column, n: Int): Column =
    GraftBridge.column(ShingleArray(GraftBridge.expression(tokens), n))

  /** Distinct single-deletion xxhash64 keys of a string (identity hash
    * first) — the edit-distance ≤ 1 candidate keys. */
  def deletionVariantHashes(s: Column): Column =
    GraftBridge.column(DeletionVariantHashes(GraftBridge.expression(s)))

  /** Fused MinHash-LSH band hashes of word n-grams over a token array. */
  def minhashBands(tokens: Column, n: Int, k: Int, bands: Int): Column =
    GraftBridge.column(MinHashBands(GraftBridge.expression(tokens), n, k, bands))

  /** k-permutation MinHash signature of word n-grams over a token array. */
  def minhashSig(tokens: Column, n: Int, k: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(tokens), n, k))

  /** k-permutation MinHash signature of CHARACTER n-grams, straight off the
    * string (no per-char array) — equals `minhashSig(split(text, ""), n, k)`. */
  def charMinhashSig(text: Column, n: Int, k: Int): Column =
    GraftBridge.column(CharMinHashSig(GraftBridge.expression(text), n, k))

  /** 64-bit SimHash of a token array. */
  def simhashSig(tokens: Column): Column =
    GraftBridge.column(SimHashSig(GraftBridge.expression(tokens)))

  /** Bloom-filter membership probe over a string column. */
  def bloomMightContain(s: Column, filterBytes: Array[Byte]): Column =
    GraftBridge.column(BloomMightContain(GraftBridge.expression(s), filterBytes))
}

/** Membership probe against a pre-built `org.apache.spark.util.sketch`
  * Bloom filter that rides serialized inside the expression — the compact
  * broadcast shape for membership pre-gates at scale: a benchmark gram set
  * of millions of entries compresses to a fixed-size bit array (~100 KB at
  * 2^17 items / 3% fpp) instead of a broadcast hash relation. False
  * positives are possible by construction, so a registered query must pair
  * the probe with an exact verify (join) downstream — the probe only
  * shrinks what reaches the shuffle; it never decides membership alone.
  *
  * Hashing matches the sketch library's `mightContainString` (murmur over
  * UTF-8 bytes), applied to the UTF8String's bytes directly — no
  * per-row String materialization.
  */
case class BloomMightContain(child: Expression, filterBytes: Array[Byte])
    extends ComputeRefCodegen {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(filterBytes))

  override def compute(input: Any): Any =
    filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
