package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries frequent-items sketch over long keys: at most `cap`
  * counters, guaranteed to retain every key whose true frequency exceeds
  * N / (cap + 1) (undercount is bounded by the total decrement, which the
  * algorithm bounds by N / (cap + 1)).
  *
  * The buffer is a key-sorted counter list, so `reduce` is a binary search
  * + O(cap) eviction only on overflow, and `merge` is the mergeable-summary
  * rule (Agarwal et al., "Mergeability of Summaries", PODS '12): pointwise
  * counter sum, then subtract the (cap+1)-th largest count and drop the
  * non-positives. Each partial buffer is ≤ cap entries, so a skewed
  * billion-row key column shuffles at most cap × partitions counters — the
  * sketch IS the skew guard, a fixed-size hot-key detector run before any
  * shuffle-heavy operator picks a partitioning.
  *
  * Counter VALUES depend on merge order (inherent to MG), so `finish`
  * returns only the candidate key set; callers recount candidates exactly
  * (one broadcast semi-join + aggregate) and threshold on true counts,
  * making the composed operator's output exact and deterministic while the
  * sketch bounds its memory. The guarantee above makes the recount lossless
  * for any threshold at or above N / (cap + 1).
  */
class MisraGries(cap: Int)
  extends Aggregator[Long, Seq[(Long, Long)], Seq[Long]] {
  require(cap > 0)

  override def zero: Seq[(Long, Long)] = Seq.empty

  override def reduce(buf: Seq[(Long, Long)], key: Long): Seq[(Long, Long)] = {
    val idx = buf.indexWhere(_._1 >= key)
    if (idx >= 0 && buf(idx)._1 == key)
      buf.updated(idx, (key, buf(idx)._2 + 1))
    else if (buf.length < cap) {
      if (idx < 0) buf :+ ((key, 1L))
      else (buf.take(idx) :+ ((key, 1L))) ++ buf.drop(idx)
    } else
      // overflow: decrement every counter (the arriving key's +1 and one
      // unit of every counter annihilate); drop exhausted counters
      buf.flatMap { case (k, c) => if (c > 1) Some((k, c - 1)) else None }
  }

  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    // pointwise sum of two key-sorted counter lists
    val summed = Seq.newBuilder[(Long, Long)]
    var (i, j) = (0, 0)
    while (i < a.length || j < b.length) {
      if (j >= b.length) { summed += a(i); i += 1 }
      else if (i >= a.length) { summed += b(j); j += 1 }
      else if (a(i)._1 < b(j)._1) { summed += a(i); i += 1 }
      else if (a(i)._1 > b(j)._1) { summed += b(j); j += 1 }
      else { summed += ((a(i)._1, a(i)._2 + b(j)._2)); i += 1; j += 1 }
    }
    val s = summed.result()
    if (s.length <= cap) s
    else {
      // subtract the (cap+1)-th largest count; ties there go to zero too,
      // so at most cap survive
      val kth = s.map(_._2).sorted(Ordering[Long].reverse)(cap)
      s.flatMap { case (k, c) => if (c > kth) Some((k, c - kth)) else None }
    }
  }

  override def finish(r: Seq[(Long, Long)]): Seq[Long] = r.map(_._1)

  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
