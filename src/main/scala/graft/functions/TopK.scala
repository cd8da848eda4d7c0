package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k aggregator for (score, id) pairs: keeps the k highest
  * scores (ties broken by lower id), ordered descending.
  *
  * Scale rationale: the window-function top-k (`row_number() over
  * (partition by q)`) shuffles EVERY scored pair to the query's reducer;
  * this aggregator combines map-side, so at most k pairs per query per
  * input partition cross the wire — at a 100 TB corpus that's the
  * difference between shuffling |corpus| rows and shuffling
  * partitions × k rows per query.
  *
  * Deterministic: the (score desc, id asc) order is total, so the result
  * is independent of partitioning and merge order.
  *
  * The buffer invariant — always sorted best-first, length ≤ k — makes
  * `reduce` O(1) for the overwhelmingly common below-kth input (one
  * comparison against the current kth, no allocation) and O(k) for an
  * insert; a sort never runs per element, which matters because `reduce`
  * fires once per scored pair on the 100 TB hot path.
  */
class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {

  private def ord: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) }

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
    if (buf.length >= k && ord.lteq(buf.last, in)) buf // below current kth: drop
    else {
      val idx = buf.indexWhere(e => ord.gt(e, in)) // first element worse than in
      val grown =
        if (idx < 0) buf :+ in
        else (buf.take(idx) :+ in) ++ buf.drop(idx)
      if (grown.length > k) grown.take(k) else grown
    }

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] = {
    // merge of two already-sorted buffers, truncated at k
    val out = Seq.newBuilder[(Double, Long)]
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))
      if (takeA) { out += a(i); i += 1 } else { out += b(j); j += 1 }
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r

  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
}
