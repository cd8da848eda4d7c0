package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded distinct-collect for postings lists: keeps the `cap` SMALLEST
  * distinct (id, n) entries by id, sorted ascending.
  *
  * Purpose: build a gram→docs postings list and detect hot grams in the
  * SAME aggregation. Call with cap = dfCap + 1; a full result (length =
  * cap) proves the gram's true distinct document frequency exceeds dfCap
  * (at least cap distinct ids exist), while a shorter result IS the exact,
  * complete, sorted postings list. One shuffle of the exploded gram table
  * replaces the df-count pass + anti-join + collect_list pass.
  *
  * Scale rationale: every partial buffer is capped at `cap` entries, so a
  * boilerplate shingle occurring in millions of documents contributes at
  * most cap × partitions rows to the shuffle instead of millions — the
  * aggregator is the skew guard. Keeping the smallest ids (not the first
  * seen) makes the result a pure function of the input set: merge order
  * and partitioning cannot change which ids survive, so output is
  * deterministic on any cluster.
  *
  * The second struct field `n` must be functionally dependent on the id
  * (here: the doc's shingle-set size); distinctness and ordering use the
  * id alone.
  */
class BoundedDistinct(cap: Int)
  extends Aggregator[(Long, Int), Seq[(Long, Int)], Seq[(Long, Int)]] {

  override def zero: Seq[(Long, Int)] = Seq.empty

  override def reduce(buf: Seq[(Long, Int)], in: (Long, Int)): Seq[(Long, Int)] =
    if (buf.length >= cap && buf.last._1 <= in._1) buf // above current max: drop
    else {
      val idx = buf.indexWhere(e => e._1 >= in._1)
      if (idx >= 0 && buf(idx)._1 == in._1) buf // already present
      else {
        val grown =
          if (idx < 0) buf :+ in
          else (buf.take(idx) :+ in) ++ buf.drop(idx)
        if (grown.length > cap) grown.take(cap) else grown
      }
    }

  override def merge(a: Seq[(Long, Int)], b: Seq[(Long, Int)]): Seq[(Long, Int)] = {
    // merge of two sorted distinct buffers, dedup on id, truncated at cap
    val out = Seq.newBuilder[(Long, Int)]
    var (i, j, n) = (0, 0, 0)
    while (n < cap && (i < a.length || j < b.length)) {
      if (j >= b.length) { out += a(i); i += 1 }
      else if (i >= a.length) { out += b(j); j += 1 }
      else if (a(i)._1 < b(j)._1) { out += a(i); i += 1 }
      else if (a(i)._1 > b(j)._1) { out += b(j); j += 1 }
      else { out += a(i); i += 1; j += 1 } // same id in both: emit once
      n += 1
    }
    out.result()
  }

  override def finish(r: Seq[(Long, Int)]): Seq[(Long, Int)] = r

  override def bufferEncoder: Encoder[Seq[(Long, Int)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Int)]]()
  override def outputEncoder: Encoder[Seq[(Long, Int)]] = bufferEncoder
}
