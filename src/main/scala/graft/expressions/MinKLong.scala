package graft.expressions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed bounded min-k aggregator over integer priorities — the exact
  * sibling of [[TopK]] for keys that must NOT round-trip through a
  * double. [[TopK]] ranks by a Double score, which is exact only below
  * 2^53; the 56-bit md5 priorities the sampling operators rank by
  * (q103's per-domain cap) lose low bits in a double and could re-order
  * two close hashes differently from an engine comparing the exact
  * integers. This aggregator keeps the k smallest `(priority, id)` pairs
  * under full 64-bit lexicographic comparison.
  *
  * Same scale shape as [[TopK]]: O(k) buffer, partial aggregation — each
  * map task ships at most k pairs per group to the shuffle instead of
  * every row (a `row_number().over(partitionBy(group))` window shuffles
  * and sorts the whole group). The total order on (priority asc, id asc)
  * makes reduce/merge associative and commutative, so results are
  * deterministic under any partitioning.
  */
class MinKLong(k: Int) extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
  require(k > 0, s"MinKLong needs k > 0, got $k")

  private def better(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def trim(s: Seq[(Long, Long)]): Seq[(Long, Long)] =
    s.sortWith(better).take(k)

  override def zero: Seq[(Long, Long)] = Seq.empty

  override def reduce(buf: Seq[(Long, Long)], in: (Long, Long)): Seq[(Long, Long)] =
    if (buf.size >= k && better(buf.last, in)) buf else trim(buf :+ in)

  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    trim(a ++ b)

  override def finish(r: Seq[(Long, Long)]): Seq[(Long, Long)] = trim(r)

  // derived once, on the driver that builds the aggregator: Spark asks
  // for the encoders again inside tasks, and TypeTag reflection on an
  // executor thread is not thread-safe
  override val bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()

  override def outputEncoder: Encoder[Seq[(Long, Long)]] = bufferEncoder
}
