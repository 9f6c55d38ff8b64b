package graft.expressions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed bounded top-k aggregator (the §2.5 UDAF surface).
  *
  * Keeps the k best (score, id) pairs per group — score descending, id
  * ascending on ties — with an O(k) buffer. Unlike a
  * `row_number().over(partitionBy(group))` window, this participates in
  * partial aggregation: each map task ships at most k rows per group to
  * the shuffle instead of every scored row. The total order on
  * (score desc, id asc) makes reduce/merge associative and commutative,
  * so results are deterministic under any partitioning.
  */
class TopK(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  require(k > 0, s"TopK needs k > 0, got $k")

  // java.lang.Double.compare, not </>: the primitive comparisons are not
  // a strict total order when a score is NaN (reachable via zero-norm
  // embeddings upstream), and TimSort throws on contract violations.
  // Double.compare ranks NaN above every real score, keeping totality.
  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
    s.sortWith(better).take(k)

  override def zero: Seq[(Double, Long)] = Seq.empty

  override def reduce(buf: Seq[(Double, Long)], in: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size >= k && better(buf.last, in)) buf else trim(buf :+ in)

  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    trim(a ++ b)

  override def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(r)

  // derived once, on the driver that builds the aggregator: Spark asks
  // for the encoders again inside tasks, and TypeTag reflection on an
  // executor thread is not thread-safe
  override val bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()

  override def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
}
