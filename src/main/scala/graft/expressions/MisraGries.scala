package graft.expressions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Misra–Gries frequent-items sketch as a typed partial aggregate — the
  * candidate SCREEN of the two-pass heavy-hitters pipeline (q107).
  *
  * The sketch keeps at most k−1 weighted counters. Guarantees (Misra &
  * Gries 1982; merge form per Agarwal et al., "Mergeable Summaries",
  * PODS 2012): every item with true frequency > n/k retains a positive
  * counter, and no counter overestimates. The merge combines counts and
  * subtracts the k-th largest combined counter value. What IS
  * merge-order-independent is only the containment guarantee (every
  * >n/k item survives) and the 2-way merge of two fixed summaries; the
  * surviving key set and the counter values of a DEEPER merge tree are
  * NOT (ADVICE r10: a={x:5,y:1}, b={z:4}, c={w:3}, k=3 keeps {x} via
  * (a+b)+c but {x,z} via (b+c)+a) — so neither keys nor counts may
  * ever be golden-hashed or otherwise treated as deterministic under
  * partitioning. The query layer therefore never
  * reads the approximate counts: the sketch only nominates ≤ k−1
  * candidates (a guaranteed superset of the true heavy hitters), and an
  * exact second pass counts those candidates and applies the n/k
  * threshold — making the final output exact and deterministic under
  * any partitioning while the full-vocabulary aggregation is replaced
  * by a (k−1)-row broadcast join.
  *
  * Scale: each map task ships ≤ k−1 counters to one reducer; the exact
  * pass groups on ≤ k−1 surviving tokens. The full groupBy(token) it
  * replaces shuffles the whole vocabulary — at web scale that is
  * billions of distinct tokens for a report that wants dozens.
  */
class MisraGries(k: Int) extends Aggregator[String, Map[String, Long], Map[String, Long]] {
  require(k > 1, s"MisraGries needs k > 1, got $k")

  override def zero: Map[String, Long] = Map.empty

  override def reduce(m: Map[String, Long], x: String): Map[String, Long] =
    m.get(x) match {
      case Some(c) => m.updated(x, c + 1)
      case None if m.size < k - 1 => m.updated(x, 1L)
      case None =>
        // classic decrement step: every counter pays 1, zeros evict —
        // total decremented weight per step is ≤ k−1, hence the n/k bound
        m.collect { case (t, c) if c > 1 => t -> (c - 1) }
    }

  override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
    val m = (a.keySet ++ b.keySet).iterator
      .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
    if (m.size < k) m
    else {
      // subtract the k-th largest combined count from every counter;
      // ≤ k−1 stay positive and the additive error stays ≤ n/k
      val ck = m.values.toSeq.sorted(Ordering[Long].reverse)(k - 1)
      m.collect { case (t, c) if c > ck => t -> (c - ck) }
    }
  }

  override def finish(m: Map[String, Long]): Map[String, Long] = m

  // derived once, on the driver that builds the aggregator: Spark asks
  // for the encoders again inside tasks, and TypeTag reflection on an
  // executor thread is not thread-safe
  override val bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()

  override def outputEncoder: Encoder[Map[String, Long]] = bufferEncoder
}
