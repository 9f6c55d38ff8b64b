package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streamed sequence packing (q247, r15) — q245's greedy walk ON the
  * unbounded ingest: a pipeline that packs documents into fixed-token
  * contexts AS THEY ARRIVE, holding exactly one (context, fill) pair of
  * [[ValueState]] per shard. That state bound is the point: O(shards),
  * constant in stream length — the deploy shape of a continuous
  * training-data export, where the batch q245 is the nightly job and
  * this is the always-on one.
  *
  * Correctness hinges on one seam property the shared oracle text
  * discriminates: a context left OPEN at a micro-batch boundary must
  * keep filling from its carried (ctx, fill) in the next batch — a pair
  * lost or re-based across the RocksDB round-trip shifts every later
  * span and context id in that shard, breaking the hash match against
  * q245's recursive-CTE walk (both faces share ONE oracle text
  * verbatim, the q241/q243 promotion rule).
  *
  * Ordering contract: the walk is only defined over the export order
  * (shard, pos), so each micro-batch must deliver a per-shard PREFIX of
  * the remaining stream — the replay splits by a pos threshold. Rows
  * WITHIN a batch arrive unordered from the shuffle; the processor
  * sorts its (shard, batch) slice by pos before folding — bounded by
  * the batch's per-shard width, the same per-group bound as the batch
  * fold's sorted-group iterator.
  */
object StreamingPacking {

  final case class DocIn(shard: Long, pos: Long, doc_id: Long, n_tokens: Long)
  final case class SpanOut(shard: Long, context_id: Long, doc_id: Long,
                           tok_start: Long, tok_end: Long, n_tokens: Long,
                           n_trunc_tokens: Long)
  final case class PackState(ctx: Long, fill: Long)
  final case class FragOut(shard: Long, context_id: Long, doc_id: Long,
                           n_doc_tokens: Long, tok_start: Long, tok_end: Long,
                           is_head: Long, is_tail: Long)

  /** One ValueState slot named "pack": the open context's (id, fill).
    * Identical arithmetic to [[graft.operators.Packing.packSpans]] —
    * truncate to budget, roll over when the doc no longer fits.
    *
    * PER-BATCH MEMORY CONTRACT (VERDICT r16 item 5): `handleInputRows`
    * materializes ONE (shard, micro-batch) slice to sort it by `pos` —
    * `transformWithState` hands the group iterator in arrival order and
    * exposes no sorted-group form (batch-only `flatMapSortedGroups` has
    * one; the streaming API does not), and the fold is order-sensitive,
    * so the sort is semantic, not cosmetic. The executor-memory bound is
    * therefore micro-batch rows ÷ shards: a production deploy sizes
    * `maxFilesPerTrigger`/`maxOffsetsPerTrigger` so one shard's slice of
    * one trigger fits an executor (at gate widths: ≤ a few thousand
    * 4-long rows). State itself stays O(1) per shard regardless. */
  class PackProcessor(budget: Long)
      extends StatefulProcessor[Long, DocIn, SpanOut] {
    @transient private var st: ValueState[PackState] = _
    // built on the driver and serialized with the processor: `init` runs
    // on executor threads, where TypeTag reflection is not thread-safe
    private val stateEncoder = Encoders.product[PackState]

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PackState]("pack", stateEncoder, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[SpanOut] = {
      var s = if (st.exists()) st.get() else PackState(0L, 0L)
      val out = rows.toSeq.sortBy(_.pos).map { d =>
        val len = math.min(d.n_tokens, budget)
        if (s.fill + len > budget) s = PackState(s.ctx + 1, 0L)
        val span = SpanOut(d.shard, s.ctx, d.doc_id, s.fill, s.fill + len,
          len, d.n_tokens - len)
        s = PackState(s.ctx, s.fill + len)
        span
      }
      st.update(s)
      out.iterator
    }
  }

  /** Apply the packing processor to a (possibly streaming) typed source.
    * Shared by the gate face and the spec so the wiring cannot drift. */
  def packed(spark: SparkSession, docs: Dataset[DocIn],
             budget: Long): DataFrame = {
    import spark.implicits._
    docs.groupByKey(_.shard)
      .transformWithState(new PackProcessor(budget), TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Streamed SPLIT packing (q251, r16 — VERDICT r15 item 3): q248's
    * concat-and-chunk policy on the unbounded ingest. Where the greedy
    * walk carries a (ctx, fill) pair, split packing's entire state is
    * ONE long per shard — the shard's global token offset — because
    * every fragment is pure arithmetic on that offset (the same closed
    * form q248 computes as a prefix-sum window). The seam property the
    * shared oracle discriminates is sharper than q247's: an open
    * FRAGMENT crosses the batch boundary — the first post-seam doc
    * starts mid-context at the carried offset, so an offset lost,
    * re-based to 0, or rounded up to the next context boundary shifts
    * that doc's tok_start/context_id and every fragment after it.
    * Identical arithmetic to the q248 window+explode: contexts
    * start/B ..= (end−1)/B, geometry by min/max, zero-token docs ship
    * nothing (the ADVICE r15 #3 guard, mirrored on all three faces).
    * Same per-batch memory contract as [[PackProcessor]]: the one
    * (shard, micro-batch) slice is sorted in memory because the offset
    * fold is order-sensitive and the streaming API has no sorted-group
    * iterator — trigger size ÷ shards must fit an executor. */
  class SplitProcessor(budget: Long)
      extends StatefulProcessor[Long, DocIn, FragOut] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long]("off", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DocIn],
        timerValues: TimerValues): Iterator[FragOut] = {
      var off = if (st.exists()) st.get() else 0L
      val out = rows.toSeq.sortBy(_.pos).flatMap { d =>
        val start = off
        val end = start + d.n_tokens
        off = end
        if (d.n_tokens <= 0L) Seq.empty[FragOut]
        else ((start / budget) to ((end - 1) / budget)).map { c =>
          FragOut(d.shard, c, d.doc_id, d.n_tokens,
            math.max(start - c * budget, 0L),
            math.min(end - c * budget, budget),
            if (start >= c * budget) 1L else 0L,
            if (end <= (c + 1) * budget) 1L else 0L)
        }
      }
      st.update(off)
      out.iterator
    }
  }

  /** Apply the split processor to a (possibly streaming) typed source. */
  def splitPacked(spark: SparkSession, docs: Dataset[DocIn],
                  budget: Long): DataFrame = {
    import spark.implicits._
    docs.groupByKey(_.shard)
      .transformWithState(new SplitProcessor(budget), TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Replay a staged (shard, pos, doc_id, n_tokens) relation as TWO real
    * micro-batches (split by a pos threshold — each batch a per-shard
    * prefix of the export order) through the RocksDB ValueState engine;
    * returns the drained spans. Parametrized so StreamingPackingSpec can
    * drive planted lengths across the seam. */
  def replayTwoBatches(spark: SparkSession, staged: DataFrame,
                       budget: Long): DataFrame =
    replayTwoBatchesWith(spark, staged, src => packed(spark, src, budget))

  /** q251's face of the same replay: split packing over the identical
    * two-batch prefix stream. */
  def replaySplitTwoBatches(spark: SparkSession, staged: DataFrame,
                            budget: Long): DataFrame =
    replayTwoBatchesWith(spark, staged, src => splitPacked(spark, src, budget))

  /** The shared two-batch replay harness: stage the relation as two
    * pos-prefix chunks ([[EventStreams.stagedStream]] pins chunk0 as
    * batch 0 — packing is the one replay where batch order changes the
    * RESULT, since every context id in a shard re-bases), drive them
    * through `transform`, return the drain. */
  private def replayTwoBatchesWith(spark: SparkSession, staged: DataFrame,
      transform: Dataset[DocIn] => DataFrame): DataFrame = {
    import spark.implicits._
    val mid = staged.agg(max("pos")).head.getLong(0) / 2
    val src = EventStreams.stagedStream(Seq(
      staged.filter(col("pos") <= mid), staged.filter(col("pos") > mid)))
      .as[DocIn]
    EventStreams.drainToFiles(transform(src), "append")
  }

  /** q247: q245's staged relation (same helper — the arrival order
    * cannot drift between faces) through [[replayTwoBatches]] at the
    * gate budget. */
  def packReplay(spark: SparkSession, sfDir: String): DataFrame =
    replayTwoBatches(spark,
      graft.queries.CurationQueries.packStaged(spark, sfDir),
      graft.queries.CurationQueries.PackTokenBudget)

  /** q251: the same staged relation and the same two-batch prefix
    * stream, through the split processor at the gate budget. */
  def splitReplay(spark: SparkSession, sfDir: String): DataFrame =
    replaySplitTwoBatches(spark,
      graft.queries.CurationQueries.packStaged(spark, sfDir),
      graft.queries.CurationQueries.PackTokenBudget)
}
