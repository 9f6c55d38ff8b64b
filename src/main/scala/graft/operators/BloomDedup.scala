package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter-accelerated incremental dedup: "which of these incoming
  * documents are NEW relative to an existing corpus?" — the daily-ingest
  * face of exact dedup (the reference's dedup surface is whole-corpus,
  * `q17`; a 100 TB deployment almost never re-deduplicates the corpus,
  * it screens each incoming batch against it).
  *
  * Architecture is Spark's own runtime-filter shape
  * (`InjectRuntimeFilter`), hand-placed because the corpus membership
  * set is the *semantic* here, not an optimizer hint:
  *
  *  1. '''build''' — one distributed aggregate over the corpus folds
  *     `xxhash64(key)` longs into a bloom filter (`df.stat.bloomFilter`,
  *     a treeAggregate: partial filters merge pairwise, the driver holds
  *     only the final ~1.2 MB of bits at fpp=1%/1M keys — never the
  *     keys).
  *  2. '''probe''' — the serialized filter embeds as a binary literal in
  *     a codegen'd [[BloomFilterMightContain]] predicate over the
  *     incoming batch: a map-side, shuffle-free pre-screen.
  *  3. '''verify''' — only the `mightContain` survivors (true dups +
  *     fpp·|new| false positives) reach the exact anti-join; the
  *     definite-new rows bypass the shuffle entirely. The CORPUS side of
  *     that join is screened the same way in reverse: a second bloom,
  *     built over the candidate keys, filters the corpus scan map-side
  *     before its distinct — so the join shuffles a candidate-matching
  *     sliver of the corpus, never the corpus.
  *
  * Correctness does NOT depend on either filter's fpp: a bloom filter
  * has no false negatives (a key inserted always reports present), so
  * every true duplicate is routed to the exact verify (forward filter)
  * and every corpus key equal to a candidate key survives to the join's
  * build side (reverse filter); a false positive merely wastes one
  * row's trip through the anti-join. xxhash64 collisions are likewise
  * safe — a colliding non-dup reports `mightContain = true` and is
  * removed by the exact textual anti-join. The result is therefore
  * bit-identical to the plain anti-join at every fpp, which is what
  * lets q72 share the exact oracle.
  *
  * At 100 TB: the corpus is SCANNED twice (filter build + reverse-probe
  * pass, both map-side) but never shuffled — the anti-join exchanges
  * `|dups| + fpp·|new|` incoming rows against a similarly-sized corpus
  * sliver, instead of `|incoming|` vs `|corpus|`. Size `expectedItems`
  * from the corpus key count and spend bits to keep fpp ≲ 1%.
  */
object BloomDedup {

  /** The codegen'd probe predicate: `mightContain(bloom, xxhash64(key))`.
    * Insert and probe must hash identically — [[buildFilter]] inserts
    * `xxhash64` longs (`putLong`), this probes with the same public
    * `functions.xxhash64` (seed 42), mirroring how `BloomFilterAggregate`
    * and `BloomFilterMightContain` pair up inside Spark's own runtime
    * filter. */
  def mightContain(filterBytes: Array[Byte], key: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(filterBytes, BinaryType),
      ColumnBridge.expression(xxhash64(key))))

  /** Distributed bloom build over `corpus`'s `key` column; returns the
    * serialized filter (the only thing the driver ever holds).
    *
    * Built explicitly (per-partition sketch filters + treeReduce merge)
    * rather than via `df.stat.bloomFilter`: since Spark 3.5 the stat
    * method delegates to `BloomFilterAggregate`, which silently clamps
    * the filter to the RUNTIME-FILTER caps
    * (`spark.sql.optimizer.runtime.bloomFilter.maxNumBits`, default
    * 2^26 = 8 MB) regardless of `expectedItems` — measured here:
    * requesting 10M items / 1% returns a 67,108,864-bit filter where
    * the optimal is 95,850,624, and the observed fp rate is ~11%, not
    * 1%. Past ~7M keys the stat-built filter saturates no matter what
    * the caller sizes — exactly the failure corpus-count sizing is
    * meant to prevent. The explicit build honors `expectedItems`
    * verbatim; the driver holds bits for the FINAL filter only
    * (~1.2 MB per 1M keys at 1%), so at billion-key corpora the caller
    * trades fpp for driver memory consciously instead of being clamped
    * silently. Insert and probe stay paired: `putLong` here and
    * `mightContainLong` inside [[BloomFilterMightContain]] apply the
    * same Murmur3 scatter over the same `xxhash64` longs.
    *
    * An empty corpus yields an empty filter (every probe false → every
    * incoming row is definite-new), where `stat.bloomFilter` NPE'd.
    * That path is explicit: an empty relation plans to a ZERO-partition
    * RDD (`LocalTableScanExec` uses `sparkContext.emptyRDD` when it has
    * no rows), and `treeReduce` on a zero-partition RDD throws
    * `UnsupportedOperationException("empty collection")` — so the
    * zero-partition case short-circuits to a fresh filter without
    * running a job.
    *
    * Each build task allocates a full `expectedItems`-sized filter and
    * ships it whole through the merge — at billion-key sizing (~1.2 GB
    * of bits at 1%) that is a PER-TASK executor cost, not just the
    * driver-memory trade-off: every concurrently-running partition task
    * holds and serializes its own full-size filter. The hash RDD is
    * therefore coalesced (no shuffle) to at most
    * [[BloomDedup.MaxBuildPartitions]] build tasks; `putLong` is cheap
    * enough that the bounded width, not the insert, sets the build's
    * wall clock. */
  def buildFilter(corpus: DataFrame, key: Column,
                  expectedItems: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    // toRdd (InternalRow): the value is consumed before the row buffer
    // is reused, so no copy; avoids the Row-encoder boxing of .rdd
    val raw = corpus.select(xxhash64(key).as("__h")).queryExecution.toRdd
    val bf =
      if (raw.getNumPartitions == 0) BloomFilter.create(expectedItems, fpp)
      else {
        val hashes =
          if (raw.getNumPartitions > MaxBuildPartitions) raw.coalesce(MaxBuildPartitions)
          else raw
        hashes.mapPartitions { it =>
          val f = BloomFilter.create(expectedItems, fpp)
          it.foreach(r => f.putLong(r.getLong(0)))
          Iterator.single(f)
        }.treeReduce((a, b) => { a.mergeInPlace(b); a })
      }
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Upper bound on concurrent per-task filter allocations in
    * [[buildFilter]] — each task holds `expectedItems`-sized bits, so
    * peak executor memory for the build is `MaxBuildPartitions` filters
    * cluster-wide regardless of the corpus's scan width. */
  val MaxBuildPartitions = 16

  /** Rows of `incoming` whose `keyCol` value does not occur in `corpus`:
    * exactly `incoming ANTI JOIN corpus ON key`, with the bloom
    * pre-screen keeping definite-new rows out of the anti-join shuffle.
    * `keyCol` must name a column present in both inputs.
    *
    * EAGER: this method runs Spark jobs at call time — the forward
    * bloom build, `candidates.count()` (which both gates the verify
    * branch and sizes the reverse filter), and on the non-empty path
    * the reverse bloom build — and registers a scoped persist for the
    * candidate set. Callers that only want to INSPECT the plan
    * (ExplainAudit) still pay the builds, must call it inside a
    * `Caches.scoped` block, and should note that on a dup-free input the returned
    * plan is just `definiteNew` — the verify branch is genuinely absent,
    * not optimized away. Size `expectedItems` from a real corpus count
    * (see the class doc); a constant saturates at scale. */
  def newRows(incoming: DataFrame, corpus: DataFrame, keyCol: String,
              expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bytes = buildFilter(corpus, col(keyCol), expectedItems, fpp)
    val probe = mightContain(bytes, col(keyCol))
    val definiteNew = incoming.filter(!probe)
    // persisted: read once for the emptiness gate + reverse-filter build,
    // once as the join probe side (without it the whole incoming screen
    // runs twice)
    val candidates = graft.Caches.scopedPersist(incoming.filter(probe))
    // `stat.bloomFilter` NPEs on an empty relation, and an empty
    // candidate set (no duplicates in the batch) is the COMMON case on a
    // clean ingest — nothing to verify, the anti-join is vacuous.
    // count(), not isEmpty: the same job that gates also SIZES the
    // reverse filter — corpus-scale expectedItems here would allocate
    // corpus-scale bits on the driver for a candidate set of
    // |dups| + fpp·|new| rows and ship them to every corpus task as a
    // plan literal, defeating the screen's purpose.
    val candidateCount = candidates.count()
    if (candidateCount == 0) definiteNew
    else {
      // reverse runtime filter: the corpus side of the verify join is
      // bloom-screened by the CANDIDATE keys before its distinct, so only
      // a candidate-matching sliver of the corpus enters the join shuffle
      // (no false negatives → every corpus key equal to a candidate key
      // survives; see the class doc's correctness argument)
      val candBytes = buildFilter(candidates, col(keyCol), candidateCount, fpp)
      val corpusSliver = corpus.select(col(keyCol))
        .filter(mightContain(candBytes, col(keyCol)))
        .distinct()
      val verified = candidates.join(corpusSliver, Seq(keyCol), "left_anti")
      definiteNew.unionByName(verified)
    }
  }
}
