package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Signatures
import graft.functions.TextOps

/** Streaming incremental NEAR-dup — the continuous-ingestion face of the
  * q93 batch operator (VERDICT r9 item 1): each micro-batch of documents
  * dedups against the STANDING corpus index persisted on disk, then the
  * batch's surviving docs join that index so later batches dedup against
  * them too.
  *
  * The index is two parquet tables under `indexDir`:
  *   - `bands/`    — (band, bucket, doc_id): the minhash LSH postings the
  *                   batch probes with an equi-join (never a corpus scan);
  *   - `shingles/` — (doc_id, sh): the exact shingle sets the Jaccard
  *                   verify step reads for candidate corpus docs only.
  *
  * Per micro-batch cost is batch_bands × bucket-collision width — bucket
  * sizes are duplicate-group sizes (the q91-adjudicated LSH argument), so
  * the work is linear in the BATCH at any corpus size; the index grows
  * with the kept corpus but is only ever equi-joined, never self-joined.
  * Only KEPT docs enter the index: the standing corpus is the surviving
  * corpus, so a third near-copy still matches the FIRST copy (its
  * retained original), and dropped text never costs index space.
  *
  * Delivery is exactly-once under micro-batch RETRY: decisions AND
  * index rows carry a `__batch` partition, a replayed batch OVERWRITES
  * its own partition (dynamic partition overwrite), and the dedup's
  * index reads exclude the replayed batch's partition — so a retry that
  * crashed after its index write still reaches the same decisions, and
  * no sink ever holds two copies of a batch.
  *
  * Reference anchor: the unbounded-source semantics (`frame_reader.py:
  * 158-199`) + BASELINE.json's "design every operator for 100 TB scale"
  * north star — a 100 TB pipeline never re-dedups the standing corpus
  * per ingest.
  */
object IncrementalNearDup {

  /** q93's verify threshold, shared verbatim. */
  val JaccardThreshold = 0.5

  /** Whether some batch wrote a slice of the index table at `path`: a
    * batch that keeps nothing leaves the directory without any
    * `__batch=` slice, and parquet cannot infer a schema from it. */
  private def hasSlices(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("__batch="))
  }

  /** The composable core: dedup `batch` against the index, write the
    * SURVIVORS' signatures into the index under `__batch=<batchId>`,
    * and return the per-doc decisions `(doc_id, dup_of, best_jaccard,
    * kept)` — eagerly local-checkpointed, so the caller can fan them into
    * its own sinks after the index write. Call it inside a
    * `Caches.scoped` block, which releases the batch's persisted
    * signatures. Used by both [[processBatch]] and the composed
    * [[CurationPipeline]].
    *
    * A retry OVERWRITES its own index partition instead of appending
    * twice, and the index reads exclude the current batch's partition:
    * without the exclusion, a retry that crashed AFTER its index write
    * would find its own first-attempt signatures and match every doc
    * against itself. */
  private[streaming] def dedupBatch(batch: DataFrame, batchId: Long,
                                    indexDir: String): DataFrame = {
    val spark = batch.sparkSession
    val bandsDir = s"$indexDir/bands"
    val shinglesDir = s"$indexDir/shingles"
    def readIndex(dir: String): DataFrame =
      spark.read.parquet(dir).filter(col("__batch") =!= batchId)

    // batch signatures: the same fused shingle+hash pass as the batch
    // pipeline (positional md5 → distinct 56-bit sets → 16-hash bands)
    val sh = graft.Caches.scopedPersist(
      batch.select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          array_distinct(TextOps.positionalHashedShingles(col("tk"), 3)).as("sh"))
        .filter(size(col("sh")) > 0))
    val probes = Signatures.minhashBandBuckets(sh, 16)
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))

    val matches: DataFrame =
      if (!hasSlices(spark, bandsDir)) {
        // first ingest: empty standing corpus, everything is kept
        spark.emptyDataFrame
          .withColumn("new_id", lit(null).cast("long"))
          .withColumn("dup_of", lit(null).cast("long"))
          .withColumn("best_jaccard", lit(null).cast("double"))
          .select("new_id", "dup_of", "best_jaccard")
      } else {
        val index = readIndex(bandsDir)
        val cand = probes.join(index, Seq("band", "bucket"))
          .select(col("new_id"), col("doc_id").as("corpus_id")).distinct()
        val a = sh.select(col("doc_id").as("new_id"), col("sh").as("sh_a"))
        val b = readIndex(shinglesDir)
          .select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
        val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        cand.join(a, "new_id").join(b, "corpus_id")
          .withColumn("jaccard",
            inter / (size(col("sh_a")) + size(col("sh_b")) - inter))
          .filter(col("jaccard") >= JaccardThreshold)
          .groupBy("new_id")
          .agg(min("corpus_id").as("dup_of"), max("jaccard").as("best_jaccard"))
      }

    // a local checkpoint, NOT scopedPersist: the decisions plan READS the
    // index paths this method then APPENDS to, and Spark's CacheManager
    // invalidates (recaches) any cached plan over a written path — a
    // merely-persisted decisions would silently re-evaluate against the
    // post-append listing on the caller's next action, matching each doc
    // against its own just-indexed signature. The eager checkpoint
    // freezes the pre-append answer.
    val decisions = batch.select("doc_id")
      .join(matches, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("best_jaccard"),
        col("new_id").isNull.as("kept"))
      .localCheckpoint(eager = true)

    // only SURVIVORS join the standing corpus
    val keptIds = decisions.filter(col("kept")).select("doc_id")
    val keptSh = sh.join(keptIds, "doc_id")
    val keptBands = probes
      .select(col("band"), col("bucket"), col("new_id").as("doc_id"))
      .join(keptIds, "doc_id")
    VersionedState.overwriteBatch(keptSh, batchId, shinglesDir)
    VersionedState.overwriteBatch(keptBands, batchId, bandsDir)
    decisions
  }

  /** One batch body: decisions land in a `__batch`-keyed partition they
    * overwrite on replay, and the index writes go through
    * [[dedupBatch]] (same keying). Package-visible so the retried-batch
    * spec drives it directly. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      indexDir: String, outDir: String): Unit =
    graft.Caches.scoped {
      VersionedState.overwriteBatch(dedupBatch(batch, batchId, indexDir), batchId, outDir)
    }

  /** Run the incremental dedup over a streaming (doc_id, text) source. */
  def run(docs: DataFrame, indexDir: String, outDir: String,
          checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, bid, indexDir, outDir)
      }
      .start()
}
