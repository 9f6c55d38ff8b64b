package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming data-quality monitor — the continuous face of the q121
  * assertion pass: every micro-batch of documents runs through the SAME
  * shared operator ([[graft.operators.TextCuration.dqChecks]] — one
  * conditional aggregation, five checks) and writes its long-form
  * report stamped with the batch id, so the quality history of a feed
  * is a queryable table and an alert is `pass = 0` in the latest batch.
  *
  * This is the deploy shape of ingestion QA: checks run ON the ingest
  * pass (one scan of the batch, no second read), reports are tiny
  * (5 rows per batch), and the gate the batch pipeline applies
  * (quarantine, halt, alert) reads the same rows. Each batch's report
  * is its own `__batch` slice ([[VersionedState.overwriteBatch]]), so a
  * retried micro-batch replaces its report instead of appending a
  * second copy.
  */
object DqMonitor {

  /** Fold ONE micro-batch's report into the history table. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      outDir: String): Unit = {
    VersionedState.overwriteBatch(graft.operators.TextCuration.dqChecks(batch)
      .withColumn("batch_id", lit(batchId))
      .coalesce(1), batchId, outDir)
  }

  /** Unbounded form: a files-source document stream monitored
    * batch-by-batch via foreachBatch. */
  def run(spark: SparkSession, inputDir: String, outDir: String,
          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType)))
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => processBatch(b, id, outDir) }
      .start()
  }

  /** The quality history: (batch_id, check_name, n_violations, pass). */
  def history(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select("batch_id", "check_name", "n_violations", "pass")
      .orderBy("batch_id", "check_name")

  /** Bounded N-way micro-batch replay — the q125 oracle-gate face
    * (VERDICT r10 item 8, the q63 promotion precedent): the documents
    * table splits into `n` deterministic micro-batches (`doc_id % n` —
    * the arrival partition a replayed feed would have), each folds
    * through the SAME batch body the unbounded form runs
    * ([[processBatch]]), and the accumulated history reads back. The
    * oracle replays the five checks per batch with one GROUP BY — so
    * the gate proves N streamed reports ≡ the batch truth, the same
    * stream/batch-parity contract as q25/q61/q63. */
  def boundedHistory(spark: SparkSession, sfDir: String, n: Int): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft-dqhist-")
    graft.TempDirs.cleanupOnExit(out)
    val docs = graft.Tables.documents(spark, sfDir)
    (0 until n).foreach { b =>
      processBatch(docs.filter(pmod(col("doc_id"), lit(n)) === b), b.toLong,
        out.toString)
    }
    history(spark, out.toString)
  }
}
