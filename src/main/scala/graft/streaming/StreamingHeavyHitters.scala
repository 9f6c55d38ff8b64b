package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.MisraGries

/** Streaming heavy hitters — the continuous face of the q107 two-pass
  * operator: a STANDING Misra–Gries summary is maintained across
  * micro-batches, so "what's trending over everything ever ingested" is
  * answerable at any moment from k−1 rows of state.
  *
  * Per micro-batch: the batch's tokens reduce to a batch-local MG sketch
  * (the same typed partial aggregate as q107 — each map task ships
  * ≤ k−1 counters), the batch sketch merges into the standing sketch
  * with the value-based mergeable-summaries rule, and the merged summary
  * becomes a NEW state version. The merge runs driver-side ON THE TWO
  * SUMMARIES (≤ 2(k−1) rows by construction — summary-sized, not
  * data-sized; the same stance as the q104 τ row or the q102 range row).
  *
  * Guarantee carried across batches (Agarwal et al., PODS 2012): after
  * any number of merges, every token whose TOTAL stream frequency
  * exceeds n/k retains a positive counter, and no counter overestimates.
  * The surviving KEY SET and counter values are merge-order-dependent
  * (see the MisraGries header) — only the containment guarantee is
  * stable, so consumers must never golden-hash the summary. Unlike q107,
  * a streaming report cannot re-scan history for the exact second pass —
  * the summary (candidates + total) IS the deliverable, and a consumer
  * wanting exact counts runs the q107 exact pass over the candidates
  * against whatever history it retains.
  *
  * State layout at `sketchDir` (ADVICE r10: the old read-then-overwrite
  * of one live path lost ALL standing state if the writer died between
  * the overwrite's delete and commit): [[VersionedState]] version dirs
  * `v{batchId}/` each holding `sketch/` (tok, c) and `total/` (n) — a
  * crash mid-write leaves an uncommitted version that every reader
  * ignores while the previous committed version stays intact, and a
  * re-delivered batch finds its own version committed and no-ops.
  * State on disk is ≤ 2 summary-sized versions.
  */
object StreamingHeavyHitters {

  val K = 16

  /** Fold ONE micro-batch of (doc_id, text) into the standing sketch,
    * exactly-once under retry ([[VersionedState.fold]], version keyed
    * by `batchId`). Visible inside graft so the spec AND the q243
    * oracle-gated face drive it directly. `k` must be constant across
    * a sketchDir's lifetime — the merge assumes both summaries share
    * the width (q243 folds at q107's k = 32 into its own directory;
    * the default stays [[K]]). */
  private[graft] def processBatch(batch: DataFrame, sketchDir: String,
                                  batchId: Long, k: Int = K): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    VersionedState.fold(spark, sketchDir, batchId) { (prev, vdir) =>
      val agg = new MisraGries(k)
      val mg = udaf(agg)
      val toks = batch.select(explode(split(col("text"), " ")).as("tok"))
      // distributed reduction to ONE summary row; collect is summary-sized
      val batchSketch: Map[String, Long] =
        toks.agg(mg(col("tok")).as("sk")).as[Map[String, Long]].head()
      val batchN = toks.count()

      val (standing, standingN) = prev match {
        case Some(p) =>
          val s = spark.read.parquet(s"$p/sketch").as[(String, Long)].collect().toMap
          val n = spark.read.parquet(s"$p/total").as[Long].head()
          (s, n)
        case None => (Map.empty[String, Long], 0L)
      }

      val merged = agg.merge(standing, batchSketch)
      merged.toSeq.toDF("tok", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/sketch")
      Seq(standingN + batchN).toDF("n").coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/total")
    }
  }

  /** The standing report: candidate tokens with their (under-estimating)
    * counters and the stream total — every true heavy hitter (freq >
    * n/k for the k the directory was folded with; see [[processBatch]],
    * which parameterizes k per sketchDir) is guaranteed present. Reads
    * the newest COMMITTED version; uncommitted (mid-crash) versions are
    * invisible. */
  def report(spark: SparkSession, sketchDir: String): DataFrame = {
    val v = VersionedState.latest(spark, sketchDir)
    val sketch = spark.read.parquet(s"$v/sketch")
    val total = spark.read.parquet(s"$v/total")
    sketch.crossJoin(broadcast(total))
      .select(col("tok"), col("c"), col("n"))
      .orderBy(col("c").desc, col("tok"))
  }

  /** Unbounded form: a files-source document stream folded batch-by-batch
    * ([[processBatch]]) via foreachBatch, exactly-once per the version
    * keying above. */
  def run(spark: SparkSession, inputDir: String, sketchDir: String,
          checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => processBatch(b, sketchDir, id) }
      .start()
  }
}
