package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-batch content-novelty accounting — the STREAMING face of
  * q168's novelty curve, i.e. the memorization/re-crawl guard a
  * continuous ingest runs per batch: how much of THIS batch's 3-gram
  * content was already seen in earlier batches? Each micro-batch marks
  * its shingle positions against the STANDING seen-shingle index (a
  * position is a repeat only when its hash predates the batch — an
  * intra-batch duplicate counts as novel, exactly q168's
  * `first_bucket < bucket` rule), then the batch's distinct hashes fold
  * into the index. State is the distinct-shingle set: content-sized,
  * the same honest bound as every dedup index here
  * ([[IncrementalNearDup]]'s postings); a deployed run persists it as a
  * [[VersionedState]] fold, and the replay face's in-memory fold is the
  * same contract.
  *
  * q170 promotes the seam into the oracle gate (the q147 precedent):
  * the corpus replayed as FIVE deterministic doc_id-range micro-batches
  * must hash-match the one-shot batch truth — a repeat counted at any
  * batch boundary, or a novel hash folded twice, breaks the match. At
  * the gate SFs the 5-batch width is exactly q168's 100-doc bucket, so
  * the replay also equals q168 row-for-row (pinned in
  * StreamingNoveltySpec, not the oracle, because the width scales with
  * the corpus while q168's bucket is fixed).
  */
object StreamingNovelty {

  /** One batch's novelty report against the standing index; returns
    * (report row, updated index). `batchPos` is (doc_id, h) — one row
    * per shingle POSITION; `seen` is the distinct-hash index. */
  def reportForBatch(batchPos: DataFrame, seen: DataFrame): (DataFrame, DataFrame) = {
    val marked = batchPos.join(seen.select(col("h"), lit(1L).as("__seen")),
      Seq("h"), "left")
    val report = marked.agg(count(lit(1)).as("n_pos"),
      sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_repeat"))
    val newSeen = seen.select("h").unionByName(batchPos.select("h")).distinct()
    (report, newSeen)
  }

  /** q170: the corpus split into `n` deterministic doc_id-range batches
    * ([[EventStreams.idRangeBatches]] — always n batches at any SF, the
    * q147 fixed-n rule) and folded through [[reportForBatch]]. */
  def noveltyReplay(spark: SparkSession, sfDir: String, n: Int): DataFrame = {
    import spark.implicits._
    val pos = graft.Caches.scopedPersist(
      graft.queries.PipelineQueries.positionalShingles(spark, sfDir)
        .select(col("doc_id"), explode(col("sp")).as("h")))
    var seen: DataFrame = Seq.empty[Long].toDF("h")
    var reports: Option[DataFrame] = None
    EventStreams.idRangeBatches(pos, "doc_id", n).zipWithIndex.foreach { case (batch, b) =>
      val (rep, s2) = reportForBatch(batch, seen)
      // materialize the folded index so batch b+1 joins a stable
      // relation instead of re-deriving b unions (the q144 rule:
      // iterative chains persist per round or re-evaluate 2^n times)
      seen = graft.Caches.scopedPersist(s2)
      val tagged = rep.select(lit(b.toLong).as("batch"), col("n_pos"), col("n_repeat"))
      reports = Some(reports.map(_.unionByName(tagged)).getOrElse(tagged))
    }
    reports.get
      .filter(col("n_pos") > 0)
      .select(col("batch"), col("n_pos"), col("n_repeat"),
        expr("(n_pos - n_repeat) * 1000000 div n_pos").as("novelty_ppm"))
      .orderBy("batch")
  }
}
