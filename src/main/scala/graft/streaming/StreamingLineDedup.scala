package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental line-level dedup (q246, r15) — the STREAMING face of
  * q226's C4/CCNet boilerplate pass, i.e. what a production curation
  * pipeline actually runs: new documents arrive in batches and are
  * cleaned against a STANDING chunk-frequency index instead of a
  * whole-corpus recompute.
  *
  * Semantics (the contract the oracle replays, stated precisely because
  * incremental dedup is only well-defined once you pick a side on each):
  *
  *  - **The index** maps chunk-hash → distinct-doc count over all
  *    committed batches. Batches partition documents (doc_id ranges),
  *    so per-batch distinct counts ADD — the merge is a keyed sum, no
  *    cross-batch distinct needed.
  *  - **Prior-batch knowledge only**: batch b is cleaned against the
  *    index as of batches 0..b−1. A chunk whose count CROSSES the
  *    [[graft.queries.CurationQueries.LineDupMinDocs]] threshold inside
  *    batch b therefore still appears in batch b's own output and is
  *    dropped from FUTURE batches only — already-emitted documents are
  *    never rewritten (the output ledger is append-only; a retroactive
  *    sweep over history is exactly the batch pass, q226, run offline).
  *  - **Exactly-once**: index versions are keyed by batch id under the
  *    shared [[VersionedState]] COMMITTED-marker layout, so a
  *    re-delivered batch finds its version committed and no-ops —
  *    the index never double-counts and the ledger never duplicates
  *    (StreamingLineDedupSpec proves the discriminating direction: a
  *    double-fold would push a below-threshold chunk over the line).
  *
  * Scale shape, per batch: one chunk explode over the BATCH (not the
  * corpus), one keyed left-anti join against the boilerplate slice of
  * the standing index (tiny by Zipf — frequent chunks are few — so it
  * broadcasts), one per-doc reassembly agg, and a keyed sum to fold the
  * batch's counts in. Index size is distinct-chunk-bounded — the same
  * honest content-sized bound as every dedup index here
  * ([[IncrementalNearDup]]'s postings, [[StreamingNovelty]]'s set).
  */
object StreamingLineDedup {

  /** Clean ONE batch of (doc_id, text) against the standing index and
    * fold its chunk counts in, exactly-once under retry. Output rows
    * (doc_id, batch, n_chunks, n_dropped, clean_text) land in the
    * permanent ledger `out/b{batchId}`; the updated index becomes
    * version `v{batchId}` (predecessors prune). */
  def processBatch(batch: DataFrame, stateDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    VersionedState.fold(spark, stateDir, batchId) { (prev, vdir) =>
      val ch = graft.Caches.scopedPersist(
        graft.queries.CurationQueries.lineChunks(batch))
      val standing = prev match {
        case Some(p) => spark.read.parquet(s"$p/index")
        case None => spark.range(0).select(col("id").as("h"), col("id").as("nd"))
      }
      val boiler = standing
        .filter(col("nd") >= graft.queries.CurationQueries.LineDupMinDocs)
        .select("h")
      val kept = ch.join(broadcast(boiler), Seq("h"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("ci"), col("chunk")))),
              x => x.getField("chunk"))).as("clean_text"))
      val out = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(batchId).as("batch"), col("n_chunks"),
          (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
      out.write.mode("overwrite").parquet(s"$stateDir/out/b$batchId")
      val batchCounts = ch.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
      standing.unionByName(batchCounts)
        .groupBy("h").agg(sum(col("nd")).as("nd"))
        .write.mode("overwrite").parquet(s"$vdir/index")
    }
  }

  /** The append-only cleaned ledger: every committed batch's output,
    * one row per document ever ingested. Enumerates the ledger dirs
    * themselves and validates each against the exactly-once record
    * (explicit marker OR ≤ the compacted high-water mark, r16) — an
    * orphan `out/b{id}` from a crash between the ledger write and the
    * commit marker stays invisible, exactly as before compaction. */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val markers = VersionedState.committed(spark, stateDir)
    val hwm = VersionedState.highWaterMark(spark, stateDir) // once, not per id
    val f = VersionedState.fs(spark, stateDir)
    val outDir = new org.apache.hadoop.fs.Path(s"$stateDir/out")
    val ids =
      if (!f.exists(outDir)) Seq.empty[Long]
      else f.listStatus(outDir).toSeq
        .map(_.getPath.getName).filter(_.startsWith("b"))
        .map(_.drop(1).toLong)
        .filter(id => VersionedState.isCommitted(hwm, id, markers))
        .sorted
    require(ids.nonEmpty, s"no committed batch under $stateDir")
    spark.read.parquet(ids.map(v => s"$stateDir/out/b$v"): _*)
  }
}
