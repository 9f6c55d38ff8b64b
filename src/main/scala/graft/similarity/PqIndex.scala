package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Compute-once PQ index over the `embeddings` table — the sub-centroid
  * codebooks and the code table, shared the same way [[IvfIndex]] shares
  * the coarse quantizer: trained once per (session, dir), charged to the
  * bench's `pq_index` shared-build step. In a deployment both halves are
  * persisted tables maintained by the ingest pipeline (the streaming
  * face of the coarse half is streaming/VectorIngest).
  */
object PqIndex {

  /** The trained sub-codebooks: (s, code, cv). */
  def centroids(s: SparkSession, d: String): DataFrame =
    graft.Caches.sharedRelation(s, d, "pq_centroids") {
      Pq.trainSubCentroids(Tables.embeddings(s, d).select("vec_id", "embedding"))
    }

  /** The PQ-compressed corpus: (vec_id, s, code). */
  def codes(s: SparkSession, d: String): DataFrame =
    graft.Caches.sharedRelation(s, d, "pq_codes") {
      Pq.encode(Tables.embeddings(s, d).select("vec_id", "embedding"),
        centroids(s, d))
    }

  /** Materializes codebooks + codes (Bench/QueryBench time this as the
    * `pq_index` shared-build part). */
  def warm(s: SparkSession, d: String): Unit = {
    codes(s, d)
    ()
  }
}
