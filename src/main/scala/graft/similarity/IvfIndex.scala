package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Compute-once IVF index over the `embeddings` table, shared by every
  * consumer of the coarse quantizer (q33 nprobe search, q77 SemDeDup).
  *
  * Both queries need the SAME trained codebook and the SAME
  * nearest-centroid partitioning of the corpus; before this object each
  * of them re-ran the two Lloyd iterations and the assignment pass per
  * invocation (per bench rep). Training and assignment are exactly the
  * "index build" of a real IVF deployment — computed once per corpus
  * snapshot, reused by every search — so they live here as explicit
  * [[graft.Caches.sharedRelation]]s, charged to the timed `ivf_index`
  * shared-build bench step like the dedup trio and the dense-id sorts.
  *
  * At the 100 TB lens: the codebook is k rows (driver/broadcast-sized at
  * any corpus scale once k is raised to keep cells bounded), and the
  * assignment relation is the inverted file itself — one (vector, cell)
  * row per corpus vector, built in a single broadcast-join pass and
  * reused by every probe instead of re-scored per query.
  */
object IvfIndex {

  /** Codebook geometry — one place, so q33's search and q77's dedup can
    * never silently train differently-shaped indexes. */
  val K = 16
  val Iters = 2

  /** The trained coarse codebook: (centroid_id, embedding). */
  def codebook(s: SparkSession, d: String): DataFrame =
    graft.Caches.sharedRelation(s, d, "ivf_codebook") {
      Ann.trainCentroids(
        Tables.embeddings(s, d).select("vec_id", "embedding"), K, Iters)
    }

  /** Nearest-centroid assignment of every corpus vector — the inverted
    * file: (vec_id, nv, nn, cell), norms precomputed so downstream
    * consumers pay one dot product per candidate pair. Builds the
    * codebook first (distinct cache key — same nested-build pattern as
    * the dedup trio's verified_pairs → shingle_docs). */
  def assignments(s: SparkSession, d: String): DataFrame =
    graft.Caches.sharedRelation(s, d, "ivf_assignments") {
      Ann.assignCells(
        Tables.embeddings(s, d).select("vec_id", "embedding"), codebook(s, d))
    }

  /** Materializes codebook + assignments (Bench/QueryBench time this as
    * the `ivf_index` shared-build part). One call suffices: the
    * assignments build nests the codebook build, and `sharedRelation`
    * already counts each relation at materialization — an extra count
    * here would just rescan the cached corpus into the timed number. */
  def warm(s: SparkSession, d: String): Unit = {
    assignments(s, d)
    ()
  }
}
