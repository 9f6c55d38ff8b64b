package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Ann

/** Continuous vector ingestion into the IVF index: two micro-batches
  * accumulate in the cell-partitioned on-disk layout, and a search over
  * the read-back index must equal the one-shot q33 pipeline over the
  * union — the index is an incremental MATERIALIZATION of the same
  * assignment, not an approximation of it.
  */
class VectorIngestSpec extends SparkSpec {

  test("two ingested micro-batches search identically to the one-shot IVF build") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("graft_vec_ingest")
    graft.TempDirs.cleanupOnExit(root)
    val indexDir = root.resolve("index").toString
    val ckptDir = root.resolve("ckpt").toString

    val all = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").cache()
    val centroids = Ann.trainCentroids(all, k = 4, iters = 2).cache()
    centroids.count()

    val rows = all.select(col("vec_id"),
      col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = rows.partition(_._1 % 2 == 0)

    val mem = MemoryStream[(Long, Seq[Double])]
    val q = VectorIngest.run(
      mem.toDF().toDF("vec_id", "embedding"), centroids, indexDir, ckptDir)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    // the on-disk layout is cell-partitioned within each batch's slice:
    // one directory per cell, so a probe opens only its cells' files
    val cellDirs = new java.io.File(indexDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__batch="))
      .flatMap(_.listFiles())
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName)
      .distinct.sorted
    assert(cellDirs.nonEmpty && cellDirs.length <= 4, cellDirs.mkString(","))

    val queries = all.filter(col("vec_id") < 3)
    val viaIndex = VectorIngest
      .searchIndex(spark, indexDir, queries, centroids, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val oneShot = Ann.ivfKnn(all, queries, centroids, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(viaIndex === oneShot,
      "incrementally built index must answer exactly like the one-shot build")

    // the probe list prunes the cell-partitioned scan at RUNTIME (the
    // q84 DPP machinery): a low-nprobe search must carry a
    // dynamicpruning expression in the index scan's PartitionFilters —
    // the reason a 100 TB index answers a query without listing itself
    val narrow = VectorIngest.searchIndex(spark, indexDir,
      all.filter(col("vec_id") === 0), centroids, k = 5, nprobe = 1)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      "probed cells must prune the partitioned index scan dynamically")
    all.unpersist(); centroids.unpersist()
  }

  test("restart from checkpoint: committed vector batches are not re-ingested") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vec_restart")
    graft.TempDirs.cleanupOnExit(root)
    val indexDir = root.resolve("index").toString
    val ckptDir = root.resolve("ckpt").toString
    val inDir = root.resolve("in").toString

    val all = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .cache()
    val n = all.count()
    val centroids = Ann.trainCentroids(all, k = 4, iters = 2).cache()
    centroids.count()

    val schema = all.schema
    def drain(): Unit = {
      val q = VectorIngest.run(
        spark.readStream.schema(schema).parquet(inDir), centroids,
        indexDir, ckptDir)
      try q.processAllAvailable() finally q.stop()
    }
    all.filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain() // phase A, then STOP
    all.filter(col("vec_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain() // restart on the same checkpoint

    val idx = spark.read.parquet(indexDir)
    // every vector exactly once: a re-ingest of phase A's committed
    // batch would duplicate the even ids
    assert(idx.count() === n)
    assert(idx.select("vec_id").distinct().count() === n)
    all.unpersist(); centroids.unpersist()
  }

  test("a re-run micro-batch replaces its own index slice: the index rows are unchanged") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_vec_replay")
    graft.TempDirs.cleanupOnExit(root)
    val indexDir = root.resolve("index").toString
    val all = graft.Tables.embeddings(spark, sf0001).select("vec_id", "embedding").cache()
    val centroids = Ann.trainCentroids(all, k = 4, iters = 2).cache()
    def batch(b: Long) = all.filter(col("vec_id") % 2 === b)
    (0L to 1L).foreach(b => VectorIngest.ingestBatch(batch(b), b, centroids, indexDir))
    def index = spark.read.parquet(indexDir).select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    val before = index
    assert(before.map(_._1) === all.select("vec_id").as[Long].collect().sorted.toSeq,
      "every vector once before the replay")
    // a retried batch 1: same id, same vectors
    VectorIngest.ingestBatch(batch(1L), 1L, centroids, indexDir)
    assert(index === before, "a re-run batch must replace its slice, not add its vectors again")
    all.unpersist(); centroids.unpersist()
  }

  test("q208: the gate-facing replay equals the one-shot q33 search row-for-row") {
    val replay = graft.SparkEntry.queries("q208_vector_ingest_replay")(spark, sf0001)
      .collect().toSeq
    val oneShot = graft.SparkEntry.queries("q33_ann_ivf")(spark, sf0001)
      .collect().toSeq
    try {
      assert(replay.nonEmpty)
      assert(replay === oneShot,
        "batch-at-a-time ingest must build the SAME index as one-shot indexing")
    } finally graft.Caches.releaseScoped()
  }
}
