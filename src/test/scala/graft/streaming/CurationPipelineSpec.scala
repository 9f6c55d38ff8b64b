package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** The curation flagship: quality filter → incremental near-dup →
  * PII scrub → sharded export, composed from the SAME operators the
  * batch oracle gate verifies (q98/q93/q95/q99). The spec drives two
  * micro-batches through the streaming face and audits the funnel,
  * the sink contents, and the shard layout.
  */
class CurationPipelineSpec extends SparkSpec {

  private def mkDirs(): (String, String, String) = {
    val root = Files.createTempDirectory("graft_curation_pipe")
    graft.TempDirs.cleanupOnExit(root)
    (root.resolve("index").toString, root.resolve("out").toString,
      root.resolve("ckpt").toString)
  }

  private def text(seed: Int): String =
    (0 until 12).map(i => s"tok${seed}x$i").mkString(" ")

  /** The engine's own 56-bit hash, recomputed independently (first 14
    * md5 hex chars) so the shard assertion doesn't trust the code under
    * test. */
  private def hash56(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(7).map(b => f"$b%02x").mkString, 16)
  }

  test("two micro-batches: cross-batch dedup, scrubbed sharded export, funnel counts") {
    val (indexDir, outDir, ckptDir) = mkDirs()
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

    val mem = MemoryStream[(Long, String)]
    // minScore = MinValue: the quality gate passes everything, so the
    // dedup/scrub/shard stages are exercised deterministically (the
    // hashed-BoW scores of synthetic tokens are not authoring-time
    // predictable; the quality gate has its own case below)
    val q = CurationPipeline.run(mem.toDF().toDF("doc_id", "text"),
      indexDir, outDir, ckptDir, minScore = Long.MinValue)
    try {
      mem.addData(
        (1L, text(1) + " contact alice@mail.example.org"),
        (2L, text(2)),
        (3L, text(3) + " from 10.1.2.3"))
      q.processAllAvailable()
      // batch 2: doc 4 near-dups doc 1 (same base text, different PII —
      // dedup runs on ORIGINAL text, so the differing email must not
      // mask the match), doc 5 fresh with a phone number
      mem.addData(
        (4L, text(1) + " contact bob@mail.example.org"),
        (5L, text(5) + " call 555-123-4567"))
      q.processAllAvailable()
    } finally q.stop()

    val dedup = spark.read.parquet(s"$outDir/dedup")
      .select("doc_id", "dup_of", "kept").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .toMap
    assert(dedup.size === 5)
    Seq(1L, 2L, 3L, 5L).foreach(id => assert(dedup(id) === (None, true)))
    assert(dedup(4L) === (Some(1L), false),
      "batch-2 near-copy must match batch-1's indexed original")

    // the export: survivors only, PII scrubbed, correct shard dirs
    // `shard` comes back as a PARTITION column (directory-inferred int)
    val shards = spark.read.parquet(s"$outDir/shards")
      .selectExpr("doc_id", "clean_text", "CAST(shard AS BIGINT) AS shard").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(shards.keySet === Set(1L, 2L, 3L, 5L), "dropped docs must not export")
    assert(shards(1L)._1 === text(1) + " contact <EMAIL>")
    assert(shards(3L)._1 === text(3) + " from <IP>")
    assert(shards(5L)._1 === text(5) + " call <PHONE>")
    shards.foreach { case (id, (_, shard)) =>
      assert(shard === hash56(s"shard_$id") % 8,
        s"doc $id must land in its reproducible md5 shard")
    }

    // quality report covers every input doc (the gate was open)
    val quality = spark.read.parquet(s"$outDir/quality")
    assert(quality.count() === 5)
    assert(quality.filter("n_tokens >= 12").count() === 5)
  }

  test("restart from checkpoint: committed batches are not reprocessed, the index survives") {
    val (indexDir, outDir, ckptDir) = mkDirs()
    val inDir = Files.createTempDirectory("graft_curation_in")
    graft.TempDirs.cleanupOnExit(inDir)
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def source() = spark.readStream.schema(schema).parquet(inDir.toString)
    def drain(): Unit = {
      val q = CurationPipeline.run(source(), indexDir, outDir.toString,
        ckptDir, minScore = Long.MinValue)
      try q.processAllAvailable() finally q.stop()
    }
    // phase A: two docs, then STOP
    Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    drain()
    // phase B: restart on the SAME checkpoint with one near-copy of doc 1
    Seq((3L, text(1) + " extra")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir.toString)
    drain()

    val dedup = spark.read.parquet(s"$outDir/dedup")
      .select("doc_id", "dup_of", "kept").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    // exactly ONE decision per doc: phase A's committed batch was not
    // re-read as a new batch after the restart
    assert(dedup.length === 3, dedup.mkString(","))
    val m = dedup.toMap
    assert(m(1L) === (None, true) && m(2L) === (None, true))
    // the restarted query dedups against the index built BEFORE the stop
    assert(m(3L) === (Some(1L), false),
      "post-restart batch must see the pre-restart corpus index")
  }

  test("exactly-once form: a replayed batch overwrites itself, even after its index write landed") {
    val (indexDir, outDir, _) = mkDirs()
    import spark.implicits._
    val b1 = Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text")
    CurationPipeline.processBatch(b1, 0L, indexDir, outDir, Long.MinValue)
    val b2 = Seq((3L, text(1) + " extra"), (4L, text(4))).toDF("doc_id", "text")
    CurationPipeline.processBatch(b2, 1L, indexDir, outDir, Long.MinValue)
    // REPLAY batch 1 — the crash-after-index-write scenario: its first
    // attempt's signatures are already in the index under __batch=1, and
    // the retry must (a) not dedup doc 3 against its own first attempt,
    // (b) overwrite rather than double every sink partition
    CurationPipeline.processBatch(b2, 1L, indexDir, outDir, Long.MinValue)

    val dec = spark.read.parquet(s"$outDir/dedup")
      .select("doc_id", "dup_of", "kept").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    assert(dec.length === 4, s"replay must not duplicate decisions: ${dec.mkString(",")}")
    val m = dec.toMap
    assert(m(1L) === (None, true) && m(2L) === (None, true) && m(4L) === (None, true))
    assert(m(3L) === (Some(1L), false),
      "the replayed batch must still dedup against the PRIOR corpus only")
    // exports: survivors exactly once
    val exported = spark.read.parquet(s"$outDir/shards").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(exported === Seq(1L, 2L, 4L))
    // index: survivors exactly once
    val indexed = spark.read.parquet(s"$indexDir/shingles").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(indexed === Seq(1L, 2L, 4L))
  }

  test("the quality gate drops low-scoring docs before they pay signature or regex cost") {
    val (indexDir, outDir, _) = mkDirs()
    import spark.implicits._
    val batch = Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text")
    val stats = CurationPipeline.processBatch(batch, 0L, indexDir, outDir,
      minScore = Long.MaxValue)
    assert(stats === CurationPipeline.BatchStats(2, 2, 0, 0))
    // nothing reached the index or the export (an all-empty write may
    // leave a directory with no parquet footers — count data FILES, not
    // rows, so the assertion doesn't depend on schema inference)
    def dataFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(d)
      }
    }
    def rowsIn(dir: String): Long =
      if (dataFiles(dir) == 0) 0L else spark.read.parquet(dir).count()
    assert(rowsIn(s"$indexDir/bands") === 0, "no doc may enter the index")
    assert(rowsIn(s"$outDir/shards") === 0, "no doc may export")
    // the quality report still covers (and explains) every dropped doc
    assert(spark.read.parquet(s"$outDir/quality").count() === 2)
  }

  test("a batch that keeps nothing leaves an index the next batch can read") {
    val (indexDir, outDir, _) = mkDirs()
    import spark.implicits._
    // the quality gate drops all of batch 0: the index dirs exist but
    // hold no batch slice
    CurationPipeline.processBatch(Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text"),
      0L, indexDir, outDir, Long.MaxValue)
    val stats = CurationPipeline.processBatch(
      Seq((3L, text(1)), (4L, text(4))).toDF("doc_id", "text"),
      1L, indexDir, outDir, Long.MinValue)
    assert(stats === CurationPipeline.BatchStats(2, 0, 0, 2))
  }

  test("q209: every funnel stage fires on the fixture (no vacuous gate row)") {
    val rows = graft.SparkEntry.queries("q209_curation_replay")(spark, sf0001)
      .collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_input") ===
        r.getAs[Long]("n_quality_dropped") + r.getAs[Long]("n_dup_dropped") +
          r.getAs[Long]("n_exported"), "the funnel must account for every doc")
    }
    assert(rows.map(_.getAs[Long]("n_quality_dropped")).sum > 0,
      "the quality gate must drop something")
    assert(rows.map(_.getAs[Long]("n_dup_dropped")).sum > 0,
      "the median-score gate exists so surviving twins reach the dedup stage")
    assert(rows.map(_.getAs[Long]("n_exported")).sum > 0,
      "something must survive to export")
  }
}
