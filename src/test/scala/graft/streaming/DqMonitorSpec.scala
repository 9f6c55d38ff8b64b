package graft.streaming

import graft.SparkSpec

class DqMonitorSpec extends SparkSpec {
  import spark.implicits._

  test("per-batch quality history: a clean batch passes, a planted violation alerts") {
    val in = java.nio.file.Files.createTempDirectory("graft-dq-in-")
    val out = java.nio.file.Files.createTempDirectory("graft-dq-out-")
    val ck = java.nio.file.Files.createTempDirectory("graft-dq-ck-")
    Seq(in, out, ck).foreach(graft.TempDirs.cleanupOnExit)

    val clean = Seq((1L, "good text", "en", 9L), (2L, "mehr text", "de", 9L))
    val dirty = Seq((3L, "fine", "en", 4L), (3L, "fine", "en", 4L), // dup id
      (4L, "bad", "xx", 3L))                                       // bad lang
    // coalesce(1): the running query's trigger polls the glob
    // continuously, and a multi-part write can be listed mid-commit —
    // part files surface one rename at a time, splitting one logical
    // batch across two micro-batches (observed as a flaky hist.size=3).
    // A single part file appears atomically.
    clean.toDF("doc_id", "text", "lang", "n_chars")
      .coalesce(1).write.parquet(s"$in/b0")
    val q = DqMonitor.run(spark, in.toString + "/*", out.toString, ck.toString)
    try {
      q.processAllAvailable()
      dirty.toDF("doc_id", "text", "lang", "n_chars")
        .coalesce(1).write.parquet(s"$in/b1")
      q.processAllAvailable()
    } finally q.stop()

    val hist = DqMonitor.history(spark, out.toString)
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).map { case (b, rs) =>
        b -> rs.map(r => r._2 -> ((r._3, r._4))).toMap
      }
    assert(hist.size === 2, "one report per micro-batch")
    val Seq(b0, b1) = hist.keys.toSeq.sorted.map(hist)
    assert(b0.values.forall(_ === ((0L, 1L))), "clean batch: all checks pass")
    assert(b1("doc_id_unique") === ((1L, 0L)), "dup id alerts with its count")
    assert(b1("lang_in_domain") === ((1L, 0L)), "bad lang alerts with its count")
    assert(b1("doc_id_not_null") === ((0L, 1L)), "untouched checks still pass")
  }

  test("a re-run micro-batch replaces its own report: the history is unchanged") {
    val out = java.nio.file.Files.createTempDirectory("graft-dq-replay-")
    graft.TempDirs.cleanupOnExit(out)
    val b0 = Seq((1L, "good text", "en", 9L)).toDF("doc_id", "text", "lang", "n_chars")
    val b1 = Seq((2L, "bad", "xx", 3L)).toDF("doc_id", "text", "lang", "n_chars")
    DqMonitor.processBatch(b0, 0L, out.toString)
    DqMonitor.processBatch(b1, 1L, out.toString)
    def hist = DqMonitor.history(spark, out.toString)
      .as[(Long, String, Long, Long)].collect().toSeq
    val before = hist
    assert(before.size === 10, "five check rows per batch")
    // a retried batch 1: same id, same documents
    DqMonitor.processBatch(b1, 1L, out.toString)
    assert(hist === before, "a re-run batch must replace its report, not append a second copy")
  }
}
