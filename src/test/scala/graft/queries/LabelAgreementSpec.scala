package graft.queries

import graft.{Caches, SparkSpec}

/** q164's vote arithmetic on a planted geometry: the gate proves the
  * query against the exact-kNN oracle at every SF, but the fixture's
  * random labels never pin the TIE path. This corpus hands query 0 a
  * 2-2-1 vote (labels 7,7,3,3,1 at cosines .9 .8 .7 .6 .5) so the
  * deterministic (count DESC, label ASC) tie-break must pick 3 — and
  * flag the doc, whose own label is 7.
  */
class LabelAgreementSpec extends SparkSpec {
  import spark.implicits._

  test("5-NN 2-2-1 vote resolves by (count DESC, label ASC) and flags the disagreement") {
    // unit vectors (cos t, sin t): cosine to v0 IS the first component
    def v(c: Double): Array[Float] =
      Array(c.toFloat, math.sqrt(1.0 - c * c).toFloat, 0f, 0f)
    val rows = Seq(
      (0L, v(1.0), 7),  // the audited doc
      (1L, v(0.9), 7), (2L, v(0.8), 7),   // two votes for 7
      (3L, v(0.7), 3), (4L, v(0.6), 3),   // two votes for 3
      (5L, v(0.5), 1),                    // one vote for 1
      (6L, v(0.1), 9))                    // outside the top 5
    val tmp = java.nio.file.Files.createTempDirectory("graft-q164-")
    graft.TempDirs.cleanupOnExit(tmp)
    val dir = tmp.toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      val got = graft.SparkEntry.queries("q164_label_agreement")(spark, dir)
        .as[(Long, Int, Int, Long, Long)].collect()
        .find(_._1 == 0L).get
      assert(got === ((0L, 7, 3, 2L, 1L)),
        "tie 2-2 between labels 3 and 7 must resolve to 3 and flag the doc")
    } finally Caches.releaseScoped()
  }
}
