package graft.queries

import org.apache.spark.sql.functions._

import graft.{Caches, SparkSpec}

/** q160's reason to exist, proven on a planted corpus: the synthetic
  * fixture's near-dups are all same-length (every containment pair is
  * also a resemblance pair, so the gate's `resemblance_blind` column is
  * honestly 0 there — the q146 planted-OOV precedent). This corpus
  * embeds a small doc wholesale inside a much larger one: containment
  * is 1.0 while Jaccard collapses below every resemblance threshold,
  * and the asymmetric prefix⨝postings screen must still surface the
  * pair. Completeness is pinned against the brute-force all-pairs
  * containment truth computed locally on the same corpus.
  */
class ContainmentJoinSpec extends SparkSpec {
  import spark.implicits._

  // 6-token quote; 40-token host embedding it verbatim; a same-length
  // resemblance twin pair; an unrelated doc
  private val quote = "alpha beta gamma delta epsilon zeta"
  private val host = ("h01 h02 h03 h04 h05 h06 h07 h08 h09 h10 h11 h12 h13 h14 h15 " +
    quote + " t01 t02 t03 t04 t05 t06 t07 t08 t09 t10 t11 t12 t13 t14 t15")
  private val twinA = "red green blue cyan magenta yellow black white"
  private val twinB = "red green blue cyan magenta yellow black gray"
  private val other = "u01 u02 u03 u04 u05 u06 u07 u08"

  private def plantedDir(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-q160-")
    graft.TempDirs.cleanupOnExit(tmp)
    val dir = tmp.toString
    Seq((0L, quote, "en", "web", quote.length.toLong),
      (1L, host, "en", "web", host.length.toLong),
      (2L, twinA, "en", "web", twinA.length.toLong),
      (3L, twinB, "en", "web", twinB.length.toLong),
      (4L, other, "en", "web", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def shingleSets(texts: Map[Long, String]): Map[Long, Set[String]] =
    texts.view.mapValues { t =>
      val tk = t.split(" ").toSeq
      tk.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }.toMap.filter(_._2.nonEmpty)

  test("embedded quote: containment 1.0, jaccard < 0.5, resemblance_blind fires; screen complete vs all-pairs truth") {
    val dir = plantedDir()
    Caches.scoped {
      val got = graft.SparkEntry.queries("q160_containment_join")(spark, dir)
        .select("da", "db", "inter", "ma", "mb", "containment", "jaccard", "resemblance_blind")
        .as[(Long, Long, Long, Long, Long, Double, Double, Long)].collect().toSeq

      // brute-force all-pairs truth on the same corpus
      val sets = shingleSets(Map(0L -> quote, 1L -> host, 2L -> twinA, 3L -> twinB, 4L -> other))
      val truth = (for {
        a <- sets.keys.toSeq; b <- sets.keys.toSeq if a < b
        inter = (sets(a) intersect sets(b)).size.toLong
        ma = sets(a).size.toLong; mb = sets(b).size.toLong
        if inter * 5 >= math.min(ma, mb) * 4
      } yield (a, b, inter, ma, mb)).toSet
      assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet === truth,
        "the asymmetric prefix screen must find exactly the all-pairs containment truth")

      // the planted pair: full containment, resemblance-invisible
      val q = got.find(r => r._1 == 0L && r._2 == 1L).get
      assert(q._6 === 1.0, "the quote's shingles are all in the host")
      assert(q._7 < 0.5, s"jaccard ${q._7} must collapse on the size-asymmetric pair")
      assert(q._8 === 1L, "the blind flag marks what a J >= 0.5 pass would drop")
      // and a resemblance pass keyed on J >= 0.5 indeed walks past it
      // while keeping the same-length twins
      val resemblance = got.filter(_._7 >= 0.5).map(r => (r._1, r._2))
      assert(!resemblance.contains((0L, 1L)) && resemblance.contains((2L, 3L)))
      // the twins are NOT blind: both passes see them
      assert(got.find(r => r._1 == 2L && r._2 == 3L).get._8 === 0L)
    }
  }
}
