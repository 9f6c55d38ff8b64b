package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Golden-hash regression harness (SURVEY.md §5.2.5): a canonical md5 of
  * each query's sf0.001 result, committed to test resources, lets
  * `sbt test` catch semantic regressions without DuckDB in the loop.
  *
  * Canonicalization mirrors the driver's compare: columns sorted by name,
  * rows in the query's declared order, values rendered type-stably.
  */
object GoldenHash {

  private def fmt(v: Any): String = v match {
    case null => "␀"
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.getTime.toString + "." + t.getNanos
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
    case other => other.toString
  }

  def hashDf(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val md = MessageDigest.getInstance("MD5")
    df.select(cols.map(col): _*).collect().foreach { r =>
      md.update((r.toSeq.map(fmt).mkString("|") + "\n").getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Regenerates the committed goldens. Run after intentional semantic
  * changes: `sbt "runMain graft.GoldenGen"`, review the diff, commit. */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "src/test/resources/goldens.properties"
    val sfDir = "/root/testdata/sf0.001"
    val spark = Sessions.local(4)
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val h = s"$name=${GoldenHash.hashDf(fn(spark, sfDir))}"
      Caches.releaseScoped() // per-query release, same as the harness mains
      h
    }
    val f = new java.io.File(out)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
    println(s"wrote ${lines.size} goldens to $out")
    spark.stop()
  }
}
