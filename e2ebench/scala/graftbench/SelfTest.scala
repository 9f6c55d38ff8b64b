package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Determinism check for the seeded generators: the same seed must give
  * byte-identical corpus and log files, and another seed different ones.
  * Run by `test_generators.py`; exits 1 on the first violation. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def bytes(dir: File): Seq[(String, Seq[Byte])] = {
      val files = Files.walk(dir.toPath).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      files.sortBy(_.toString).toSeq.map(p => dir.toPath.relativize(p).toString -> Files.readAllBytes(p).toSeq)
    }
    def corpus(seed: Long, name: String) =
      bytes { val d = new File(work, name); Generators.writeCorpus(d, seed, 2, 12, 64, 48); d }
    def log(seed: Long, name: String) = bytes {
      val d = new File(work, name)
      Generators.writeChunks(spark, d, Generators.eventLog(seed, 300, 20), 3); d
    }

    val checks = Seq(
      "corpus: same seed, same bytes" -> (corpus(7, "c1") == corpus(7, "c2")),
      "corpus: other seed, other bytes" -> (corpus(7, "c3") != corpus(8, "c4")),
      "log: same seed, same bytes" -> (log(7, "l1") == log(7, "l2")),
      "log: other seed, other bytes" -> (log(7, "l3") != log(8, "l4")),
      "log: chunk mtimes strictly increase" -> {
        val fs = new File(work, "l1").listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        fs.length == 3 && fs.map(_.lastModified).sliding(2).forall(p => p(0) < p(1))
      })
    spark.stop()
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
