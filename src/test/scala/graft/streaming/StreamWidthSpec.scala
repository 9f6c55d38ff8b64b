package graft.streaming

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkSpec

/** The derived state width reads a file source the way the source reads
  * it: a glob path (the staged replays' chunk glob) is expanded,
  * directories are listed down to their leaf files, and the names
  * Spark's own path filter hides (`_SUCCESS`, `.crc`, `_spark_metadata`)
  * are not counted. Widths follow the 32 MB-per-partition rule with a
  * floor of 2; a source the listing cannot size falls back to 8 — quietly
  * for a path that does not exist, with one stderr line naming the path
  * for any other listing failure.
  */
class StreamWidthSpec extends SparkSpec {
  private val schema = StructType(Seq(StructField("id", LongType)))
  private val partsKey = "spark.sql.shuffle.partitions"

  /** Two one-file parquet chunks under a fresh dir, staged like the
    * two-batch replays stage theirs. */
  private def staged(): String = {
    val dir = Files.createTempDirectory("graft-width-spec-")
    graft.TempDirs.cleanupOnExit(dir)
    (0 to 1).foreach { c =>
      spark.range(c * 10L, c * 10L + 10L).toDF("id")
        .coalesce(1).write.parquet(s"$dir/chunk$c")
    }
    dir.toString
  }

  /** A sparse file `mb` MB long: its length counts toward the width, yet
    * it takes no disk. */
  private def sparse(path: String, mb: Long): Unit = {
    val f = new RandomAccessFile(path, "rw")
    try f.setLength(mb << 20) finally f.close()
  }

  /** The shuffle width a stream over `path` sees inside
    * [[EventStreams.withStreamWidth]]. */
  private def widthInside(path: String): Int = {
    val src = spark.readStream.schema(schema).parquet(path)
    EventStreams.withStreamWidth(src)(spark.conf.get(partsKey).toInt)
  }

  test("a glob source derives its width from the staged chunks (2), not the fallback (8)") {
    val dir = staged()
    val before = spark.conf.get(partsKey)
    assert(widthInside(s"$dir/*") === 2)
    assert(spark.conf.get(partsKey) === before, "the batch width is restored")
  }

  test("hidden files under a broad glob are not counted; visible leaf bytes are") {
    val dir = staged()
    // 100 MB each: any one of them counted would derive width 4
    sparse(s"$dir/_SUCCESS", 100)
    sparse(s"$dir/chunk0/.part-0.parquet.crc", 100)
    new File(s"$dir/_spark_metadata").mkdirs()
    sparse(s"$dir/_spark_metadata/0", 100)
    assert(widthInside(s"$dir/*") === 2)
    // the same 100 MB as a visible leaf file is counted: ceil(100/32) = 4
    sparse(s"$dir/chunk1/part-big.parquet", 100)
    assert(widthInside(s"$dir/*") === 4)
  }

  /** `body`'s result and the stderr lines it printed that mention
    * `needle`. */
  private def capturingErr[T](needle: String)(body: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    val out = try body finally System.setErr(prev)
    (out, buf.toString.linesIterator.filter(_.contains(needle)).toSeq)
  }

  test("a source the listing cannot size falls back to 8; only a non-missing failure is reported") {
    val dir = staged()
    // a path gone by the time the width is derived (the stream was
    // defined while it existed): the documented quiet fallback
    val gone = spark.readStream.schema(schema).parquet(s"$dir/chunk0")
    def delete(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete)); f.delete(); ()
    }
    delete(new File(s"$dir/chunk0"))
    val (goneWidth, goneLines) = capturingErr("stream width") {
      EventStreams.withStreamWidth(gone)(spark.conf.get(partsKey).toInt)
    }
    assert(goneWidth === 8)
    assert(goneLines.isEmpty, s"a missing path falls back quietly: $goneLines")
    // a file system that stops loading after the stream is defined: the
    // listing fails with something other than a missing path
    val glob = spark.readStream.schema(schema).parquet(s"$dir/*")
    val (brokenWidth, brokenLines) = capturingErr("stream width") {
      graft.Sessions.withConfs(spark, "fs.file.impl" -> "graft.NoSuchFileSystem",
          "fs.file.impl.disable.cache" -> "true") {
        EventStreams.withStreamWidth(glob)(spark.conf.get(partsKey).toInt)
      }
    }
    assert(brokenWidth === 8)
    assert(brokenLines.size === 1 && brokenLines.head.contains(s"$dir/*"),
      s"expected one stderr line naming the path, got: $brokenLines")
  }
}
