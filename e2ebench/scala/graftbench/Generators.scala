package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.multimodal.{AviCodec, VideoSink}

/** Seeded input generators. The same seed gives byte-identical files;
  * nothing here reads the clock or the host. */
object Generators {

  /** One interleaved-BGR frame of a clip: a slowly drifting gradient
    * with three moving solid boxes whose colours, start points and paths
    * come from the clip's seed. Box sizes are fixed, so every seed costs
    * about the same to encode and decode. */
  def frame(clipSeed: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(clipSeed)
    val (p0, p1, p2) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    val boxes = Array.fill(3) {
      (rnd.nextInt(w), rnd.nextInt(h), w / 6, h / 6,
        rnd.nextInt(7) - 3, rnd.nextInt(7) - 3,
        Array(rnd.nextInt(256).toByte, rnd.nextInt(256).toByte, rnd.nextInt(256).toByte))
    }
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        px(i) = ((x * 255 / w + p0 + f) & 0xff).toByte
        px(i + 1) = ((y * 255 / h + p1) & 0xff).toByte
        px(i + 2) = (((x + y) / 3 + p2 + 2 * f) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    boxes.foreach { case (x0, y0, bw, bh, vx, vy, c) =>
      val bx = Math.floorMod(x0 + vx * f, w)
      val by = Math.floorMod(y0 + vy * f, h)
      var yy = by
      while (yy < math.min(h, by + bh)) {
        var xx = bx
        while (xx < math.min(w, bx + bw)) {
          val i = (yy * w + xx) * 3
          px(i) = c(0); px(i + 1) = c(1); px(i + 2) = c(2)
          xx += 1
        }
        yy += 1
      }
    }
    px
  }

  /** Writes `clips` MJPEG/AVI clips, one per `clip_NN/` directory under
    * `dir`, and returns the clip directories in order. */
  def writeCorpus(dir: File, seed: Long, clips: Int, frames: Int, w: Int, h: Int): Seq[File] =
    (0 until clips).map { c =>
      val clipDir = new File(dir, f"clip_$c%02d")
      clipDir.mkdirs()
      val clipSeed = seed * 1000003L + c
      val jpegs = (0 until frames).map(f => VideoSink.encodeJpeg(frame(clipSeed, f, w, h), w, h))
      AviCodec.writeMjpeg(new File(clipDir, "clip.avi").getPath, jpegs, w, h, 30)
      clipDir
    }

  /** One row of the event log, in the `events` table schema. */
  final case class Event(eventId: Long, tsMs: Long, userId: Long, eventType: String,
                         value: Double, k: Int)

  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup", "error")
  /** 2024-01-01T00:00:00Z, the epoch of the fixed test tables. */
  val LogStartMs = 1704067200000L

  /** `n` events in event_id order with strictly increasing timestamps;
    * users are skewed (a few heavy users, a long tail). */
  def eventLog(seed: Long, n: Int, users: Int): IndexedSeq[Event] = {
    val rnd = new scala.util.Random(seed)
    var ts = LogStartMs
    (0 until n).map { i =>
      ts += 1 + rnd.nextInt(1600)
      val u = (users * math.pow(rnd.nextDouble(), 2.0)).toLong
      Event(i.toLong, ts, u, EventTypes(rnd.nextInt(EventTypes.length)),
        rnd.nextInt(100000) / 100.0, rnd.nextInt(100))
    }
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Splits the log into `chunks` parquet files `chunk-NNNN.parquet`
    * under `dir`, in event_id order, with strictly increasing mtimes so
    * the file source replays them in log order. */
  def writeChunks(spark: SparkSession, dir: File, log: IndexedSeq[Event], chunks: Int): Unit = {
    dir.mkdirs()
    val staging = new File(dir.getParentFile, dir.getName + "_staging")
    val per = (log.size + chunks - 1) / chunks
    log.grouped(per).zipWithIndex.foreach { case (part, i) =>
      val rows = part.map(e => Row(e.eventId, new java.sql.Timestamp(e.tsMs), e.userId,
        e.eventType, e.value, s"""{"k": ${e.k}}"""))
      val tmp = new File(staging, i.toString)
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), EventSchema)
        .write.parquet(tmp.getPath)
      val partFile = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val target = new File(dir, f"chunk-$i%04d.parquet")
      Files.move(partFile.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      target.setLastModified(LogStartMs + i * 60000L)
    }
    deleteTree(staging)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
