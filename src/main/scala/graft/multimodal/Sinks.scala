package graft.multimodal

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}

/** The two drains every media sink ([[VideoSink]], [[WavCodec]]) writes
  * through. One container is a sequential artifact, so a single-file
  * sink fetches its rows in order ([[ordered]]); a partitioned sink
  * writes one container per contiguous range instead ([[parts]]). */
private[multimodal] object Sinks {

  /** All of `df` in `key` order, fetched to the driver a partition at
    * a time: constant memory, never the whole stream resident. */
  def ordered(df: DataFrame, key: String): Iterator[Row] =
    df.orderBy(key).toLocalIterator().asScala

  /** The part-file drain: `df` is range-partitioned on `rangeKey`
    * (contiguous runs per part, global order = part order), sorted on
    * `sortKey` within each part, and every NON-EMPTY partition writes
    * `dir/part-NNNNN.ext` executor-side through `write(rows, path)`,
    * which returns how many records it wrote. Returns their total.
    * The write replaces the directory's earlier `part-*.ext` files (and
    * nothing else in it), so a rewrite with fewer non-empty partitions
    * leaves no stale part behind. */
  def parts(df: DataFrame, dir: String, ext: String, rangeKey: Column, sortKey: String,
            numParts: Int)(write: (Iterator[Row], String) => Long): Long = {
    val d = new java.io.File(dir)
    d.mkdirs()
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(s".$ext"))
      .foreach(_.delete())
    // explicit width pins the part count (AQE coalescing may merge
    // small ranges under the default); 0 = let the planner size it
    val prepared = (if (numParts > 0) df.repartitionByRange(numParts, rangeKey)
      else df.repartitionByRange(rangeKey))
      .sortWithinPartitions(sortKey)
    val written = prepared.sparkSession.sparkContext.longAccumulator(s"${ext}_part_records")
    prepared.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext)
        written.add(write(rows, f"$dir/part-${TaskContext.getPartitionId()}%05d.$ext"))
    }
    written.value
  }
}
