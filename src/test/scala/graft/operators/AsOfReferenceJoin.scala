package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The composed as-of join that [[AsOfJoin.lastAtOrBeforeNative]]
  * replaced in q44, kept verbatim as the frozen reference the native
  * operator is compared against ([[AsOfJoinSpec]]): it shares no code
  * with the sort-merge walk. Both sides are tagged and unioned, then a
  * running `last(payload, ignoreNulls)` over a window partitioned by key
  * and ordered by (ts, side, order-col) carries the latest right row to
  * each left row.
  *
  * Right rows sort before left rows at equal timestamps (side 0 < 1), so
  * a same-instant right row is visible to its left row; ties among right
  * rows resolve by `rightOrder` ascending, making "latest" deterministic.
  */
object AsOfReferenceJoin {

  /** @param left       probe side; must contain `key` and `ts`
    * @param right      build side; must contain `key`, `ts`, `rightOrder`,
    *                   and the payload columns to carry over
    * @param rightOrder tie-break among right rows sharing (key, ts);
    *                   the greatest value wins
    * @return left rows + nullable right payload columns */
  def lastAtOrBefore(left: DataFrame, right: DataFrame,
                     key: String, ts: String, rightOrder: String): DataFrame = {
    val payloadCols = right.columns.filterNot(c => c == key || c == ts).toSeq
    val payloadType = StructType(payloadCols.map(c => right.schema(c)).toArray)
    val leftCols = left.columns.toSeq
    val leftType = StructType(left.schema.fields)

    val rTagged = right.select(
      col(key), col(ts), lit(0).as("__side"),
      col(rightOrder).as("__ord"),
      struct(payloadCols.map(col): _*).as("__payload"),
      lit(null).cast(leftType).as("__lrow"))
    val lTagged = left.select(
      col(key), col(ts), lit(1).as("__side"),
      lit(null).cast(right.schema(rightOrder).dataType).as("__ord"),
      lit(null).cast(payloadType).as("__payload"),
      struct(leftCols.map(col): _*).as("__lrow"))

    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("__side").asc, col("__ord").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    rTagged.unionAll(lTagged)
      .withColumn("__last", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(
        (leftCols.map(c => col(s"__lrow.$c").as(c)) ++
          payloadCols.map(c => col(s"__last.$c").as(c))): _*)
  }
}
