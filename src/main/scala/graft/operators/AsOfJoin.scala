package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** As-of join: for every left row, the single latest right row of the
  * same key with `right.ts <= left.ts` — the canonical stream-processing
  * lookup (sensor/telemetry enrichment) that Spark has no native operator
  * for. Right rows at the left row's own timestamp are visible to it;
  * ties among right rows sharing (key, ts) resolve to the greatest
  * `rightOrder`, making "latest" deterministic.
  *
  * Executed by the NATIVE operator ([[graft.plans.AsOfJoinPlan]] →
  * AsOfJoinExec): both sides co-partitioned on the key and sorted, then
  * one sort-merge walk — no tagged union, no window state. The composed
  * union + keyed-window form it replaced is frozen in `src/test`
  * (`AsOfReferenceJoin`) as the reference `AsOfJoinSpec` compares against.
  */
object AsOfJoin {

  /** @param left       probe side; must contain `key` and `ts`
    * @param right      build side; must contain `key`, `ts`, `rightOrder`,
    *                   and the payload columns to carry over
    * @param rightOrder tie-break among right rows sharing (key, ts);
    *                   the greatest value wins
    * @return left rows + nullable right payload columns
    *
    * Installs the planner strategy + pushdown rule on the session
    * (idempotent) and hands the resolved child plans to the custom
    * logical node. */
  def lastAtOrBeforeNative(left: DataFrame, right: DataFrame,
                           key: String, ts: String, rightOrder: String): DataFrame = {
    val spark = left.sparkSession
    graft.plans.AsOfJoinNative.install(spark)
    val lPlan = left.queryExecution.analyzed
    // left and right usually derive from one base relation (self as-of),
    // so their plans share exprIds. The analyzer's DeduplicateRelations
    // would renew the right child's attributes WITHOUT remapping this
    // node's stored key/ts/payload expressions (it only knows built-in
    // nodes), leaving the exec to bind stale ids. Minting fresh exprIds
    // on the right side up front leaves nothing to deduplicate.
    val rPlan = right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
      .queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val payload = rPlan.output.filterNot(a => a.name == key || a.name == ts)
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lPlan, rPlan,
        attr(lPlan, key), attr(rPlan, key),
        attr(lPlan, ts), attr(rPlan, ts),
        attr(rPlan, rightOrder), payload))
  }
}
