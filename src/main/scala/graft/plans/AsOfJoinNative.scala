package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, PredicateHelper, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: the §2.5(c) whole-operator chain — a custom
  * `LogicalPlan` + optimizer `Rule` + `SparkStrategy` + `SparkPlan` —
  * for the one operator the composed form (union + keyed cumulative
  * window, frozen in `src/test` as `AsOfReferenceJoin`) pays real
  * overhead on: the window materializes a tagged union of BOTH sides
  * and runs `last(ignoreNulls)` over every row, while a dedicated
  * sort-merge walk streams each side once and keeps O(1) state per key.
  *
  * Semantics (the composed form's, row for row — `AsOfJoinSpec`):
  * for every left row, the single right row of the same key with
  * `right.ts <= left.ts`, latest (ts, rightOrder) winning; left rows
  * with no match keep null payload. NULL keys group together (matching
  * the window form's `partitionBy`, which also groups NULLs) — the
  * fixture carries no NULL keys; callers with SQL-join NULL semantics
  * should pre-filter.
  *
  * Scale shape: both sides hash-clustered on the key (EnsureRequirements
  * co-partitions them exactly as it would a SortMergeJoin) and sorted
  * within partitions — one shuffle per side, then a single streaming
  * pass. No tagged union, no window state, no per-row struct boxing.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightOrder: Expression,
    payload: Seq[Attribute]) extends BinaryNode {
  // the merge walk compares left/right key (and ts) values with ONE
  // ordering built from the left types — silent garbage if they differ
  // (the composed form would widen via union instead)
  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTs.dataType == rightTs.dataType,
    s"as-of ts types differ: ${leftTs.dataType} vs ${rightTs.dataType}")
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  // the default stats visitor estimates an unknown binary node as the
  // PRODUCT of its children's sizes (~cross join), which would stop any
  // downstream broadcast above this node; as-of output is exactly one
  // row per left row, so size ≈ left + carried payload (bounded by right)
  override def stats: org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = left.stats.sizeInBytes + right.stats.sizeInBytes,
      rowCount = left.stats.rowCount)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Filter pushdown through [[AsOfJoinPlan]]: conjuncts referencing only
  * the probe side move below the join, where FileSourceStrategy can
  * fold them into the scan's PushedFilters. The stock PushDownPredicates
  * rule only knows built-in nodes, so without this a `WHERE` above the
  * native join would re-read the full probe table. Runs in the
  * user-provided batch (end of optimization) — late, but physical
  * planning extracts scan filters from the final logical plan, so the
  * pushed conjunct still reaches the parquet reader. */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      // deterministic-only, like the stock PushDownPredicates: rand()
      // has empty references and would otherwise push (changing which
      // rows it samples), input_file_name() would change value entirely
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), j.left))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(j.leftKey, j.rightKey, j.leftTs, j.rightTs, j.rightOrder,
        j.payload, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightOrder: Expression,
    payload: Seq[Attribute],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  // the same contract SortMergeJoin declares: cluster both children on
  // the key (EnsureRequirements co-partitions them with equal partition
  // counts) and sort within partitions — right additionally by the
  // tie-break so "latest" is the last row the walk sees.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightOrder, Ascending)))
  // left rows stream through in their sorted order, still hash-clustered
  // on the key — reporting UnknownPartitioning would cost any downstream
  // keyed operation a redundant shuffle of the join output
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // nullability-widened BEFORE binding: the output projection must
    // null-check payload fields (unmatched left rows carry an all-null
    // payload row even when the right column itself is non-nullable) —
    // binding against the original attrs would codegen without the
    // check and read 0/garbage instead of null.
    val payloadAttrs = payload.map(_.withNullability(true))
    val (lOut, rOut) = (left.output, right.output)
    val (lk, lt, rk, rt) = (leftKey, leftTs, rightKey, rightTs)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-task projections/orderings (codegen'd, not thread-safe)
      val lKeyProj = UnsafeProjection.create(lk :: Nil, lOut)
      val lTsProj = UnsafeProjection.create(lt :: Nil, lOut)
      val rKeyProj = UnsafeProjection.create(rk :: Nil, rOut)
      val rTsProj = UnsafeProjection.create(rt :: Nil, rOut)
      val rPayloadProj = UnsafeProjection.create(payloadAttrs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lk.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val joiner = UnsafeProjection.create(outAttrs, lOut ++ payloadAttrs)
      val nullPayload = new GenericInternalRow(payloadAttrs.length)
      val joined = new JoinedRow
      val bufferedRight = rIter.buffered

      // O(1) state: the latest qualifying right row (payload projected +
      // copied out of the iterator's reused buffer) and its key.
      var matchKey: InternalRow = null
      var matchPayload: InternalRow = null

      lIter.map { lRow =>
        val curKey = lKeyProj(lRow)
        val curTs = lTsProj(lRow)
        var advancing = true
        while (advancing && bufferedRight.hasNext) {
          val head = bufferedRight.head
          val c = keyOrd.compare(rKeyProj(head), curKey)
          if (c < 0) { bufferedRight.next(); advancing = true }
          else if (c == 0 && tsOrd.compare(rTsProj(head), curTs) <= 0) {
            matchPayload = rPayloadProj(head).copy()
            matchKey = curKey.copy()
            bufferedRight.next()
          } else advancing = false
        }
        val p =
          if (matchKey != null && keyOrd.compare(matchKey, curKey) == 0) matchPayload
          else nullPayload
        joiner(joined(lRow, p))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Runtime installer: registers the strategy + rule on an existing
  * session via `spark.experimental` (the classic runtime hook), matching
  * how [[graft.extensions.GraftFunctions.register]] handles functions.
  * Config-time path: `spark.sql.extensions=graft.extensions.GraftExtensions`
  * injects the same objects. Idempotent. */
object AsOfJoinNative {
  def install(spark: SparkSession): Unit = spark match {
    case c: org.apache.spark.sql.classic.SparkSession => synchronized {
      val exp = c.experimental
      if (!exp.extraStrategies.contains(AsOfJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
      if (!exp.extraOptimizations.contains(PushFilterThroughAsOfJoin))
        exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsOfJoin
    }
    case other =>
      throw new IllegalArgumentException(
        s"native as-of join needs a classic SparkSession, got ${other.getClass}")
  }
}
