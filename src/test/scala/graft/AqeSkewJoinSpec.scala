package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** AQE skew-join demonstration (VERDICT r6 item 7): the repo's manual
  * skew tool ([[graft.operators.Salting.skewSafeDistinctCount]], q64)
  * coexists with Spark's runtime answer — AQE detects a hot shuffle
  * partition AFTER the map stage materializes and splits it into
  * sub-partitions, each joined against a replicated slice of the other
  * side. This pins that the engine's default config actually engages
  * that machinery on a skewed join.
  *
  * Division of labor, documented here because it is a design rule:
  *
  *  - JOIN skew → AQE. A join's hot partition can be split because the
  *    join is row-local: any slice of the hot side joined against a
  *    COPY of the matching other side is correct. No code change,
  *    `skew=true` in the executed plan.
  *  - DISTINCT-AGGREGATE skew → manual rewrite. `count(DISTINCT v)
  *    GROUP BY k` cannot be split by AQE: correctness needs all of a
  *    key's values in one place to dedup them, so a hot key's partition
  *    is indivisible as planned. The two-stage pair-distinct rewrite
  *    (Salting.skewSafeDistinctCount, q64) re-keys stage 1 by
  *    (key, value) — spreading the hot key across the cluster — which
  *    is exactly the transformation AQE is not allowed to invent.
  */
class AqeSkewJoinSpec extends SparkSpec {
  import spark.implicits._

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(collectAll(_)(pf))
  }

  test("a deliberately hot join key: AQE splits the skewed partition (skew=true), result exact") {
    // left: 50k rows on ONE key + 10k spread over 100 keys, padded so the
    // hot partition's bytes dwarf the median; right: one row per key.
    // Padding is md5 (incompressible) — skew detection reads COMPRESSED
    // map-output sizes, and a repetitive pad deflates ~50:1, sliding the
    // hot partition under any realistic byte threshold
    val left = spark.range(0, 60000)
      .select(
        when(col("id") < 50000, lit(0L)).otherwise(col("id") % 100 + 1).as("k"),
        concat(md5(col("id").cast("string")),
          md5(concat(lit("b"), col("id"))), md5(concat(lit("c"), col("id")))).as("pad"))
    val right = spark.range(0, 101).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))

    val (rows, plan) = Sessions.withConfs(spark,
      // thresholds scaled to test-sized data; factor/advisory semantics
      // are the production defaults' — a partition is skewed when it
      // exceeds factor x median AND the byte floor, and splits into
      // advisory-sized slices
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // broadcast would dissolve the demonstration (and at real scale a
      // skewed-join dim side can be too big to broadcast)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // no partition coalescing interference with the tiny advisory size
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = left.join(right, "k")
      // collect() on THIS DataFrame: count() would wrap a new
      // QueryExecution and leave joined's own AQE plan unexecuted
      val n = joined.collect().length.toLong
      (n, joined.queryExecution.executedPlan)
    }
    assert(rows === 60000L, "every left row has exactly one dim match")

    val smj = collectAll(plan) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a SortMergeJoin in:\n$plan")
    assert(smj.exists(_.isSkewJoin),
      s"AQE must mark the join skew=true (hot partition split):\n${smj.head}")
    // the skew reader under the join really split the hot partition:
    // more read-slices than map-side shuffle partitions
    val skewReads = collectAll(plan) {
      case r: AQEShuffleReadExec if r.hasSkewedPartition => r
    }
    assert(skewReads.nonEmpty, s"expected an AQEShuffleRead with skewed partitions in:\n$plan")
    assert(skewReads.head.partitionSpecs.length > spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "the hot partition must be split into multiple sub-reads")
  }

  test("distinct-agg skew is NOT split by AQE: the manual rewrite stays load-bearing") {
    // same hot-key shape through count(DISTINCT): AQE leaves the hash
    // aggregate's shuffle alone (no skew reader, no split) — the
    // documented reason q64 uses Salting.skewSafeDistinctCount
    val df = spark.range(0, 60000)
      .select(
        when(col("id") < 50000, lit(0L)).otherwise(col("id") % 100 + 1).as("k"),
        (col("id") % 7919).as("v"))
    val (got, plan) = Sessions.withConfs(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "131072",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val agg = df.groupBy("k").agg(countDistinct(col("v")).as("n"))
      val rows = agg.collect()
      (rows, agg.queryExecution.executedPlan)
    }
    assert(got.length === 101)
    val skewReads = collectAll(plan) {
      case r: AQEShuffleReadExec if r.hasSkewedPartition => r
    }
    assert(skewReads.isEmpty,
      "AQE must NOT split an aggregation shuffle - a key's rows are indivisible under " +
        "distinct-agg, which is why the pair-distinct rewrite (q64) exists")
    // and the manual rewrite gives the same answer, hot key included
    val manual = graft.operators.Salting
      .skewSafeDistinctCount(df, "k", "v", "n")
      .as[(Long, Long)].collect().toMap
    val want = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manual === want)
  }
}
