package graft

/** Dumps formatted physical plans so plan regressions (lost pushdown,
  * surprise shuffles, broadcast->SMJ flips) are visible in review.
  *
  * Run:  sbt "runMain graft.ExplainAudit [sfDir] [prefix,prefix,...]"
  * — every query when no prefix is given ([[SparkEntry.select]]). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local(4)
    for ((name, fn) <- SparkEntry.select(args.drop(1).toSeq)) {
      println(s"\n========== $name ==========")
      // some query constructors are eager (BloomDedup runs its filter
      // builds and registers a scoped persist at construction time) —
      // one scope per query so one dump can't pin another's build side
      println(Caches.scoped(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
    }
    spark.stop()
  }
}
