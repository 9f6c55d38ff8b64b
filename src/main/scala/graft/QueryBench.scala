package graft

/** Targeted per-query micro-bench: times a named SUBSET of
  * [[SparkEntry.queries]] with the full [[Bench]] methodology (same
  * session confs, table warm-up, reps, true median, per-rep scoped-cache
  * release, `.count()` action), after one untimed warm-up rep per
  * query, so one optimization's before/after can be measured in seconds
  * instead of re-running all 254 queries. The
  * committed round record stays `graft.Bench` — this is the iteration
  * tool (the generic replacement for the r17 one-off profiler the
  * verdict asked removed).
  *
  * Run:  sbt "runMain graft.QueryBench <sfDir> <prefix,prefix,...>"
  * Env:  SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_BENCH_REPS (default
  *       3), SPARK_GRAFT_QBENCH_WARM_SHARED=1 to pre-build the shared
  *       relations (needed when a selected query reads the dedup trio /
  *       dense ids / bucketed / IVF / PQ / z-order layouts — without it
  *       their build cost lands inside the first rep, exactly as a
  *       cold Bench rep would pay it).
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val keys =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.local(cpus.toInt)
    try {
      spark.range(100000).selectExpr("sum(id)").count()
      Tables.events(spark, sfDir).count()
      Tables.documents(spark, sfDir).count()
      Tables.embeddings(spark, sfDir).count()
      if (sys.env.get("SPARK_GRAFT_QBENCH_WARM_SHARED").contains("1"))
        Bench.SharedBuilds.foreach { case (_, build) => build(spark, sfDir) }
    } catch { case e: Throwable =>
      System.err.println(s"[qbench] warm-up failed: ${e.getMessage}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keys.isEmpty || keys.exists(n.startsWith) }
    if (selected.isEmpty)
      System.err.println(s"[qbench] no queries match ${keys.mkString(",")}")
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"qbench: $name")
      // rep 0 is an untimed warm-up, so the band bounds warm reps instead
      // of carrying the query's cold first run (JIT, codegen, footers)
      val times = (0 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[qbench] $name failed: ${e.getMessage}")
          -1.0
        } finally Caches.releaseScoped()
      }.drop(1)
      val med = if (times.exists(_ < 0)) -1.0 else Bench.median(times)
      println(f"[qbench] $name%-34s med=$med%8.3f  band=[${times.min}%.3f,${times.max}%.3f]  reps=$reps  cpus=$cpus%s")
    }
    Caches.releaseShared()
    spark.stop()
  }
}
