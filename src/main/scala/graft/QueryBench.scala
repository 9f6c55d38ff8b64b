package graft

/** Targeted per-query micro-bench: times a named SUBSET of
  * [[SparkEntry.queries]] with the full [[Bench]] methodology (same
  * session confs, table warm-up, pre-built shared relations, reps, true
  * median, one [[Caches.scoped]] block per rep, `.count()` action),
  * after one untimed warm-up rep per query, so one optimization's
  * before/after can be measured in seconds instead of re-running all 254
  * queries. The committed round record stays `graft.Bench` — this is the
  * iteration tool (the generic replacement for the r17 one-off profiler
  * the verdict asked removed).
  *
  * Run:  sbt "runMain graft.QueryBench <sfDir> [prefix,prefix,...]"
  * Env:  SPARK_GRAFT_CPUS (default 4), SPARK_GRAFT_BENCH_REPS (default 3).
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.local(cpus.toInt)
    Bench.warmTables(spark, sfDir)
    // the seven shared relations, built before any rep as Bench builds them
    Bench.SharedBuilds.foreach { case (name, build) =>
      try Caches.scoped(build(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[qbench] shared build $name failed: ${e.getMessage}")
      }
    }
    val prefixes = args.drop(1).toSeq
    val selected = SparkEntry.select(prefixes)
    if (selected.isEmpty)
      System.err.println(s"[qbench] no queries match ${prefixes.mkString(",")}")
    selected.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"qbench: $name")
      // rep 0 is an untimed warm-up, so the band bounds warm reps instead
      // of carrying the query's cold first run (JIT, codegen, footers)
      val times = (0 to reps).map { _ =>
        val t0 = System.nanoTime()
        try Caches.scoped { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[qbench] $name failed: ${e.getMessage}")
          -1.0
        }
      }.drop(1)
      val med = if (times.exists(_ < 0)) -1.0 else Bench.median(times)
      println(f"[qbench] $name%-34s med=$med%8.3f  band=[${times.min}%.3f,${times.max}%.3f]  reps=$reps  cpus=$cpus%s")
    }
    Caches.releaseShared()
    spark.stop()
  }
}
