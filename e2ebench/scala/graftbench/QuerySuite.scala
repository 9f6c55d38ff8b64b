package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.{BucketedTables, Caches, PartitionedTables, SparkEntry, ZOrderTables}

/** `query_suite`: a fixed list of `SparkEntry.queries` over the fixed
  * tables in `dataDir`, with `graft.Bench`'s methodology — the seven
  * shared-relation builds happen in set-up, each query gets `.count()`,
  * and `Caches.releaseScoped()` runs after each one. The tables and the
  * query order are fixed, not seeded, so every count is pinned in the
  * data directory's `query_counts.tsv`. The seed drives only the event
  * log that traced runs replay through the streaming operators. */
final class QuerySuite(spark: SparkSession, dataDir: File, streamWork: File, seed: Long)
    extends Workload {
  private val dir = dataDir.getAbsolutePath

  private val pinned: Map[String, Long] = {
    val src = scala.io.Source.fromFile(new File(dataDir, "query_counts.tsv"))
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t"); k -> v.toLong
    }.toMap finally src.close()
  }

  /** The queries, in name order. The list touches every shared
    * structure the set-up builds and includes the roadmap target q156;
    * it is sized so one warm pass takes ~4.5 s at `local[2]` (the 45
    * queries numbered by multiples of 6 take ~45 s). */
  private val selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    val numbers = Set(12, 48, 84, 96, 108, 120, 132, 156, 180, 216, 240)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => numbers.contains(n.drop(1).takeWhile(_.isDigit).toInt) }
  }
  require(selected.map(_._1).toSet == pinned.keySet,
    s"query list and pinned counts differ: ${(selected.map(_._1).toSet diff pinned.keySet) ++ (pinned.keySet diff selected.map(_._1).toSet)}")

  /** The seven builds take ~17 s on a cold JVM and ~8 s warm, so the
    * set-up runs once: repeating it would not fit the run's time budget. */
  override def setupReps: Int = 1

  /** A cold pass takes ~1.5x a warm one. The first timed pass is often
    * still 10-20% slower than later ones, with one untimed pass or two;
    * the median over the timed passes absorbs it, and a second untimed
    * pass would cost a timed one within the run's time budget. */
  override def warmupPasses: Int = 1

  def setup(): Seq[(String, Double)] = {
    Caches.releaseShared()
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = Probe.nowSeconds()
      try f finally Caches.releaseScoped()
      name -> (Probe.nowSeconds() - t0)
    }
    Seq(
      timed("shared.dedup_trio_s")(graft.queries.PipelineQueries.warmSharedRelations(spark, dir)),
      timed("shared.dense_ids_s")(graft.queries.SharedRelations.warm(spark, dir)),
      timed("shared.bucketed_s")(BucketedTables.warm(spark, dir)),
      timed("shared.partitioned_s")(PartitionedTables.warm(spark, dir)),
      timed("shared.ivf_s")(graft.similarity.IvfIndex.warm(spark, dir)),
      timed("shared.pq_s")(graft.similarity.PqIndex.warm(spark, dir)),
      timed("shared.zorder_s")(ZOrderTables.warm(spark, dir)))
  }

  /** The streaming operators' layers: traced runs replay a seeded event
    * log through them after each pass (see [[StreamMicrobatch]]). */
  private lazy val stream = {
    val s = new StreamMicrobatch(spark, streamWork, seed)
    s.setup()
    s
  }

  override def traceLayers(): Option[PassResult] = Some(stream.replay())

  def pass(trace: Boolean): PassResult = {
    var build, plan, exec = 0.0
    var failed = 0
    val errors = Seq.newBuilder[String]
    val ops = selected.map { case (name, fn) =>
      val t0 = Probe.nowSeconds()
      val ok = try {
        val df = fn(spark, dir)
        val t1 = Probe.nowSeconds()
        if (trace) df.queryExecution.executedPlan
        val t2 = Probe.nowSeconds()
        val n = df.count()
        val t3 = Probe.nowSeconds()
        build += t1 - t0; plan += t2 - t1; exec += t3 - t2
        if (n != pinned(name)) errors += s"$name: count $n, pinned ${pinned(name)}"
        n == pinned(name)
      } catch { case e: Exception =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
      } finally Caches.releaseScoped()
      if (!ok) failed += 1
      val ms = (Probe.nowSeconds() - t0) * 1e3
      name -> ms
    }
    val layers =
      if (!trace) Map.empty[String, Double]
      else Map("queries.build_ms" -> build * 1e3, "queries.plan_ms" -> plan * 1e3,
        "queries.exec_ms" -> exec * 1e3, "trace.pass_s" -> ops.map(_._2).sum / 1e3,
        "queries.q156_ms" -> ops.collectFirst { case (n, ms) if n.startsWith("q156_") => ms }.getOrElse(0.0))
    PassResult(units = selected.size - failed, ops = ops, samples = ops.map(_._2),
      layers = layers, attempted = selected.size, failed = failed, errors = errors.result())
  }
}
