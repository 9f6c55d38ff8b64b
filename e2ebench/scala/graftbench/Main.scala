package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One timed pass of a workload. `ops` holds each named operation's
  * latency in the pass (a query or a clip request); `samples` holds the
  * response-unit latencies the percentile metrics pool. */
final case class PassResult(units: Long, ops: Seq[(String, Double)],
                            samples: Seq[Double], layers: Map[String, Double],
                            attempted: Int, failed: Int, errors: Seq[String])

/** A workload the harness drives: `setup` is repeated (each repetition
  * redoes the full set-up work and leaves the workload ready), then
  * passes run back to back, one client, closed loop. */
trait Workload {
  /** How many times the set-up work is repeated; setup_s takes the median. */
  def setupReps: Int = 2
  /** One repetition of the set-up work; returns seconds per named part. */
  def setup(): Seq[(String, Double)]
  def pass(trace: Boolean): PassResult
  /** Computes what the output checks compare against, once after the
    * set-up repetitions and outside set-up time: it is the harness's own
    * work, not the system's. */
  def prepareChecks(): Unit = ()
  /** Untimed passes before the timed window; their time counts as set-up. */
  def warmupPasses: Int = 1
  /** Traced runs only: per-layer timings taken by calling the layers
    * directly, after the pass and outside its listener window. Its
    * operations count towards the run's attempts and failures. */
  def traceLayers(): Option[PassResult] = None
}

/** Entry point of the benchmark JVM. Arguments come from `run.py`:
  * --workload --seed --seconds --trace --cores --work --data --out. */
object Main {

  /** Latency samples a run must collect: the median needs ten beyond it. */
  val MinSamples = 20
  /** Fewest timed passes; pass_s reports their median. */
  val MinPasses = 3

  private val t0 = Probe.nowSeconds()
  /** Progress line on stderr (run.py keeps it in .bench_build/jvm.log). */
  def log(msg: String): Unit =
    System.err.println(f"[e2ebench ${Probe.nowSeconds() - t0}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"e2ebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val counters = if (trace) {
      val c = new Probe.Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

    val wl: Workload = workload match {
      case "query_suite" => new QuerySuite(spark, new File(opts("data")), new File(work, "stream"), seed)
      case "uav_flagship" => new UavFlagship(spark, new File(work, "uav"), seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    log(s"session ready after $sessionS s")
    val setupReps = (1 to wl.setupReps).map { _ =>
      val parts = wl.setup(); log(s"setup ${parts.map(_._2).sum} s"); parts
    }
    wl.prepareChecks()
    val warm = (1 to wl.warmupPasses).map { _ =>
      val t0 = Probe.nowSeconds(); val r = wl.pass(trace)
      log(s"warm-up pass ${Probe.nowSeconds() - t0} s")
      (Probe.nowSeconds() - t0, r)
    }

    val load0 = Probe.loadAvg1()
    val ticks0 = Probe.ticks()
    val windowStart = Probe.nowSeconds()
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, PassResult, Map[String, Double])]
    def sampleCount = passes.map(_._3.samples.size).sum
    while (passes.size < MinPasses || Probe.nowSeconds() - windowStart < seconds ||
        sampleCount < MinSamples) {
      val before = counters.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty)
      val c0 = Probe.cpuSeconds(); val t0 = Probe.nowSeconds()
      val r = wl.pass(trace)
      val wall = Probe.nowSeconds() - t0; val cpu = Probe.cpuSeconds() - c0
      val after = counters.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty)
      val traced = if (trace) wl.traceLayers() else None
      val counted = traced.foldLeft(r) { (p, t) =>
        p.copy(attempted = p.attempted + t.attempted, failed = p.failed + t.failed,
          errors = p.errors ++ t.errors)
      }
      passes += ((wall, cpu, counted,
        traced.map(_.layers).getOrElse(Map.empty) ++ after.map { case (k, v) => k -> (v - before(k)) }))
      log(s"pass $wall s, cpu $cpu s, ${r.samples.size} samples")
    }
    val windowS = Probe.nowSeconds() - windowStart
    val (extUser, kernel, steal) = Probe.hostShares(ticks0, Probe.ticks())
    val rss = Probe.peakRssMb()
    val liveHeap = Probe.liveHeapMb()
    spark.stop()

    val all = warm.map(_._2) ++ passes.map(_._3)
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "session_s" -> Json.num(sessionS),
      "setup_reps" -> Json.arr(setupReps.map(r => Json.obj(r.map { case (k, v) => k -> Json.num(v) }: _*))),
      "warmup_s" -> Json.arr(warm.map(w => Json.num(w._1))),
      "window_s" -> Json.num(windowS),
      "passes" -> Json.arr(passes.toSeq.map { case (wall, cpu, r, spk) =>
        Json.obj(
          "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu),
          "units" -> r.units.toString,
          "ops" -> Json.obj(r.ops.map { case (k, v) => k -> Json.num(v) }: _*),
          "samples" -> Json.arr(r.samples.map(Json.num)),
          "layers" -> Json.obj((r.layers ++ spk).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
      }),
      "attempted" -> all.map(_.attempted).sum.toString,
      "failed" -> all.map(_.failed).sum.toString,
      "errors" -> Json.arr(all.flatMap(_.errors).take(20).map(Json.str)),
      "peak_rss_mb" -> Json.num(rss),
      "live_heap_mb" -> Json.num(liveHeap),
      "host" -> Json.obj(
        "loadavg_start" -> Json.num(load0),
        "external_user_share" -> Json.num(extUser),
        "kernel_share" -> Json.num(kernel),
        "steal_share" -> Json.num(steal)))
    val out = new File(opts("out"))
    java.nio.file.Files.writeString(out.toPath, json + "\n")
  }
}

/** Minimal JSON rendering for the raw record run.py reads. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
