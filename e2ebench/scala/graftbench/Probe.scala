package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Process- and host-level readings the benchmark takes around its timed
  * windows. Everything here is read from /proc or the JVM; nothing is
  * written. */
object Probe {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (all threads, user + system), seconds. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  def nowSeconds(): Double = System.nanoTime() / 1e9

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  /** Heap still in use after full collections, MB: what the run retains
    * (caches, state, plans), independent of when the collector last ran.
    * Spark's context cleaner drops unreachable broadcasts and shuffles
    * only after a collection has found them, and non-blocking unpersists
    * finish in the background, so collections are repeated with a pause
    * between them until the reading settles. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collect()
    var rounds = 0
    var settled = false
    while (!settled && rounds < 10) {
      Thread.sleep(300)
      val now = collect()
      settled = math.abs(now - last) < 1.0
      last = now
      rounds += 1
    }
    last
  }

  private def statusKb(key: String): Double = {
    val line = readLines("/proc/self/status").find(_.startsWith(key + ":"))
    line.map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
  }

  def loadAvg1(): Double = readLines("/proc/loadavg").headOption
    .map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  private def readLines(path: String): Seq[String] =
    try scala.io.Source.fromFile(path).getLines().toList
    catch { case _: Exception => Nil }

  /** One /proc/stat + /proc/self/stat reading: whole-host user+nice,
    * system+irq+softirq, steal and total ticks, and this process's utime —
    * the same reads as `graft.Bench`'s external_busy signal, plus steal
    * (time a hypervisor gave this host's CPUs to other guests). */
  final case class Ticks(user: Long, kernel: Long, steal: Long, total: Long, selfUser: Long)

  def ticks(): Option[Ticks] = try {
    val cpu = readLines("/proc/stat").head.trim.split("\\s+")
    require(cpu(0) == "cpu")
    val t = cpu.drop(1).map(_.toLong)
    val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = self.substring(self.lastIndexOf(')') + 2).split("\\s+")
    Some(Ticks(t(0) + t(1), t(2) + t(5) + t(6), t(7), t.sum, f(11).toLong))
  } catch { case _: Exception => None }

  /** Host noise over a window: other processes' user-CPU share, the
    * whole-host kernel-tick share (self included) and the steal share,
    * each over all ticks. */
  def hostShares(a: Option[Ticks], b: Option[Ticks]): (Double, Double, Double) = (a, b) match {
    case (Some(x), Some(y)) if y.total > x.total =>
      val dt = (y.total - x.total).toDouble
      (math.max(0.0, (y.user - x.user - (y.selfUser - x.selfUser)) / dt),
        (y.kernel - x.kernel) / dt, (y.steal - x.steal) / dt)
    case _ => (-1.0, -1.0, -1.0)
  }

  /** Spark-level counters, registered only on traced runs. */
  final class Counters extends SparkListener {
    val jobs, stages, tasks = new AtomicLong
    val executorCpuNs, executorRunMs, gcMs = new AtomicLong
    val spillBytes, shuffleReadBytes, shuffleWriteBytes = new AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        executorCpuNs.addAndGet(m.executorCpuTime)
        executorRunMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        shuffleReadBytes.addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    /** Current totals, after every queued event has been delivered. */
    def snapshot(sc: SparkContext): Map[String, Double] = {
      org.apache.spark.BusDrain(sc)
      val mb = 1024.0 * 1024.0
      Map(
        "spark.jobs" -> jobs.get.toDouble,
        "spark.stages" -> stages.get.toDouble,
        "spark.tasks" -> tasks.get.toDouble,
        "spark.executor_cpu_s" -> executorCpuNs.get / 1e9,
        "spark.executor_run_s" -> executorRunMs.get / 1e3,
        "spark.gc_ms" -> gcMs.get.toDouble,
        "spark.spill_mb" -> spillBytes.get / mb,
        "spark.shuffle_read_mb" -> shuffleReadBytes.get / mb,
        "spark.shuffle_write_mb" -> shuffleWriteBytes.get / mb)
    }
  }
}
