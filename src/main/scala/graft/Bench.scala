package graft

import org.apache.spark.sql.SparkSession

object Bench {

  /** The seven shared-relation builds, in build order, each under its
    * `shared_build_parts` key on the bench record. [[QueryBench]] runs
    * the same list to pre-build them. */
  val SharedBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "dedup_trio" -> graft.queries.PipelineQueries.warmSharedRelations,
    "dense_ids" -> graft.queries.SharedRelations.warm,
    "bucketed_layout" -> BucketedTables.warm,
    "partitioned_layout" -> PartitionedTables.warm,
    "ivf_index" -> graft.similarity.IvfIndex.warm,
    "pq_index" -> graft.similarity.PqIndex.warm,
    "zorder_layout" -> ZOrderTables.warm)

  /** True median: even-length inputs average the two middle elements
    * (upper-middle alone would report the max of 2 reps — biased high). */
  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The repo's bench-methodology load rule (established round 3,
    * whole-run since round 9): totals swing ~2× with host load, so a
    * record measured against a busy host does not measure the engine.
    * BENCH_r06 was committed at start load 8.1, BENCH_r07 at end load
    * 5.0, and BENCH_r08 at end load 4.2, each stamped clean (the r7/r8
    * guards only tested the start) — all misstated the engine by ~1.5×
    * — hence [[isTainted]] is stamped onto the record by the harness
    * rather than left to the reader's diligence. This loadavg bound
    * governs the START window, where the bench is idle and loadavg
    * measures the host; mid-run and end windows use
    * [[MaxExternalBusy]], because there loadavg measures mostly the
    * bench itself. */
  val MaxLoad = 3.0

  /** True when a single load sample violates the rule. `>=` (not `>`):
    * the rule is "load < 3". Applies where the bench is IDLE (the start
    * window): there, loadavg measures the host. */
  def isTainted(load: Double): Boolean = load >= MaxLoad

  /** Mid-run/end windows use a different signal: loadavg cannot
    * separate the bench's OWN 32-thread bursts from contamination — an
    * empirically clean run (start 0.73, zero external processes) ends
    * its 90-query tail at 1-min loadavg ~5, so a loadavg bound there
    * taints every honest run. The EXTERNAL CPU SHARE is ~0 on a quiet
    * host regardless of self-load and rises exactly when another
    * process competes for the cores that swing the numbers. A kept
    * window is hot when not-us CPU exceeds this fraction of all cores
    * (0.10 = ~3 of 32 cores — the same order as the loadavg-3 rule).
    * Since r17 "not us" means other processes' USER-space ticks (from
    * /proc on Linux; MXBean system-minus-self elsewhere): the MXBean
    * difference counted kernel writeback kworkers flushing the bench's
    * OWN RocksDB checkpoints as contention and self-tainted the
    * streaming reps — see the signal-fix comment at the sampler. */
  val MaxExternalBusy = 0.10

  /** True when a measurement window's external CPU share violates the
    * rule. */
  def isHotWindow(externalBusy: Double): Boolean = externalBusy >= MaxExternalBusy

  /** Relative-band taint (VERDICT r10 item 3): BENCH_r10 ran ~2.3×
    * slow against a loaded host yet passed BOTH per-window rules — the
    * contending process evaded the sampling windows (start load 2.79
    * was under the 3.0 gate; external CPU sampled 0 between its
    * bursts). What the contamination could NOT hide is rep-to-rep
    * variance: its band was 112–197 s (1.76×) where every clean run in
    * the repo's history sits ≤ ~1.4× (the r10 judge's clean re-run:
    * 59.2–82.4, 1.39×). A band this wide means the reps did not run
    * under one set of conditions, whatever the samplers saw. */
  val MaxBandRatio = 1.5

  /** True when the run's min/max band violates the rule. Non-positive
    * minima (all-failed runs) are already marked by `failed` and carry
    * no meaningful band. */
  def isBandTainted(totalMin: Double, totalMax: Double): Boolean =
    totalMin > 0 && totalMax / totalMin > MaxBandRatio

  /** r17 band-rule input fix (VERDICT r16 item 2): the rule above was
    * fed `sum(per-query min)` vs `sum(per-query max)` — extremes picked
    * INDEPENDENTLY per query, so 252 queries' uncorrelated jitter
    * accumulates O(n) into the band while any actual rep's total only
    * wobbles O(√n). That made `tainted` the steady state as the surface
    * grew (r15: 1.59 busy; r16: 1.40 driver / 1.49 judge on an
    * idle-at-start host) — a structural artifact of the aggregation,
    * not of the host. The honest "did the reps run under one set of
    * conditions" statistic is the spread of ACTUAL per-rep totals
    * (rep r's time summed across queries), and because each query's
    * rep 1 also carries its one-time Catalyst analysis + codegen (plan
    * caches are per-query, scoped data caches are released per rep),
    * rep 1 is systematically high for an honest reason — so the rule
    * rates the WARM reps (2..n). Contamination sensitivity is kept:
    * a burst shorter than a query's rep window inflates specific rep
    * indexes of the affected queries and moves exactly one warm total
    * (the r10 scenario, ~2×, still fires at 1.5), while a blanket
    * slowdown spanning the whole run is what the loadavg/external-CPU
    * samplers catch. Needs reps >= 3 (two warm totals); below that the
    * legacy sum-of-extremes rule stays in force. The legacy band stays
    * ON the record either way — only the taint INPUT changed. */
  def isBandTainted(repTotals: Seq[Double], legacyMin: Double,
                    legacyMax: Double): Boolean = {
    val warm = repTotals.drop(1).filter(_ > 0)
    if (warm.size >= 2) warm.max / warm.min > MaxBandRatio
    else isBandTainted(legacyMin, legacyMax)
  }

  /** Whole-run taint verdict (VERDICT r7 item 1, wired into the stamp in
    * round 9 — ADVICE r8 found the r8 version dead code): the record is
    * tainted when the idle start window was hot (loadavg rule), when the
    * end window saw external CPU (share rule), or when any measurement
    * that survived into the committed numbers (a query rep after
    * retries, or a shared-relation build, which cannot be retried
    * because a rebuild would time the already-warm cache) ran against
    * external CPU. */
  def isTainted(loadStart: Double, endExternalBusy: Double,
                anyKeptRepHot: Boolean): Boolean =
    isTainted(loadStart) || isHotWindow(endExternalBusy) || anyKeptRepHot

  /** Whole-run verdict including the band rule (round 11; rep-total
    * input since r17): the three sampled signals OR the variance signal
    * they cannot fake. */
  def isTainted(loadStart: Double, endExternalBusy: Double,
                anyKeptRepHot: Boolean, repTotals: Seq[Double],
                totalMin: Double, totalMax: Double): Boolean =
    isTainted(loadStart, endExternalBusy, anyKeptRepHot) ||
      isBandTainted(repTotals, totalMin, totalMax)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    // host-load metadata (VERDICT r3 item 2): r3's six runs drifted
    // 40.7->55.9s tracking machine load; recording the 1-min loadavg at
    // start and end makes load noise distinguishable from real
    // regressions on the committed record.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // Load-taint guard (VERDICT r6 item 1): BENCH_r06 went on record at
    // start load 8.1 — violating the load<3 rule above — and every
    // apparent regression it showed was load noise. Two defenses:
    // (a) wait a bounded interval for the 1-min loadavg to fall under
    //     the rule before starting (the common contamination is benching
    //     right after sbt test/Verify on the same host);
    // (b) if it still starts hot, stamp `"tainted": true` on the JSON so
    //     a contaminated number can't become the round's record silently.
    val loadWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT", "120").toInt
    def quietStartWait(): Int = {
      var waited = 0
      while (isTainted(loadAvg()) && waited < loadWaitSec) {
        System.err.println(String.format(java.util.Locale.ROOT,
          "[bench] host load %.2f >= %.1f - waiting for quiet host (%ds/%ds)",
          Double.box(loadAvg()), Double.box(MaxLoad),
          Int.box(waited), Int.box(loadWaitSec)))
        Thread.sleep(5000)
        waited += 5
      }
      waited
    }
    var waited = quietStartWait()
    val loadStart0 = loadAvg()
    if (isTainted(loadStart0))
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] WARNING: starting at load %.2f (rule: < %.1f) - record will be stamped tainted",
        Double.box(loadStart0), Double.box(MaxLoad)))
    // Whole-run taint inputs (ADVICE r8 high/medium): every kept
    // measurement's window is closed by an EXTERNAL-CPU-share sample
    // (see MaxExternalBusy — loadavg would flag the bench's own
    // bursts). Hot query reps are re-run out of a bounded global retry
    // budget (the retried measurement replaces the hot one — same
    // warm-cache conditions as any rep 2..n); hot reps that exhaust the
    // budget, and hot shared-relation builds (un-retryable: a rebuild
    // times the warm cache), set anyKeptRepHot and taint the record.
    var anyKeptRepHot = false
    var maxKeptExternal = 0.0
    var retriesLeft = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "12").toInt
    // Whole-run auto-rerun (VERDICT r11 item 2): two consecutive
    // official records carried no usable total (r10 parsed:null, r11
    // tainted:true under mid-run loadavg 14.7). When a run comes out
    // TAINTED, rerun the whole bench once after another quiet-start
    // wait: both records are printed, the rerun's last, so the driver's
    // tail-parse picks up the rerun (hopefully clean) while a killed or
    // still-contended rerun leaves the first record as the parseable
    // tail. The tainted first attempt's numbers are never silently
    // discarded — both lines stay in stdout for forensics.
    var rerunsLeft = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "1").toInt
    // pattern-match, not cast: on a non-HotSpot JVM the
    // com.sun.management subtype is absent and the external-CPU signal
    // simply does not exist — record that fact instead of crashing
    val osBeanOpt = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    // ADVICE r9: NaN/negative readings used to map silently to 0.0,
    // which DISABLED the whole taint detection while stamping every
    // record clean. Count valid samples; zero valid samples over the
    // run → the record carries `"available": false` so a reader knows
    // the external-CPU taint rule never actually ran.
    var extValidSamples = 0L
    // r17 signal fix (VERDICT r16 item 2, second cause): the MXBean
    // form (system CPU minus this JVM's CPU) counts KERNEL THREADS as
    // external — and the RocksDB micro-batch queries' own checkpoint
    // fsync/writeback runs in kworkers, so q212-style reps self-stamped
    // 12–14% "external" CPU on an otherwise idle host, exhausted the
    // retry budget, and set kept_hot: the bench tainted itself for its
    // own I/O (the r16 driver record's load max_mid 13.6 with zero
    // user-space contenders is the same signature — loadavg counts
    // D-state fsync threads). Contention means ANOTHER PROCESS'S CPU,
    // and competing processes (a concurrent verify/compile/driver) burn
    // USER time — so on Linux the signal is now user+nice ticks of the
    // whole system minus this process's utime, over total ticks, from
    // /proc. Kernel writeback has no user time and vanishes; a real
    // contender is caught exactly as before. Falls back to the MXBean
    // difference where /proc is absent; the record says which signal
    // ran ("signal": "proc_user" | "mxbean" | "none").
    val procStatAvailable = new java.io.File("/proc/stat").exists &&
      new java.io.File("/proc/self/stat").exists
    // the whole-system tick vector (user, nice, system, idle, iowait,
    // irq, softirq, ...) from /proc/stat's aggregate `cpu` line — the one
    // reader both tick signals (procTicks, kernelTicks) derive from
    def cpuTicks(): Option[Array[Long]] = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+")
      if (v(0) != "cpu" || v.length < 8) None else Some(v.drop(1).map(_.toLong))
    } catch { case _: Exception => None }
    def procTicks(): Option[(Long, Long, Long)] = cpuTicks().flatMap { t =>
      try {
        val sysUser = t(0) + t(1) // user + nice
        val total = t.sum        // incl. idle/iowait = tick capacity
        val selfSrc = scala.io.Source.fromFile("/proc/self/stat")
        val selfStat = try selfSrc.mkString finally selfSrc.close()
        // fields after the ')' of comm start at state (field 3);
        // utime is overall field 14 → index 11 here
        val f = selfStat.substring(selfStat.lastIndexOf(')') + 2).split("\\s+")
        Some((sysUser, total, f(11).toLong))
      } catch { case _: Exception => None }
    }
    var prevProc: Option[(Long, Long, Long)] = None
    def mxbeanExternal(): Double = osBeanOpt match {
      case Some(osBean) =>
        val sysLoad = osBean.getCpuLoad
        val selfLoad = osBean.getProcessCpuLoad
        if (sysLoad.isNaN || selfLoad.isNaN || sysLoad < 0 || selfLoad < 0) 0.0
        else { extValidSamples += 1; math.max(0.0, sysLoad - selfLoad) }
      case None => 0.0
    }
    // CPU share of everything that is NOT this process, over the
    // interval since the previous call (tick deltas between calls — one
    // call per window boundary tiles the run exactly)
    def externalBusy(): Double =
      if (procStatAvailable) procTicks() match {
        case Some((su, tot, ut)) =>
          val out = prevProc match {
            case Some((psu, ptot, put)) if tot > ptot =>
              extValidSamples += 1
              math.max(0.0, (su - psu - (ut - put)).toDouble / (tot - ptot))
            case _ => 0.0
          }
          prevProc = Some((su, tot, ut))
          out
        case None => mxbeanExternal()
      } else mxbeanExternal()
    val extSignal =
      if (procStatAvailable) "proc_user"
      else if (osBeanOpt.isDefined) "mxbean" else "none"
    // r18 (VERDICT r17 item 5): the proc_user signal is BLIND to
    // kernel-side contention by design (the r17 32c record printed
    // external 0.0 while 26 queries ran 5–42× their bands). Record the
    // whole-run KERNEL tick share (system+irq+softirq over all ticks,
    // self included — the bench's own syscalls/writeback land here too,
    // which is exactly why this is REPORT-ONLY and never a taint or
    // retry input): a reader adjudicating a suspect family can now see
    // whether the window was kernel-busy without re-running anything.
    def kernelTicks(): Option[(Long, Long)] =
      cpuTicks().map(t => (t(2) + t(5) + t(6), t.sum)) // system + irq + softirq
    externalBusy() // prime the tick counters
    val spark = Sessions.local(cpus.toInt)
    // warm-up: JIT + codegen + parquet footer caches, so the first timed
    // query isn't charged for JVM start-up. Events must go through
    // Tables (TIMESTAMP(NANOS) needs the nanosAsLong conf — a raw
    // spark.read here throws and silently skips the warm-up). All three
    // hot tables warm (round 11): rep-1 cold footer/page reads on
    // documents/embeddings were the main honest contribution to the
    // min/max band the isBandTainted rule now polices — warming them
    // keeps an honest run's band well under the 1.5 line.
    try {
      spark.range(100000).selectExpr("sum(id)").count()
      Tables.events(spark, sfDir).count()
      Tables.documents(spark, sfDir).count()
      Tables.embeddings(spark, sfDir).count()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // methodology: each query runs `reps` times in-process and reports the
    // MEDIAN (plus a min/max band), so one GC pause or cold parquet read
    // can't swing the committed number (VERDICT r2 item 1). .count() is
    // the driver's original harness action (kept for baseline
    // comparability). Persist lifetimes are governed by graft.Caches:
    // every scoped relation a query created is released after each rep
    // (reps time real work, not residual cache hits), while the explicit
    // shared q30/q31/q60 trio persists for the session — the same policy
    // Verify uses. A failed rep reports the query as -1 so crashes can't
    // masquerade as fast runs.
    //
    // The shared trio's compute-once build is materialized HERE, timed,
    // and added to the total: with median reporting it would otherwise
    // surface only in the first trio query's max rep and silently drop
    // out of the committed number.
    // a failed build reports -1 (excluded from totals, counted in
    // `failed`) — NOT 0.0: the trio would then rebuild inside the first
    // trio query's rep 1, where median reporting hides the cost, making
    // a crashed run look ~7s faster than any honest one.
    // the two shared families are timed separately (trio vs dense-id
    // sorts) so their cost structure stays visible on the record; the
    // summed number keeps the r3 JSON contract.
    var attempt = 0
    var loadStart = loadStart0
    var done = false
    while (!done) {
    attempt += 1
    anyKeptRepHot = false
    maxKeptExternal = 0.0
    // ADVICE r12: the rerun exists to produce a clean record, but a
    // first attempt that burned the whole retry budget on hot reps
    // would leave the rerun with zero retries — re-arm it per attempt
    retriesLeft = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "12").toInt
    val wallStart = System.nanoTime()
    val kernelStart = kernelTicks()
    def timed(f: => Unit): Double = {
      externalBusy() // close the preceding window; this build starts fresh
      val t0 = System.nanoTime()
      val t =
        try { f; (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[bench] shared-relation build failed: ${e.getMessage}")
          -1.0
        } finally Caches.releaseScoped()
      val ext = externalBusy()
      if (t >= 0 && isHotWindow(ext)) {
        anyKeptRepHot = true
        maxKeptExternal = math.max(maxKeptExternal, ext)
      }
      t
    }
    val sharedTimes = SharedBuilds.map { case (name, build) =>
      name -> timed(build(spark, sfDir))
    }
    val sharedBuild =
      if (sharedTimes.exists(_._2 < 0)) -1.0 else sharedTimes.map(_._2).sum
    // per-rep loadavg stamps (VERDICT r10 item 3): mid-run loadavg
    // mostly measures the bench's own 32 threads, so it is NOT a taint
    // input — but stamping its max on the record lets a reader see the
    // contention profile the external-CPU windows may have missed
    // (BENCH_r10's contending process evaded every sampled window).
    var maxMidLoad = 0.0
    val runs: Seq[(String, Seq[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        maxMidLoad = math.max(maxMidLoad, loadAvg())
        // one measurement: (seconds or -1, external CPU share in window)
        def rep(): (Double, Double) = {
          externalBusy() // close the preceding window
          val t0 = System.nanoTime()
          val t =
            try {
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
            } finally Caches.releaseScoped()
          (t, externalBusy())
        }
        val times = (1 to reps).map { _ =>
          var (t, ext) = rep()
          while (t >= 0 && isHotWindow(ext) && retriesLeft > 0) {
            retriesLeft -= 1
            System.err.println(f"[bench] $name rep saw ${ext * 100}%.0f%% external CPU - retrying ($retriesLeft retries left)")
            val r = rep(); t = r._1; ext = r._2
          }
          if (t >= 0 && isHotWindow(ext)) {
            anyKeptRepHot = true
            maxKeptExternal = math.max(maxKeptExternal, ext)
          }
          t
        }
        name -> times
      }
    // any failed rep marks the whole query failed (-1): a query that
    // crashes intermittently must not report its lucky-rep median
    val med = runs.map { case (n, ts) =>
      n -> (if (ts.exists(_ < 0)) -1.0 else median(ts))
    }.toMap
    // The driver persists only the LAST ~2000 chars of output as the
    // committed artifact (BENCH_r03/r04 both show the line truncated
    // mid-JSON, "parsed": null). Keep the whole line comfortably inside
    // that window: per-query keys shortened to their qNN prefix (the
    // driver's own contract example uses "q1") and values rounded to ms.
    // Locale.ROOT: the f interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE etc.) would render 45,300 — invalid
    // JSON, the exact parse failure this line exists to avoid
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // ONE short-key mapping for the queries map, the bands map, and the
    // suspect reader — the bands FILE is written and re-read with these
    // keys, so a second definition drifting would silently disable the
    // prevBands lookups (r15 review: this was inlined three times)
    def shortName(k: String): String =
      if (k.matches("q\\d+_.*")) k.takeWhile(_ != '_') else k
    def fmt(m: Map[String, Double]): String = {
      val entries = m.toSeq.sortBy(_._1).map { case (k, v) =>
        shortName(k) -> ms(v)
      }
      // duplicate qNN prefixes would collapse silently under json.loads
      // (last key wins) — a query's committed timing must never vanish
      require(entries.map(_._1).distinct.size == entries.size,
        s"duplicate short query keys: ${entries.map(_._1).diff(entries.map(_._1).distinct)}")
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
    // per-query {med,min,max} bands (VERDICT r13 item 5): the record used
    // to carry one whole-run band, so a riser like r13's q205 (+38%)
    // could not be machine-adjudicated as jitter vs regression — the
    // per-query rep spread is exactly the missing denominator. Emitted as
    // compact [med,min,max] arrays on the FULL line only (the tail-parsed
    // compact line keeps its r10 size contract). A query with any failed
    // rep reports med -1 (the crash rule above); its raw min/max stay
    // visible for forensics.
    def fmtBands(rs: Seq[(String, Seq[Double])]): String = {
      val entries = rs.sortBy(_._1).map { case (k, ts) =>
        val m = if (ts.exists(_ < 0)) -1.0 else median(ts)
        shortName(k) -> s"[${ms(m)},${ms(ts.min)},${ms(ts.max)}]"
      }
      require(entries.map(_._1).distinct.size == entries.size,
        s"duplicate short query keys in bands: ${entries.map(_._1).diff(entries.map(_._1).distinct)}")
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }
    // Cross-round riser adjudication (VERDICT r14 item 7): each query's
    // current [min, max] rep band is compared against its band from the
    // previous committed CLEAN record (tools/bench_bands.json — rewritten
    // below by every untainted driver-SF run and committed with the
    // round, because the driver's BENCH_rN.json persists only the tail
    // of stdout and truncates the full band map). The rule is the
    // r13/r14 verdicts' manual adjudication, mechanized: a delta "sits
    // inside its own rep spread" iff the two bands OVERLAP — so a query
    // is suspect only when its bands are DISJOINT beyond a 20%+100 ms
    // slack (current min above the old max, or current max below the
    // old min). A median-only rule flagged 9/249 honest micro-batch
    // queries across two same-day clean runs in a 17%-drifted host
    // window; band disjointness flags none of those (jitter widens the
    // band, it doesn't move it wholesale) while a real plan regression
    // shifts the WHOLE band and still fires. Both directions flag: an
    // unexplained fall is a plan change to adjudicate too.
    //
    // The slack is whichever is LARGER of +20% and +100 ms on the old
    // band edge (multiplicative for seconds-scale queries, the absolute
    // floor for the 50 ms ones whose 20% is measurement granularity).
    // Matching is by the sf directory's BASENAME (sf0.1), not the
    // absolute path — the committed baseline must survive a different
    // data root or a trailing slash (r15 review).
    val sfName = new java.io.File(sfDir).getName
    val bandsPath = java.nio.file.Paths.get("tools/bench_bands.json")
    val (prevBands: Map[String, (Double, Double)], prevBandsReps: Int) =
      if (!java.nio.file.Files.exists(bandsPath)) (Map.empty[String, (Double, Double)], 0)
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(bandsPath), "UTF-8")
        val sfRe = "\"sf\":\"([^\"]*)\"".r
        val sfOk = sfRe.findFirstMatchIn(txt)
          .exists(m => new java.io.File(m.group(1)).getName == sfName)
        if (!sfOk) (Map.empty[String, (Double, Double)], 0)
        else {
          val bands = "\"(q[0-9]+)\":\\[([-0-9.]+),([-0-9.]+),([-0-9.]+)\\]".r
            .findAllMatchIn(txt)
            .map(m => m.group(1) -> (m.group(3).toDouble, m.group(4).toDouble))
            .toMap
          val bReps = "\"reps\":([0-9]+)".r.findFirstMatchIn(txt)
            .map(_.group(1).toInt).getOrElse(1)
          (bands, bReps)
        }
      }
    // symmetric ±20% (or ±100 ms, whichever is larger) on the old band
    // edge — the low side was lo/1.2 = −16.7% until r16 (ADVICE r15 #5)
    def isSuspect(curMin: Double, curMax: Double, lo: Double, hi: Double): Boolean =
      curMin >= 0 && (curMin > math.max(hi * 1.2, hi + 0.1) ||
        curMax < math.min(lo * 0.8, lo - 0.1))
    val allRisers = runs.collect { case (k, ts) if !ts.exists(_ < 0) &&
        prevBands.get(shortName(k))
          .exists { case (lo, hi) => isSuspect(ts.min, ts.max, lo, hi) } =>
      shortName(k)
    }.sorted
    // Per-query adjudication (VERDICT r15 next-round #4): q205 was
    // hand-adjudicated benign in r13, r14, AND r15 — its whole band
    // moves with the host window (event-time-timer session replay: two
    // RocksDB micro-batches + the no-data final batch; file-system-bound
    // setup, not plan-bound), its code had zero diff lines in each of
    // those rounds, and its 30× kappa-twin probe is flat (exponent
    // 0.24). An adjudicated riser still goes ON THE RECORD — named in
    // its own compact-line field with the band that fired — it just no
    // longer taints n_suspect or blocks the bands refresh, so the
    // record explains itself without human diffing. Any OTHER query
    // drifting, or q205 regressing in a way a reader disputes, is
    // still visible in the same place.
    val AdjudicatedVariance = Set("q205")
    val (adjudicated, suspects) = allRisers.partition(AdjudicatedVariance.contains)
    if (suspects.nonEmpty)
      System.err.println(s"[bench] ${suspects.size} query band(s) disjoint from the previous clean record's: ${suspects.mkString(",")}")
    if (adjudicated.nonEmpty)
      System.err.println(s"[bench] ${adjudicated.size} adjudicated-variance band(s) fired (benign, on record): ${adjudicated.mkString(",")}")
    val ok = runs.filter(_._2.forall(_ >= 0))
    // ok-portion per FAMILY: if one family failed, the other's cached
    // build still benefited its queries and must stay charged — a
    // combined -1 would zero BOTH, making a half-crashed run look faster
    // r13 fix: pq/zorder joined shared_build in their rounds but were
    // never added HERE, so `value` excluded ~1-2 s that `shared_build`
    // reported — the two fields now tile (`value` = shared ok-portion +
    // query medians). Cross-round note: r13+ totals carry those seconds;
    // pre-r13 totals do not (ARCHITECTURE round table).
    val sharedOk = sharedTimes.map(t => math.max(t._2, 0.0)).sum
    val total = sharedOk + ok.map { case (_, ts) => median(ts) }.sum
    val totalMin = sharedOk + ok.map(_._2.min).sum
    val totalMax = sharedOk + ok.map(_._2.max).sum
    // ACTUAL per-rep totals (r17, VERDICT r16 item 2): rep index r's
    // time summed across the ok queries — the statistic the band taint
    // rates (warm reps only; see isBandTainted's scaladoc). Shared
    // builds run once, not per rep, so they are excluded here; the
    // legacy min/max band above keeps them for cross-round continuity.
    val repTotals: Seq[Double] =
      (0 until reps).map(r => ok.map(_._2(r)).sum)
    val failed = med.values.count(_ < 0) + (if (sharedBuild < 0) 1 else 0)
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    val loadEnd = loadAvg()
    val extEnd = externalBusy()
    // whole-run kernel-tick share (report-only — see kernelTicks above);
    // -1 when /proc is absent or the counters did not advance
    val kernelRun = (kernelStart, kernelTicks()) match {
      case (Some((k0, t0)), Some((k1, t1))) if t1 > t0 =>
        (k1 - k0).toDouble / (t1 - t0)
      case _ => -1.0
    }
    // the stamp is computed AFTER the run so it reflects the whole
    // window — an end-hot or mid-hot run can no longer go on record as
    // clean (the BENCH_r07/r08 failure mode)
    val tainted = isTainted(loadStart, extEnd, anyKeptRepHot, repTotals,
      totalMin, totalMax)
    if (isBandTainted(repTotals, totalMin, totalMax)) {
      val warm = repTotals.drop(1).filter(_ > 0)
      val (bLo, bHi) =
        if (warm.size >= 2) (warm.min, warm.max) else (totalMin, totalMax)
      System.err.println(String.format(java.util.Locale.ROOT,
        "[bench] WARNING: warm rep totals %.1f-%.1f s (ratio %.2f > %.1f) - reps did not run under one set of conditions; record stamped tainted",
        Double.box(bLo), Double.box(bHi),
        Double.box(bHi / bLo), Double.box(MaxBandRatio)))
    }
    // zero valid MXBean samples over the whole run = the external-CPU
    // rule was inoperative (unsupported platform/JVM); say so on the
    // record rather than letting `tainted: false` imply it ran
    val extAvailable = extValidSamples > 0
    if (!extAvailable)
      System.err.println(
        "[bench] WARNING: external-CPU signal unavailable on this JVM/platform - " +
          "mid-run/end taint detection did not run (record stamps \"available\": false)")
    // median_def records the even-rep definition change (midpoint of the
    // two middle reps since r4; rounds 1-3 used the upper-middle element)
    // so historical even-rep numbers aren't compared as like-for-like.
    val suspectsJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    // adjudicated risers: name + the fired band vs the baseline band, so
    // the record is self-explanatory ("q205":[curMin,curMax,baseLo,baseHi])
    val adjudicatedJson = adjudicated.map { k =>
      val ts = runs.collectFirst { case (n, t) if shortName(n) == k => t }.get
      val (lo, hi) = prevBands(k)
      s""""$k":[${ms(ts.min)},${ms(ts.max)},${ms(lo)},${ms(hi)}]"""
    }.mkString("{", ",", "}")
    // n_suspect is only meaningful against a baseline; baseline=false
    // says "no previous clean bands for this sf" rather than "0 risers"
    val suspectBaseline = prevBands.nonEmpty
    // the r17 band diagnostics (VERDICT r16 item 2), both lines:
    // rep_totals are the ACTUAL per-rep sweep times the taint now rates
    // (first entry = rep 1, systematically high: per-query plan compile);
    // band_top names the 8 queries with the widest rep spread, so a
    // fired band rule is attributable from the committed record alone.
    val repTotalsJson = repTotals.map(ms).mkString("[", ",", "]")
    val bandTop = ok.map { case (n, ts) => shortName(n) -> (ts.max - ts.min) }
      .sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val sharedPartsJson =
      sharedTimes.map { case (n, t) => s""""$n":${ms(t)}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","reps":$reps,"median_def":"midpoint_even","attempt":$attempt,"load_wait_sec":$waited,"shared_build":${ms(sharedBuild)},"shared_build_parts":$sharedPartsJson,"band":{"min":${ms(totalMin)},"max":${ms(totalMax)}},"rep_totals":$repTotalsJson,"band_top":$bandTop,"failed":$failed,"tainted":$tainted,"kept_hot":$anyKeptRepHot,"n_suspect":${suspects.size},"suspect_baseline":$suspectBaseline,"suspects":$suspectsJson,"suspects_adjudicated":$adjudicatedJson,"external_busy":{"available":$extAvailable,"signal":"$extSignal","end":${ms(extEnd)},"max_kept":${ms(maxKeptExternal)},"kernel_run":${ms(kernelRun)}},"load_avg":{"start":${ms(loadStart)},"end":${ms(loadEnd)},"max_mid":${ms(maxMidLoad)}},"wall_sec":${ms(wallSec)},"queries":${fmt(med)},"query_bands":${fmtBands(runs)},"sf":"$sfDir"}""")
    // The driver persists only the LAST ~2000 chars of stdout. At 124
    // queries the full line above outgrew that window and BENCH_r10 went
    // on record with "parsed": null — no total at all (VERDICT r10 item
    // 2). This SECOND line repeats every summary field WITHOUT the
    // per-query map (≪ 2000 chars, forever): printed last, it is always
    // inside the tail the driver parses. The full line stays for humans
    // and per-query analysis.
    // suspects ride the compact line too, CAPPED at 20 names (VERDICT
    // r15 item 1 of the hygiene list): BENCH_r15 went on record with
    // n_suspect: 11 but the names sat before the per-query map on the
    // full line and the driver's 2000-char tail truncated them away — a
    // tainted record must be adjudicable from the committed tail alone.
    // 20 capped names ≈ 140 chars, safely inside the tail window even
    // on a hot host; n_suspect still carries the true count.
    val suspectsCompact = suspects.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","reps":$reps,"median_def":"midpoint_even","attempt":$attempt,"load_wait_sec":$waited,"shared_build":${ms(sharedBuild)},"n_queries":${runs.size},"band":{"min":${ms(totalMin)},"max":${ms(totalMax)}},"rep_totals":$repTotalsJson,"band_top":$bandTop,"failed":$failed,"tainted":$tainted,"kept_hot":$anyKeptRepHot,"n_suspect":${suspects.size},"suspect_baseline":$suspectBaseline,"suspects":$suspectsCompact,"suspects_adjudicated":$adjudicatedJson,"external_busy":{"available":$extAvailable,"signal":"$extSignal","end":${ms(extEnd)},"max_kept":${ms(maxKeptExternal)},"kernel_run":${ms(kernelRun)}},"load_avg":{"start":${ms(loadStart)},"end":${ms(loadEnd)},"max_mid":${ms(maxMidLoad)}},"wall_sec":${ms(wallSec)},"sf":"$sfDir"}""")
    // refresh the committed adjudication baseline: only a CLEAN,
    // zero-failure, ZERO-SUSPECT run at the driver's bench SF may become
    // the next round's reference bands. A local sf0.001 iteration or a
    // tainted window must not clobber the sf0.1 baseline — and a run
    // that itself flags disjoint bands must not either, or a real
    // regression would self-ratchet into the baseline and every later
    // run would adjudicate against the regressed numbers (r15 review).
    // ADJUDICATED risers (AdjudicatedVariance, currently q205) are the
    // exception: they no longer block the refresh, so a clean run whose
    // only drift is q205 re-bases q205's band automatically — that's
    // the point of adjudication (its band moves with the host window,
    // and pinning it would make every later run re-flag it). The
    // delete-the-file-and-rerun procedure remains the path for
    // NON-adjudicated drifts a human judges benign (ADVICE r16 #4).
    // ...and only a run whose rep count matches-or-exceeds the committed
    // baseline's may overwrite it (ADVICE r15 #5): a reps=1 run writes
    // degenerate min==max bands that make the next honest run's
    // disjointness check far more likely to false-positive.
    if (!tainted && failed == 0 && suspects.isEmpty && sfName == "sf0.1" &&
        (prevBands.isEmpty || reps >= prevBandsReps)) {
      val bandsFile = s"""{"sf":"$sfDir","reps":$reps,"bands":${fmtBands(runs)}}"""
      try {
        java.nio.file.Files.createDirectories(bandsPath.getParent)
        java.nio.file.Files.writeString(bandsPath, bandsFile + "\n")
        System.err.println(s"[bench] clean run - wrote ${runs.size} baseline bands to $bandsPath")
      } catch { case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $bandsPath: ${e.getMessage}")
      }
    }
    // a rerun must rebuild (and re-time) the shared relations from
    // scratch or its shared_build would time a warm cache
    Caches.releaseShared()
    if (tainted && rerunsLeft > 0) {
      rerunsLeft -= 1
      System.err.println(
        "[bench] record tainted - rerunning the whole bench once after a quiet-start wait " +
          "(VERDICT r11 item 2); both records stay in stdout, the rerun's last")
      waited = quietStartWait()
      loadStart = loadAvg()
    } else done = true
    } // while (!done)
    spark.stop()
  }
}
