package graft

import org.apache.spark.sql.SparkSession

/** The one way the project builds a session: `local[cores]`, a batch
  * shuffle width equal to the core count, a UTC session zone, no UI and
  * WARN logging. Every main and the test fixture build through here, so
  * a conf lands on all of them or on none. `getOrCreate` semantics: a
  * second call in the same JVM returns the running session with these
  * confs re-applied. */
object Sessions {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with each (key, value) set on the session conf, then
    * puts every key back as it was (unset if it was unset), even when
    * `body` throws — the one set-and-restore conf scope (stream width,
    * state-store provider, and the specs' conf overrides). */
  private[graft] def withConfs[T](spark: SparkSession, confs: (String, String)*)
                                 (body: => T): T = {
    // the explicitly set confs, not `getOption`: a conf left at its
    // default must go back to unset, not to an explicit copy of the default
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
