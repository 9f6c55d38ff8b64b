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
}
