package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // dev-only narrowing for local iteration (the driver never sets it):
    // SPARK_GRAFT_ONLY=q75,q76 dumps just those queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(keys) => SparkEntry.queries.filter { case (n, _) =>
        keys.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written FIRST (VERDICT r11 item 1): the round-11
    // driver run was killed mid-dump under host contention, and because
    // this file used to be written LAST the driver's checker found
    // nothing and recorded `{}` for a repo that was 204/204 green. With
    // the SQL map on disk before any query runs, a mid-run kill still
    // leaves the checker every completed dump to grade.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // metadata-only count from the just-written footer (no recompute);
        // one parseable line per completed dump means a truncated run
        // still shows exactly how far it got (the same tail-survival
        // trick that saved the round-11 bench record)
        val rows = spark.read.parquet(s"$outDir/$name").count()
        println(s"[verify] OK $name rows=$rows")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries register their internal persists (self-join build sides)
      // as scoped in graft.Caches — release them here so caches don't
      // accumulate across 60 queries. The explicit shared dedup-trio
      // relations stay for the session (same policy as Bench).
      Caches.releaseScoped()
    }
    println(s"[verify] DONE ${selected.size} queries dumped")
    Caches.releaseShared()
    spark.stop()
  }
}
