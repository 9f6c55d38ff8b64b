package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CoreQueries, CurationQueries, ExtendedQueries, JoinQueries, PipelineQueries, ScaleQueries, SpatialQueries, TemporalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2.3 + the
  * LLM-pipeline extension surface); `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible query. Column names are aligned
  * between both sides (the driver's compare sorts columns by name).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_ordered_scan")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ExtendedQueries.queries ++
      PipelineQueries.queries ++ SpatialQueries.queries ++
      TemporalQueries.queries ++ AnalyticsQueries.queries ++ JoinQueries.queries ++
      ScaleQueries.queries ++ CurationQueries.queries

  /** The one query selector of the harness mains and the golden loop:
    * the queries matching one of `prefixes`, in name order — every query
    * when `prefixes` holds none. A prefix matches a name that starts with
    * it and does not go on with a digit, so `q12` selects `q12_…` and not
    * `q120_…`. Each element may be a comma-separated list, the form the
    * mains take on the command line (`q12,q48`). */
  def select(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val ps = prefixes.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    def matches(n: String, p: String) = n.startsWith(p) && !n.lift(p.length).exists(_.isDigit)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => ps.isEmpty || ps.exists(matches(n, _)) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ ExtendedQueries.oracles ++
      PipelineQueries.oracles ++ SpatialQueries.oracles ++
      TemporalQueries.oracles ++ AnalyticsQueries.oracles ++ JoinQueries.oracles ++
      ScaleQueries.oracles ++ CurationQueries.oracles
}
