package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, CorpusQueries, Q}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is an operator from SURVEY.md §2 (or the
  * corpus-pipeline extension surface) expressed as a batch query over the
  * driver's parquet tables; `oracleSql` carries the DuckDB-equivalent SQL
  * for every query whose semantics are ANSI-expressible.
  */
object SparkEntry {

  private val registry: Seq[Q] = Analytics.all ++ CorpusQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("ev_hourly_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** The names a run is restricted to (empty: no restriction). Fails
    * naming every unregistered one, before any query runs — a typo must
    * not turn into an empty run. */
  def registered(names: Seq[String]): Set[String] = {
    val unknown = names.filterNot(queries.keySet)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.toSet
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
