package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries; every entry in [[queries]]
  * that also appears in [[oracleSql]] is hash-compared against DuckDB by
  * the driver at sf0.01.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, s"${Fixtures.testdata}/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relational.RelationalQueries.queries ++ pm.PmQueries.queries ++
      ext.ExtQueries.queries ++ rules.RuleQueries.queries ++
      sources.CsvQueries.queries ++ sources.JsonlQueries.queries ++
      sources.SchemaQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * CTEs get MATERIALIZED hints ([[Oracle.materialize]]) so the driver's
    * DuckDB pass stays inside its time budget. */
  def oracleSql: Map[String, String] =
    (relational.RelationalQueries.oracleSql ++ pm.PmQueries.oracleSql ++
      ext.ExtQueries.oracleSql ++ rules.RuleQueries.oracleSql ++
      sources.CsvQueries.oracleSql ++ sources.JsonlQueries.oracleSql ++
      sources.SchemaQueries.oracleSql)
      .map { case (k, v) => k -> Oracle.materialize(v) }
}
