package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation over the testdata
  * tables and (when SQL-expressible) an equivalent DuckDB oracle SQL.
  * Column names/aliases MUST match between the two — the driver sorts
  * columns by name before hashing values.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Registry {
  lazy val all: Seq[QueryDef] =
    CoreQueries.defs ++ TimeseriesQueries.defs ++ DerivedQueries.defs ++
      StatsQueries.defs ++ SyncQueries.defs ++ LifecycleQueries.defs ++
      IngestQueries.defs ++ TextMlQueries.defs ++ PipelineQueries.defs ++
      CorpusQueries.defs ++ RasterQueries.defs ++ MaintenanceQueries.defs ++
      AdminQueries.defs ++ MediaQueries.defs ++ TokenizerQueries.defs

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
