package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark plan over a scale-factor directory, and the
  * DuckDB-portable SQL that must return identical rows (identical column
  * names, deterministic ORDER BY).
  *
  * Oracle-portability rules used throughout (see sources/DerivedTables):
  * integer arithmetic + IEEE doubles with identical expression shape on
  * both sides; money sums as exact integer cents; boundaries offset off
  * the coordinate grid so strict/closed predicate differences can't bite. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** The registry: every query, one family per file. */
object Catalog {
  val all: Seq[Query] =
    RelationalQueries.queries ++ SpatialQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ MultimodalQueries.queries ++ EventQueries.queries
}
