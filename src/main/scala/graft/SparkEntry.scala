package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.operators._
import graft.sources.DerivedTables._

/** Driver contract (see the build brief): `queries` = one entry per
  * implemented operator (SURVEY.md §2 + training-data ops), `oracleSql` =
  * DuckDB-portable ANSI SQL producing identical rows for every query.
  * Both are views over the one registry, [[catalog.Catalog]], where each
  * query's Spark plan sits next to its oracle. */
object SparkEntry {

  /** The flagship smoke dataset — shared with Smoke's invariant probes so
    * the byte-identity check always reads the same data as the pipeline. */
  final val EntrySfDir = "/root/testdata/sf0.001"

  /** Flagship on sf0.001: geotagged pages → cell-partitioned spatial join
    * vs theme polygons → exact ray-cast refine → tile assignment (z12). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = EntrySfDir
    val joined = SpatialJoin.pointsInPolygons(
      pages(spark, dir), polygons(spark, dir), res = 5)
    joined
      .withColumn("tile_x", tile_x(col("lng"), 12))
      .withColumn("tile_y", tile_y(col("lat"), 12))
      .select("url", "warc_ts", "text", "lang", "poly_id", "theme", "tile_x", "tile_y")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.Catalog.all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    catalog.Catalog.all.map(q => q.name -> q.oracleSql).toMap
}
