package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.geofunctions._
import graft.functions.GeomConstructors.box_wkb
import graft.geo.Wkb

/** The session extension: literal ray-casts evaluate exactly through a
  * session built with it, and its SQL functions build the same
  * expressions as the Column API. */
class ExtensionsSpec extends SparkTestBase {

  lazy val extSpark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("extension session: literal ray-casts keep exact rows") {
    import extSpark.implicits._
    def inside(wkb: Array[Byte], pts: Seq[(Double, Double)]): Seq[(Double, Double)] =
      pts.toDF("lng", "lat")
        .where(ray_cast_contains(lit(wkb), col("lng"), col("lat")))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(inside(Wkb.box(0.1, 0.1, 1.3, 1.3), Seq((0.5, 0.5), (2.0, 2.0))) == Seq((0.5, 0.5)))
    val tri = graft.geo.Wkt.parse("POLYGON ((0 0, 1 0, 0 1, 0 0))")
    assert(inside(tri, Seq((0.2, 0.2), (0.9, 0.9))) == Seq((0.2, 0.2)))
  }

  test("SQL function registry: spark.sql path builds the same codegen expressions") {
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    Seq((40.7, -74.0), (51.5, -0.1), (-33.9, 151.2))
      .toDF("lat", "lng").createOrReplaceTempView("pts")
    val viaSql = spark.sql(
      """SELECT cell_encode(lat, lng, 6) AS c,
        |       cell_x(cell_encode(lat, lng, 6)) AS gx,
        |       tile_x(lng, 8) AS tx, tile_y(lat, 8) AS ty,
        |       haversine_m(lat, lng, 0.0, 0.0) AS dist,
        |       ray_cast_contains(box_wkb(-180.0, -90.0, 180.0, 90.0), lng, lat) AS inside,
        |       hilbert_index(lat, lng, -180.0, -90.0, 180.0, 90.0, 10) AS h
        |FROM pts ORDER BY lat""".stripMargin).collect()
    val viaCols = spark.table("pts")
      .select(cell_encode($"lat", $"lng", 6).as("c"),
        cell_x(cell_encode($"lat", $"lng", 6)).as("gx"),
        tile_x($"lng", 8).as("tx"), tile_y($"lat", 8).as("ty"),
        haversine_m($"lat", $"lng", lit(0.0), lit(0.0)).as("dist"),
        ray_cast_contains(box_wkb(lit(-180.0), lit(-90.0), lit(180.0), lit(90.0)), $"lng", $"lat").as("inside"),
        hilbert_index($"lat", $"lng", -180.0, -90.0, 180.0, 90.0, 10).as("h"))
      .orderBy($"lat" /* same order as SQL */)
      .collect()
    assert(viaSql.toSeq == viaCols.toSeq)
    assert(viaSql.forall(_.getBoolean(5)), "every point is inside the world box")
    // cover_cells + cell_kring return arrays through SQL too
    val arr = spark.sql(
      "SELECT size(cover_cells(box_wkb(0.0, 0.0, 2.0, 2.0), 6)) AS nc, size(cell_kring(cell_encode(1.0, 1.0, 6), 1)) AS nk")
      .head()
    assert(arr.getInt(0) > 0 && arr.getInt(1) >= 4)
  }
}
