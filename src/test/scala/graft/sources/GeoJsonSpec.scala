package graft.sources

import graft.TestSpark
import graft.functions.GraftFunctions._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GeoJSON ingest (E2) + typed kernel surface (E5). */
class GeoJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val gjDir: String = {
    // the reference's ell.geojson shape: a FeatureCollection with the
    // L polygon plus a square-with-hole feature
    val d = Files.createTempDirectory("geojson").toString
    val fc =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{},"geometry":{"type":"Polygon",
        | "coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,1.0],[1.0,1.0],[1.0,4.0],[0.0,4.0],[0.0,0.0]]]}},
        |{"type":"Feature","properties":{},"geometry":{"type":"Polygon",
        | "coordinates":[[[0.0,0.0],[100.0,0.0],[100.0,100.0],[0.0,100.0],[0.0,0.0]],
        |                [[60.0,60.0],[60.0,80.0],[80.0,80.0],[80.0,60.0],[60.0,60.0]]]}}
        |]}""".stripMargin
    Files.writeString(Paths.get(d, "polys.geojson"), fc)
    d
  }

  test("readGeoJson parses a FeatureCollection and polylabel matches the fixtures") {
    val df = GeoTables.readGeoJson(spark, gjDir, tolerance = 0.1)
    assert(df.count() === 2)
    val labels = df
      .withColumn("label", polylabel($"exterior", $"holes",
        when($"poly_id" === "gj-1", 1.0).otherwise($"tolerance")))
      .select($"poly_id", $"label.x", $"label.y")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(labels("gj-0") === ((0.5625, 0.5625)))          // L shape
    assert(labels("gj-1") === ((35.15625, 35.15625)))      // square with hole
  }

  test("typed labels Dataset equals the expression surface") {
    val polys = GeoTables.fixtures(spark)
    val typed = GeoTables.labels(polys).collect()
      .map(l => l.poly_id -> ((l.x, l.y, l.dist))).toMap
    val viaExpr = polys.toDF
      .withColumn("label", polylabel($"exterior", $"holes", $"tolerance"))
      .select($"poly_id", $"label.x", $"label.y", $"label.dist")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(typed === viaExpr)
  }

  test("geojson_polygon equals the matching geojson_feature_collection element, or null") {
    val inputs = Seq(
      // a Feature wrapping the L polygon
      """{"type":"Feature","properties":{},"geometry":{"type":"Polygon",
        |"coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,1.0],[1.0,1.0],[1.0,4.0],[0.0,4.0],[0.0,0.0]]]}}""",
      // a bare Polygon with a hole
      """{"type":"Polygon","coordinates":[[[0.0,0.0],[100.0,0.0],[100.0,100.0],[0.0,100.0],[0.0,0.0]],
        |[[60.0,60.0],[60.0,80.0],[80.0,80.0],[80.0,60.0],[60.0,60.0]]]}""",
      // a non-Polygon geometry
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]}}""",
      // malformed JSON
      """{"type":"Polygon","coordinates":[[[0.0,0.0],""").map(_.stripMargin.replace("\n", ""))
    val rows = inputs.toDF("gj")
      .select(expr("geojson_polygon(gj)").as("p"), expr("geojson_feature_collection(gj)").as("fc"))
      .collect()
    val got = rows.map(r => Option(r.getAs[org.apache.spark.sql.Row]("p")))
    val want = rows.map(r => Option(r.getSeq[org.apache.spark.sql.Row](1)).flatMap(_.headOption))
    assert(got.toSeq === want.toSeq)
    assert(got.map(_.isDefined).toSeq === Seq(true, true, false, false))
    assert(got(1).get.getSeq[Any](1).size === 1, "the hole must parse")
  }
}
