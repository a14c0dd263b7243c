package graft.functions

import graft.TestSpark
import graft.geom._
import graft.sources.GeoTables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The SQL/DataFrame surface of the kernel: results through Catalyst must
  * equal the pure-Scala kernel bit-for-bit.
  */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("polylabel expression == kernel on every fixture (SQL surface)") {
    val df = GeoTables.fixtures(spark)
      .withColumn("label", expr("polylabel(exterior, holes, tolerance)"))
      .select($"poly_id", $"label.x", $"label.y", $"label.dist")
    val got = df.collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((name, poly, tol) <- Fixtures.all) {
      val want = Polylabel.polylabel(poly, tol)
      val (gx, gy, gd) = got(name)
      assert(gx === want.x, name); assert(gy === want.y, name); assert(gd === want.dist, name)
    }
  }

  test("polylabel maps errors to the NaN sentinel (FFI parity)") {
    val df = GeoTables.fixtures(spark).limit(1)
      .withColumn("label", expr("polylabel(exterior, holes, -1.0D)"))
      .select($"label.x")
    assert(df.collect().head.getDouble(0).isNaN)
  }

  test("polylabel maps a malformed input (null hole ring) to the NaN sentinel") {
    // a SQL-null ring inside `holes` fails decoding (GeomEncoding.decodePolygon);
    // decode faults keep the sentinel, only faults inside the kernel fail the task
    val df = GeoTables.fixtures(spark).where($"poly_id" === "ell")
      .withColumn("label", expr(
        "polylabel(exterior, array(CAST(NULL AS array<struct<x: double, y: double>>)), 0.1D)"))
      .select($"label.x", $"label.y", $"label.dist")
    val r = df.collect().head
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN && r.getDouble(2).isNaN)
  }

  test("cell_of / cell_parent / cell_kring match CellIndex (SQL surface)") {
    val rows = spark.sql(
      """SELECT cell_of(10.5D, 59.9D, 12) AS c,
        |       cell_parent(cell_of(10.5D, 59.9D, 12)) AS p,
        |       cell_kring(cell_of(10.5D, 59.9D, 12), 1) AS ring""".stripMargin)
      .collect().head
    val c = CellIndex.cellOf(10.5, 59.9, 12)
    assert(rows.getLong(0) === c)
    assert(rows.getLong(1) === CellIndex.parent(c))
    assert(rows.getSeq[Long](2) === CellIndex.kRing(c, 1).toSeq)
  }

  test("polygon_cover + pip agree with kernel cover/PIP on fixtures") {
    val df = GeoTables.fixtures(spark)
      .where($"poly_id".isin("ell", "square_with_hole", "poly1"))
      .withColumn("cover", expr("polygon_cover(exterior, holes, 8)"))
    for (r <- df.collect()) {
      val name = r.getAs[String]("poly_id")
      val want = CellIndex.cover(GeoTables.toPolygon(
        GeoTables.fixtures(spark).where($"poly_id" === name).as[graft.sources.PolyRow].head()), 8)
      assert(r.getAs[Seq[Long]]("cover") === want.toSeq, name)
    }
  }

  test("pip through SQL equals kernel PIP, including hole exclusion") {
    GeoTables.fixtures(spark).where($"poly_id" === "square_with_hole")
      .createOrReplaceTempView("sq_hole")
    val res = spark.sql(
      """SELECT pip(35.0D, 35.0D, exterior, holes) AS inside_ring,
        |       pip(70.0D, 70.0D, exterior, holes) AS inside_hole,
        |       pip(150.0D, 35.0D, exterior, holes) AS outside
        |FROM sq_hole""".stripMargin)
      .collect().head
    assert(res.getBoolean(0) === true)
    assert(res.getBoolean(1) === false) // in the hole -> outside the polygon
    assert(res.getBoolean(2) === false)
  }

  test("geojson_polygon parses the reference ell.geojson feature and labels it") {
    val geojson =
      """{"type":"Feature","properties":{},"geometry":{"type":"Polygon",
        |"coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,1.0],[1.0,1.0],[1.0,4.0],[0.0,4.0],[0.0,0.0]]]}}"""
        .stripMargin.replace("\n", "")
    val row = Seq(geojson).toDF("gj")
      .withColumn("poly", expr("geojson_polygon(gj)"))
      .withColumn("label", expr("polylabel(poly.exterior, poly.holes, 0.1D)"))
      .select($"label.x", $"label.y").collect().head
    assert(row.getDouble(0) === 0.5625)
    assert(row.getDouble(1) === 0.5625)
  }

  test("signed_dist through SQL equals kernel signedDistance") {
    val want = Polylabel.signedDistance(35.0, 35.0,
      Polylabel.prepare(Fixtures.squareWithHole))
    GeoTables.fixtures(spark).where($"poly_id" === "square_with_hole")
      .createOrReplaceTempView("sq_hole2")
    val got = spark.sql(
      "SELECT signed_dist(35.0D, 35.0D, exterior, holes) AS d FROM sq_hole2")
      .collect().head.getDouble(0)
    assert(got === want)
  }

  test("pip, signed_dist and polygon_cover return SQL null on a null hole ring (codegen and interpreted)") {
    // the L-shaped `ell` fixture, with its first x taken from a column
    def ell(x0: String) =
      s"array(named_struct('x', $x0, 'y', 0D), named_struct('x', 4D, 'y', 0D), " +
        "named_struct('x', 4D, 'y', 1D), named_struct('x', 1D, 'y', 1D), " +
        "named_struct('x', 1D, 'y', 4D), named_struct('x', 0D, 'y', 4D))"
    val nullHole = "array(CAST(NULL AS array<struct<x: double, y: double>>))"
    // a generated-code compile error must fail the query, not fall back
    // to the interpreted path
    val fallback = "spark.sql.codegen.fallback"
    val orig = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try for (call <- Seq("pip(0.5D, 0.5D, %s, %s)", "signed_dist(0.5D, 0.5D, %s, %s)",
                         "polygon_cover(%s, %s, 8)")) {
      // a projection over a local relation is evaluated by the optimizer
      // (ConvertToLocalRelation), through the interpreted `eval`
      val folded = Seq(0.0).toDF("x0").selectExpr(call.format(ell("x0"), nullHole) + " AS r")
      assert(folded.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], call)
      assert(folded.collect().head.isNullAt(0), call)

      val generated = spark.range(1).selectExpr(
        call.format(ell("CAST(id AS DOUBLE)"), nullHole) + " AS r")
      val plan = generated.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]), call)
      assert(generated.collect().head.isNullAt(0), call)
      // the same row with untyped NULL holes (no holes) decodes and evaluates
      assert(!spark.range(1).selectExpr(call.format(ell("CAST(id AS DOUBLE)"), "NULL") + " AS r")
        .collect().head.isNullAt(0), call)
    } finally orig.fold(spark.conf.unset(fallback))(spark.conf.set(fallback, _))
  }
}
