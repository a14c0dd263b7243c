package graft.functions

import graft.TestSpark
import graft.gen.SparkModes._
import graft.geom._
import graft.sources.{GeoTables, PolyRow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Test probe: `<path>:<class>` of the array its child evaluates to, where
  * path is `codegen` or `eval`. It sits beside a polygon expression on the
  * same child, so it sees the `ArrayData` that `GeomEncoding.ringFrom` gets.
  */
case class ArrayClassProbe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(a: Any): Any =
    UTF8String.fromString("eval:" + a.getClass.getSimpleName)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""org.apache.spark.unsafe.types.UTF8String.fromString("codegen:" + $c.getClass().getSimpleName())""")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

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

  test("polylabel is nullable exactly when exterior or tolerance is; null in gives null, malformed gives NaN (codegen and interpreted)") {
    val sq = "array(named_struct('x', 0D, 'y', 0D), named_struct('x', 4D, 'y', 0D), " +
      "named_struct('x', 4D, 'y', 4D), named_struct('x', 0D, 'y', 4D))"
    // the square with a null point: a non-null but malformed exterior
    val malformed = "array(named_struct('x', 0D, 'y', 0D), CAST(NULL AS struct<x: double, y: double>), " +
      "named_struct('x', 4D, 'y', 4D), named_struct('x', 0D, 'y', 4D))"
    val nan = Seq.fill(3)(java.lang.Double.doubleToRawLongBits(Double.NaN))
    // (exterior, holes, tolerance, nullable, result of row id 0: None = SQL null)
    val cases = Seq(
      (sq, "NULL", "0.1D", false, Some(Seq(2.0, 2.0, 2.0).map(java.lang.Double.doubleToRawLongBits))),
      (malformed, "NULL", "0.1D", false, Some(nan)),
      (sq, "NULL", "-1D", false, Some(nan)),
      (sq, "array(CAST(NULL AS array<struct<x: double, y: double>>))", "0.1D", false, Some(nan)),
      (s"IF(id = 0, NULL, $sq)", "NULL", "0.1D", true, None),
      (sq, "NULL", "IF(id = 0, NULL, 0.1D)", true, None))
    for ((mode, conf) <- modes; (e, h, t, nullable, want) <- cases) withConf(conf) {
      val what = s"$mode: polylabel($e, $h, $t)"
      val df = spark.range(2).selectExpr(s"polylabel($e, $h, $t) AS l")
      assert(df.schema("l").nullable === nullable, what)
      val got = df.collect().head
      assert((if (got.isNullAt(0)) None
        else Some(got.getStruct(0).toSeq.map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])))) === want,
        what)
    }
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
    val want = Polylabel.signedDistance(35.0, 35.0, Fixtures.squareWithHole)
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

  // ---- ring decode: UnsafeArrayData read in place vs the per-element path

  /** The fixtures (Norway's 8,854-vertex ring among them) and a 600-vertex
    * star with a 300-vertex star hole: rings of one block up to 35
    * superblocks.
    */
  private lazy val decodeRows: Seq[PolyRow] = {
    val ext = GeoTables.syntheticPolygon(1L, 5.0, 50.0, 1.0, 600).exterior
    val hole = GeoTables.syntheticPolygon(2L, 5.0, 50.0, 0.3, 300).exterior
    val star = new PolygonG(ext, Array(Ring.of(hole.xs.reverse, hole.ys.reverse)))
    Fixtures.all.map { case (n, p, t) => GeoTables.toRow(n, p, t) } :+ GeoTables.toRow("star600_hole300", star, 0.001)
  }

  /** The four polygon expressions on the (E)xterior and (H)oles arguments,
    * probed at a vertex, a point between two vertices and a vertex moved by
    * 1e-9 in y (read from the stored exterior).
    */
  private val decodeCalls = {
    val probes = Seq(
      ("exterior[0].x", "exterior[0].y"),
      ("(exterior[0].x + exterior[size(exterior) DIV 2].x) / 2",
        "(exterior[0].y + exterior[size(exterior) DIV 2].y) / 2"),
      ("exterior[1].x", "exterior[1].y + 1e-9"))
    Seq("polylabel(%E, %H, tolerance)", "polygon_cover(%E, %H, 6)") ++
      probes.flatMap { case (x, y) => Seq(s"signed_dist($x, $y, %E, %H)", s"pip($x, $y, %E, %H)") }
  }

  /** poly_id -> (decode probe, bit patterns of every call's result). */
  private def decodeResults(df: DataFrame, rebuilt: Boolean): Map[String, (String, Seq[Any])] = {
    val (e, h) = if (rebuilt) (rebuiltExterior, rebuiltHoles) else ("exterior", "holes")
    val cols = col("poly_id") +: ColumnBridge.column(ArrayClassProbe(ColumnBridge.expression(expr(e)))) +:
      decodeCalls.map(c => expr(c.replace("%E", e).replace("%H", h)))
    def bits(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case r: Row => r.toSeq.map(bits)
      case s: scala.collection.Seq[_] => s.map(bits)
      case o => o
    }
    df.select(cols: _*).collect().map(r =>
      r.getString(0) -> (r.getString(1), r.toSeq.drop(2).map(bits))).toMap
  }

  test("cached (UnsafeArrayData) and parquet-read rings decode bit-identically to rings built in-query (codegen and interpreted)") {
    val base = decodeRows.toDF()
    // points with a third field: the decode reads x and y as it does for two
    val wide = base.selectExpr("poly_id",
      "transform(exterior, p -> named_struct('x', p.x, 'y', p.y, 'z', -1D)) AS exterior",
      "transform(holes, r -> transform(r, p -> named_struct('x', p.x, 'y', p.y, 'z', -1D))) AS holes",
      "tolerance")
    for ((mode, conf) <- modes) {
      val want = withConf(conf)(decodeResults(base.cache(), rebuilt = true))
      assert(want.size === decodeRows.size)
      assert(want.values.map(_._1).toSet === Set(s"$mode:GenericArrayData"), mode)
      // the kernel itself, on the same polygons
      for (r <- decodeRows) {
        val k = Polylabel.polylabel(GeoTables.toPolygon(r), r.tolerance)
        assert(want(r.poly_id)._2.head === Seq(k.x, k.y, k.dist).map(java.lang.Double.doubleToRawLongBits),
          s"$mode ${r.poly_id}")
      }
      for ((shape, df) <- Seq("two-field" -> base, "three-field" -> wide))
        storedFrames(df, s"decode_$shape") { frames =>
          for ((source, stored, arrayClass) <- frames) {
            val what = s"$mode, $shape points, $source"
            val got = withConf(conf)(decodeResults(stored, rebuilt = false))
            assert(got.values.map(_._1).toSet === Set(s"$mode:${arrayClass(mode)}"), what)
            for (r <- decodeRows)
              assert(got(r.poly_id)._2 === want(r.poly_id)._2, s"$what: ${r.poly_id}")
            val rebuilt = withConf(conf)(decodeResults(stored, rebuilt = true))
            assert(rebuilt.values.map(_._1).toSet === Set(s"$mode:GenericArrayData"), what)
            for (r <- decodeRows)
              assert(rebuilt(r.poly_id)._2 === want(r.poly_id)._2, s"$what, rebuilt: ${r.poly_id}")
          }
        }
    }
    base.unpersist()
  }

  test("a null point keeps the NaN sentinel and SQL null on stored and in-query rings (codegen and interpreted)") {
    // the `ell` fixture with its third point null, and a null point in a hole
    val ell = "array(named_struct('x', 0D, 'y', 0D), named_struct('x', 4D, 'y', 0D), " +
      "CAST(NULL AS struct<x: double, y: double>), named_struct('x', 1D, 'y', 1D), " +
      "named_struct('x', 1D, 'y', 4D), named_struct('x', 0D, 'y', 4D))"
    val sq = "array(named_struct('x', 0D, 'y', 0D), named_struct('x', 9D, 'y', 0D), " +
      "named_struct('x', 9D, 'y', 9D), named_struct('x', 0D, 'y', 9D))"
    val hole = "array(named_struct('x', 4D, 'y', 4D), CAST(NULL AS struct<x: double, y: double>), " +
      "named_struct('x', 5D, 'y', 5D))"
    val df = spark.range(2).selectExpr("CAST(id AS STRING) AS poly_id",
      s"IF(id = 0, $ell, $sq) AS exterior", s"IF(id = 0, array(), array($hole)) AS holes",
      "0.1D AS tolerance")
    storedFrames(df, "decode_null_point") { frames =>
      for ((mode, conf) <- modes;
           (source, stored, arrayClass) <- frames; rebuilt <- Seq(false, true)) {
        val what = s"$mode, $source, ${if (rebuilt) "in-query" else "stored"}"
        val got = withConf(conf)(decodeResults(stored, rebuilt))
        val nan = java.lang.Double.doubleToRawLongBits(Double.NaN)
        for (id <- Seq("0", "1")) {
          val (cls, values) = got(id)
          assert(cls === s"$mode:${if (rebuilt) "GenericArrayData" else arrayClass(mode)}", what)
          assert(values.head === Seq(nan, nan, nan), s"$what: polylabel of $id")
          assert(values.tail.forall(_ == null), s"$what: $id gave $values")
        }
      }
    }
  }
}
