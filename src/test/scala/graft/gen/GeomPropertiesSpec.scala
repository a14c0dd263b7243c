package graft.gen

import graft.TestSpark
import graft.functions.ExprHelpers
import graft.geom.{CellIndex, Geom, Polylabel}
import graft.sources.GeoTables
import org.apache.spark.sql.functions.expr
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Generated-input properties of the one geometry walk: the kernel's sign
  * as point-in-polygon, the cell cover, and `signed_dist`/`pip` through
  * Spark, each against a per-edge or brute-force reference. Seeds and
  * counts are fixed; a failure names its seed.
  */
class GeomPropertiesSpec extends AnyFunSuite {
  import GeomGen._

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  /** The first probe where the kernel's sign or distance differs from the
    * per-edge reference.
    */
  private def kernelMismatch(gp: GenPoly, pts: Seq[(Double, Double)]): Option[String] =
    pts.iterator.flatMap { case (x, y) =>
      val pip = ExprHelpers.pip(x, y, gp.poly)
      val want = Geom.pointInPolygon(x, y, gp.poly)
      val got = Polylabel.signedDistance(x, y, gp.poly)
      val oracle = BruteForce.signedDistance(x, y, gp.poly)
      if (pip != want || bits(got) != bits(oracle))
        Some(s"at ($x, $y) of $gp: pip $pip vs pointInPolygon $want, signedDistance $got vs per-edge $oracle")
      else None
    }.nextOption()

  private val anyPolygon: Gen[(GenPoly, Int)] = for {
    level <- Gen.choose(4, 14)
    gp <- Gen.frequency(5 -> withHoles, 2 -> withNaNVertex, 2 -> gridAligned(level), 1 -> gridDiamond(level))
  } yield (gp, level)

  test("kernel-sign pip == Geom.pointInPolygon, and signedDistance == per-edge, bit for bit") {
    val gen = for { (gp, level) <- anyPolygon; pts <- Gen.listOfN(48, point(gp.poly, level)) } yield (gp, pts)
    Props.check("kernel sign", gen, seed = 0x5EED1L, count = 250) { case (gp, pts) => kernelMismatch(gp, pts) }
  }

  test("kernel-sign pip == Geom.pointInPolygon on a mega-polygon") {
    Props.check("mega", withPoints(mega, 10, 3000), seed = 0x5EED2L, count = 1) { case (gp, pts) =>
      kernelMismatch(gp, pts)
    }
  }

  test("CellIndex.cover == brute-force cells on grid-aligned polygons; every inside probe's cell is covered") {
    val gen = for {
      level <- Gen.choose(4, 14)
      gp <- Gen.frequency(4 -> gridAligned(level), 1 -> gridDiamond(level))
      pts <- Gen.listOfN(64, point(gp.poly, level))
    } yield (gp, level, pts)
    Props.check("cover", gen, seed = 0x5EED3L, count = 250) { case (gp, level, pts) =>
      val cover = CellIndex.cover(gp.poly, level).toSet
      lazy val brute = BruteForce.gridCover(gp.poly, level)
      val uncovered = pts.find { case (x, y) =>
        Geom.pointInPolygon(x, y, gp.poly) && !cover.contains(CellIndex.cellOf(x, y, level))
      }
      if (uncovered.nonEmpty) Some(s"inside probe ${uncovered.get} of $gp not covered at level $level")
      else if (gp.kind.startsWith("grid-aligned") && cover != brute)
        Some(s"$gp at level $level: cover has ${(cover -- brute).size} cells brute force has not, " +
          s"lacks ${(brute -- cover).size}")
      else None
    }
  }

  test("signed_dist and pip == per-edge reference: codegen and interpreted, in-query, cached and parquet rings") {
    val spark = TestSpark.spark
    import spark.implicits._
    val polys =
      Props.sample(withHoles, 0x5EED4L, 6) ++ Props.sample(withNaNVertex, 0x5EED5L, 3) ++
        Props.sample(gridAligned(9), 0x5EED6L, 2) ++ Props.sample(gridDiamond(9), 0x5EED7L, 1) ++
        Props.sample(mega, 0x5EED8L, 1)
    val rows = polys.zipWithIndex.map { case (gp, i) => GeoTables.toRow(s"p$i", gp.poly, 1.0) }
    val probes = for {
      (row, i) <- rows.zipWithIndex
      // the polygon as the expressions decode it
      poly = GeoTables.toPolygon(row)
      ((x, y), j) <- Props.sample(point(poly, 9), 0x5EED9L + i, 16).zipWithIndex
    } yield ((row.poly_id, j, x, y), (BruteForce.signedDistance(x, y, poly), Geom.pointInPolygon(x, y, poly)))
    val want = probes.map { case ((id, j, _, _), (d, in)) => (id, j) -> (bits(d), in) }.toMap
    // each polygon once in its own frame, joined to its probes
    val df = rows.toDF().join(probes.map(_._1).toDF("poly_id", "probe", "px", "py"), "poly_id")
    def results(frame: org.apache.spark.sql.DataFrame, e: String, h: String) =
      frame.select($"poly_id", $"probe", expr(s"signed_dist(px, py, $e, $h)"), expr(s"pip(px, py, $e, $h)"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> (bits(r.getDouble(2)), r.getBoolean(3))).toMap
    SparkModes.storedFrames(df, "gen_signed_dist") { frames =>
      for ((mode, conf) <- SparkModes.modes; (source, stored, _) <- frames) {
        val got = SparkModes.withConf(conf) {
          Seq(source -> results(stored, "exterior", "holes")) ++ (if (source != "cached") Nil
          else Seq("in-query" -> results(stored, SparkModes.rebuiltExterior, SparkModes.rebuiltHoles)))
        }
        for ((name, g) <- got; (k, v) <- want)
          assert(g(k) === v, s"$mode, $name rings (sample seeds 0x5EED4-0x5EED9 + polygon index): " +
            s"${k._1} probe ${k._2}, ${polys(k._1.tail.toInt)}")
      }
    }
  }
}
