package graft.gen

import graft.TestSpark
import graft.functions.GraftFunctions.pip
import graft.geom.{CellIndex, PolygonG}
import graft.operators.SpatialJoins
import graft.sources.{GeoTables, PointRow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Generated-input properties of the one PIP join plan: `pipJoin` on its
  * broadcast and shuffle paths, `pipJoinSalted`, and the SQL `pip` cross
  * join that `PipJoinRewrite` plans, each against the driver brute force
  * (`BruteForce.pipPairCounts`) compared as a multiset of (point_id,
  * poly_id). Seeds and counts are fixed; a failure names its seed.
  */
class PipJoinPropertiesSpec extends AnyFunSuite {
  import GeomGen._

  private lazy val spark = TestSpark.spark

  /** Polygon rows (poly_id, polygon) and probe points, joined at `level`
    * by the operators (the rule picks its own level).
    */
  final case class Scene(kind: String, polys: Seq[(String, PolygonG)], points: Seq[(Double, Double)], level: Int) {
    override def toString: String =
      s"$kind: ${polys.size} polygon rows, ${polys.map(_._1).distinct.size} ids, ${points.size} points, level $level"
  }

  private val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Each entry point under test, by name: the conf it runs under and the
    * join. `pipJoin` needs unique `poly_id`s, so it is left out for a
    * polygon side that repeats one.
    */
  private def entries(uniqueIds: Boolean): Seq[(String, Seq[(String, String)], (DataFrame, DataFrame, Int) => DataFrame)] = {
    val sql: (DataFrame, DataFrame, Int) => DataFrame =
      (pts, polys, _) => pts.crossJoin(polys).where(pip(col("x"), col("y"), col("exterior"), col("holes")))
    val pipJoins: Seq[(String, Seq[(String, String)], (DataFrame, DataFrame, Int) => DataFrame)] = Seq(
      ("pipJoin broadcast", Nil, (pts, polys, level) => SpatialJoins.pipJoin(pts, polys, level, Some(true))),
      ("pipJoin shuffle", noBroadcast, (pts, polys, level) => SpatialJoins.pipJoin(pts, polys, level, Some(false))))
    (if (uniqueIds) pipJoins else Nil) ++ Seq(
      ("pipJoinSalted", noBroadcast, (pts, polys, level) => SpatialJoins.pipJoinSalted(pts, polys, level, salt = 3)),
      ("SQL pip cross join", Nil, sql), ("SQL pip cross join, no broadcast", noBroadcast, sql))
  }

  /** The first entry point whose (point_id, poly_id) multiset differs from
    * the brute force's, with the pairs it lacks and those it adds.
    */
  private def mismatch(scene: Scene): Option[String] = {
    import spark.implicits._
    val pts = scene.points.zipWithIndex.map { case ((x, y), i) => PointRow(i.toLong, x, y) }.toDF()
    val polys = scene.polys.map { case (id, p) => GeoTables.toRow(id, p, 1.0) }.toDF()
    val want = BruteForce.pipPairCounts(pts, polys)
    if (want.isEmpty) return Some(s"no point of $scene is inside a polygon: the scene tests nothing")
    val uniqueIds = scene.polys.map(_._1).distinct.size == scene.polys.size
    entries(uniqueIds).iterator.flatMap { case (name, conf, join) =>
      val got = SparkModes.withConf(conf) {
        join(pts, polys, scene.level).select("point_id", "poly_id").collect()
          .groupBy(r => (r.getLong(0), r.getString(1))).map { case (k, v) => k -> v.length }
      }
      if (got == want) None
      else {
        val lacks = want.filter { case (k, n) => got.getOrElse(k, 0) < n }
        val adds = got.filter { case (k, n) => want.getOrElse(k, 0) < n }
        Some(s"$name on $scene: ${want.values.sum} pairs wanted, ${got.values.sum} got; " +
          s"lacks ${lacks.take(5)}, adds ${adds.take(5)}")
      }
    }.nextOption()
  }

  private def ids(polys: Seq[GenPoly]): Seq[(String, PolygonG)] =
    polys.zipWithIndex.map { case (gp, i) => s"p$i" -> gp.poly }

  /** `n` probes of each polygon, by [[GeomGen.point]]. */
  private def probes(polys: Seq[PolygonG], level: Int, n: Int): Gen[Seq[(Double, Double)]] =
    Gen.sequence[Seq[Seq[(Double, Double)]], Seq[(Double, Double)]](polys.map(p => Gen.listOfN(n, point(p, level))))
      .map(_.flatten)

  test("PIP joins == brute force as a multiset: clustered points") {
    val gen = for {
      k <- Gen.choose(2, 5)
      polys <- Gen.listOfN(k, withHolesInDomain)
      level <- Gen.oneOf(8, 10, 12)
      // one dense cluster around a probe of the first polygon: a hot cell
      (cx, cy) <- point(polys.head.poly, level)
      r <- Gen.choose(1e-4, 1e-2)
      cluster <- Gen.listOfN(300, for { dx <- Gen.choose(-r, r); dy <- Gen.choose(-r, r) } yield (cx + dx, cy + dy))
      rest <- probes(polys.map(_.poly), level, 20)
    } yield Scene("clustered points", ids(polys), cluster ++ rest, level)
    Props.check("clustered points", gen, seed = 0x9195EEDL, count = 2)(mismatch)
  }

  test("PIP joins == brute force as a multiset: polygons with holes") {
    val gen = for {
      k <- Gen.choose(3, 6)
      polys <- Gen.listOfN(k, withHolesInDomain)
      level <- Gen.oneOf(7, 9, 11)
      pts <- probes(polys.map(_.poly), level, 40)
    } yield Scene("polygons with holes", ids(polys), pts, level)
    Props.check("polygons with holes", gen, seed = 0x9195EE2L, count = 2)(mismatch)
  }

  test("PIP joins == brute force as a multiset: grid-aligned polygons, probes on cell edges") {
    // polygons on the level-6 grid, whose lines are grid lines at every
    // finer level, the operators' and the rule's included
    val grid = 6
    val onCellEdge = (p: PolygonG) => for {
      (x, y) <- point(p, grid)
      snap <- Gen.oneOf("x", "y", "both")
    } yield {
      val sx = gridX(CellIndex.ixOf(x, grid), grid)
      val sy = gridY(CellIndex.iyOf(y, grid), grid)
      snap match { case "x" => (sx, y); case "y" => (x, sy); case _ => (sx, sy) }
    }
    val gen = for {
      k <- Gen.choose(3, 6)
      polys <- Gen.listOfN(k, Gen.frequency(3 -> gridAligned(grid), 1 -> gridDiamond(grid)))
      level <- Gen.oneOf(grid, 9)
      any <- probes(polys.map(_.poly), grid, 20)
      edges <- Gen.sequence[Seq[Seq[(Double, Double)]], Seq[(Double, Double)]](
        polys.map(gp => Gen.listOfN(20, onCellEdge(gp.poly))))
    } yield Scene("grid-aligned, probes on cell edges", ids(polys), any ++ edges.flatten, level)
    Props.check("grid-aligned", gen, seed = 0x9195EE3L, count = 2)(mismatch)
  }

  test("PIP joins == brute force as a multiset: a duplicated polygon row, two ids sharing one geometry, one id on two") {
    val gen = for {
      k <- Gen.choose(2, 4)
      polys <- Gen.listOfN(k, withHolesInDomain)
      level <- Gen.oneOf(8, 10)
      pts <- probes(polys.map(_.poly), level, 40)
    } yield {
      val rows = ids(polys)
      // p0's geometry under a second id, then p1's row once more
      val shared = rows :+ ("twin" -> rows.head._2)
      Seq(Scene("two ids, one geometry", shared, pts, level),
        Scene("two ids, one geometry, a duplicated row", shared :+ rows(1), pts, level),
        Scene("one id on two geometries", rows :+ (rows.head._1 -> rows.last._2), pts, level))
    }
    Props.check("duplicates", gen, seed = 0x9195EE4L, count = 2)(_.iterator.flatMap(mismatch).nextOption())
  }

  test("the brute force itself: a duplicated polygon row counts once per copy") {
    import spark.implicits._
    val sq = PolygonG(Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)))
    val polys = Seq("a" -> sq, "a" -> sq, "b" -> sq).map { case (id, p) => GeoTables.toRow(id, p, 1.0) }.toDF()
    val pts = Seq(PointRow(0L, 0.5, 0.5), PointRow(1L, 2.0, 2.0)).toDF()
    assert(BruteForce.pipPairCounts(pts, polys) === Map((0L, "a") -> 2, (0L, "b") -> 1))
  }
}
