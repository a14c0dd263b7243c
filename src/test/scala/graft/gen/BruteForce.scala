package graft.gen

import graft.geom.{CellIndex, Geom, PolygonG}
import graft.sources.{GeoTables, PointRow, PolyRow}
import org.apache.spark.sql.DataFrame

/** Brute-force references the properties and join specs compare against:
  * per-edge geometry (`Geom.segmentDistance`, `Geom.pointInPolygon`) and
  * exhaustive scans, evaluated on the driver.
  */
object BruteForce {

  /** Signed distance edge by edge: the minimum `Geom.segmentDistance`,
    * negated unless `Geom.pointInPolygon`.
    */
  def signedDistance(px: Double, py: Double, poly: PolygonG): Double = {
    var mn = Double.PositiveInfinity
    for (ring <- poly.rings) {
      var i = 0
      while (i < ring.nEdges) {
        val d = Geom.segmentDistance(px, py, ring.xs(i), ring.ys(i), ring.xs(i + 1), ring.ys(i + 1))
        if (d < mn) mn = d
        i += 1
      }
    }
    if (Geom.pointInPolygon(px, py, poly)) mn else -mn
  }

  /** The cells at `level` that hold a point of the closed polygon, for a
    * polygon whose edges all run along cell edges. Such a polygon is a
    * union of closed cells, so a cell's half-open rectangle meets it iff
    * its lower-left corner does, iff one of the four cells around that
    * corner has its centre inside. Scans the bbox's cells plus a margin of
    * one.
    */
  def gridCover(poly: PolygonG, level: Int): Set[Long] = {
    val bb = Geom.boundingRect(poly.exterior)
    def centre(ix: Long, iy: Long) =
      ((GeomGen.gridX(ix, level) + GeomGen.gridX(ix + 1, level)) / 2.0,
        (GeomGen.gridY(iy, level) + GeomGen.gridY(iy + 1, level)) / 2.0)
    (for {
      ix <- CellIndex.ixOf(bb.minX, level) - 1 to CellIndex.ixOf(bb.maxX, level) + 1
      iy <- CellIndex.iyOf(bb.minY, level) - 1 to CellIndex.iyOf(bb.maxY, level) + 1
      if Seq((ix - 1, iy - 1), (ix, iy - 1), (ix - 1, iy), (ix, iy)).exists { case (cx, cy) =>
        val (x, y) = centre(cx, cy)
        Geom.pointInPolygon(x, y, poly)
      }
    } yield CellIndex.pack(ix, iy, level)).toSet
  }

  /** Every (point_id, poly_id) with the point inside the polygon, by
    * `Geom.pointInPolygon` over the collected rows of a `points` frame
    * (point_id, x, y) and a `polygons` frame (poly_id, exterior, holes,
    * tolerance).
    */
  def pipPairs(points: DataFrame, polygons: DataFrame): Set[(Long, String)] =
    pipPairCounts(points, polygons).keySet

  /** [[pipPairs]] as a multiset: how many times each (point_id, poly_id)
    * pair comes out of a `pip`-filtered cross join of the two frames, one
    * per (point row, polygon row) pair, so duplicated rows count once per
    * copy.
    */
  def pipPairCounts(points: DataFrame, polygons: DataFrame): Map[(Long, String), Int] = {
    import points.sparkSession.implicits._
    val polys = polygons.as[PolyRow].collect().map(p => p.poly_id -> GeoTables.toPolygon(p))
    (for {
      pt <- points.select("point_id", "x", "y").as[PointRow].collect()
      (id, poly) <- polys
      if Geom.pointInPolygon(pt.x, pt.y, poly)
    } yield (pt.point_id, id)).groupBy(identity).map { case (k, v) => k -> v.length }
  }
}
