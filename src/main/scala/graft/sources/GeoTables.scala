package graft.sources

import graft.geom._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Row types for the geometry tables (FIXTURES.md §3). */
final case class PtRow(x: Double, y: Double)
final case class PolyRow(poly_id: String, exterior: Seq[PtRow],
                         holes: Seq[Seq[PtRow]], tolerance: Double)
final case class PointRow(point_id: Long, x: Double, y: Double)

/** Geometry table sources: the reference fixtures as a `polygons` table,
  * plus deterministic synthetic polygons/points (seeded, no external data)
  * for join correctness oracles and scale benchmarks.
  */
object GeoTables {

  /** Kernel polygon -> PolyRow, closing vertices included. */
  def toRow(name: String, p: PolygonG, tol: Double): PolyRow = {
    def pts(r: Ring) = r.xs.indices.map(i => PtRow(r.xs(i), r.ys(i)))
    PolyRow(name, pts(p.exterior), p.holes.toSeq.map(pts), tol)
  }

  /** The nine reference fixtures as a DataFrame. */
  def fixtures(spark: SparkSession): Dataset[PolyRow] = {
    import spark.implicits._
    Fixtures.all.map { case (n, p, t) => toRow(n, p, t) }.toDS()
  }

  /** Deterministic star-convex polygon around (cx, cy): `n` vertices at
    * seeded radii — always simple, non-degenerate, label computable.
    */
  def syntheticPolygon(id: Long, cx: Double, cy: Double, radius: Double,
                       nVertices: Int): PolygonG = {
    val rng = new scala.util.Random(0x9E3779B97F4A7C15L ^ id)
    val pts = (0 until nVertices).map { i =>
      val ang = 2.0 * math.Pi * i / nVertices
      val r = radius * (0.4 + 0.6 * rng.nextDouble())
      (cx + r * math.cos(ang), cy + r * math.sin(ang))
    }
    PolygonG(pts)
  }

  /** The lon/lat window both synthetic tables scatter over. */
  private val Window = Rect2(-20.0, 30.0, 20.0, 60.0)

  /** Rows per slice of [[syntheticPolygons]] between its two per-core
    * bounds. At ~8-row slices a table task took ~5 ms, of which 1–2 ms ran
    * the generator (traced `image_pipeline`, 500 polygons, 4 cores), so
    * slices of a few rows are mostly scheduling.
    */
  private val RowsPerSlice = 64

  /** `n` synthetic polygons scattered deterministically (seed 42) over
    * [[Window]]; vertex counts cycle through small..large so the workload
    * has size skew like real map data.
    *
    * Slices: `ceil(n / RowsPerSlice)`, held between 2 and 8 per core
    * (`defaultParallelism`). Per-row cost varies ~100x (6..512 vertices),
    * and at n/cores rows per slice a straggler holding a few 512-vertex
    * polygons serializes the whole build (the 2,000-polygon table once
    * took the same 2.5 s at 8 and at 32 cores); two slices per core let
    * the scheduler re-balance that tail. Eight per core (the old count at
    * 8 cores and more) caps large tables: 12,000 polygons at local[8] in
    * 188 slices instead of 64 ran `graft.Bench`'s `polylabel_mixed`
    * slower. With the cap, that workload, `pip_join` and `knn_join` (2,000
    * polygons) ran no slower than at the old count in interleaved Bench
    * pairs at local[8] and local[32] (4-core machine). Each row depends
    * only on its id, so the rows do not depend on the slicing.
    */
  def syntheticPolygons(spark: SparkSession, n: Int): Dataset[PolyRow] = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val slices = math.min(8 * cores,
      math.max(2 * cores, math.ceil(n / RowsPerSlice.toDouble).toInt))
    val ids = spark.range(0L, n.toLong, 1L, math.min(n.max(1), slices))
    ids.mapPartitions { it =>
      it.map { boxed =>
        val id = boxed.longValue
        val rng = new scala.util.Random(42L ^ (id * 0x5DEECE66DL + 0xBL))
        val cx = Window.minX + rng.nextDouble() * Window.width
        val cy = Window.minY + rng.nextDouble() * Window.height
        val radius = 0.05 + rng.nextDouble() * 0.8
        val nv = Seq(6, 12, 24, 48, 96, 512)(rng.nextInt(6))
        val p = syntheticPolygon(id, cx, cy, radius, nv)
        toRow(s"poly-$id", p, 0.01)
      }
    }
  }

  /** `n` deterministic points (seed 7) over the same [[Window]] (join
    * probe side).
    * Generated ENTIRELY inside whole-stage codegen (range -> xxhash64 ->
    * arithmetic): the previous typed-map version allocated a
    * java.util.Random plus a case-class object per row, and at 10^8 rows
    * the GC threads compete with the worker threads — measured as a
    * systematic scaling-efficiency penalty at high parallelism (idle cores
    * absorb GC at low parallelism, none are spare at high).
    */
  def syntheticPoints(spark: SparkSession, n: Long): Dataset[PointRow] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val M = 1000000000L
    def unit(salt: Long) =
      pmod(xxhash64(col("id"), lit(7L), lit(salt)), lit(M)).cast("double") / M.toDouble
    // coalesce never fires (the pmod modulus is a non-zero literal) but
    // makes x/y PROVABLY non-nullable: pmod is declared nullable, so
    // every downstream join key derived from these columns dragged a
    // pushed-down isnotnull filter that RE-DERIVED the whole
    // xxhash64+cell_of chain per row below the projection (round-7 plan
    // audit: pip_join evaluated its point-side expressions twice per row
    // across 2M rows). Values are bit-identical.
    spark.range(n).select(
      col("id").as("point_id"),
      coalesce(lit(Window.minX) + unit(1L) * Window.width, lit(0.0)).as("x"),
      coalesce(lit(Window.minY) + unit(2L) * Window.height, lit(0.0)).as("y")
    ).as[PointRow]
  }

  /** GeoJSON reader (SURVEY.md E2): one `polygons`-shaped row per Polygon
    * feature of each FeatureCollection file under `path`. Distributed:
    * whole-file text scan + the geojson_feature_collection expression.
    */
  def readGeoJson(spark: SparkSession, path: String, tolerance: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.geojson_feature_collection
    graft.GraftSession.install(spark)
    spark.read.option("wholetext", "true").text(path)
      .select(posexplode(geojson_feature_collection(col("value"))).as(Seq("ix", "poly")))
      .select(concat(lit("gj-"), col("ix")).as("poly_id"),
        col("poly.exterior").as("exterior"), col("poly.holes").as("holes"),
        lit(tolerance).as("tolerance"))
  }

  /** Typed Dataset surface of the kernel (SURVEY.md E5): label every
    * polygon row with its pole of inaccessibility.
    */
  final case class LabelRow(poly_id: String, x: Double, y: Double, dist: Double)
  def labels(polys: Dataset[PolyRow]): Dataset[LabelRow] = {
    import polys.sparkSession.implicits._
    polys.map { p =>
      val r = graft.geom.Polylabel.polylabel(toPolygon(p), p.tolerance)
      LabelRow(p.poly_id, r.x, r.y, r.dist)
    }
  }

  /** PolyRow -> kernel polygon (driver-side tests / oracles). */
  def toPolygon(r: PolyRow): PolygonG = polygonOf(r.exterior, r.holes)

  /** Typed-row rings -> kernel polygon. Null holes mean no holes, as in
    * the polygon expressions' decode.
    */
  def polygonOf(exterior: Seq[PtRow], holes: Seq[Seq[PtRow]]): PolygonG = {
    def ring(pts: Seq[PtRow]) = Ring.of(pts.map(_.x).toArray, pts.map(_.y).toArray)
    new PolygonG(ring(exterior),
      if (holes == null) Array.empty[Ring] else holes.map(ring).toArray)
  }
}
