package graft.operators

import graft.functions.GraftFunctions._
import graft.geom.Polylabel
import graft.sources.{GeoTables, Images}
import java.awt.image.BufferedImage
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raster→vector tiling (SURVEY.md §2.2 E10) and vector→raster coverage
  * (E11). The decode→tile→re-encode step is per-row compute inside a task
  * (no shuffle); the tile→cell assignment is the label-point arithmetic +
  * cell encode, all expressible as columns once tiles exist.
  */
object Tiling {

  final val TileSize = 32

  final case class TileRow(image_id: String, tile_ix: Int, tile_iy: Int,
                           tile_w: Int, tile_h: Int, fmt: String,
                           tile_bytes: Array[Byte], caption: String,
                           fminx: Double, fminy: Double, fmaxx: Double, fmaxy: Double)

  /** Split every image into TileSize x TileSize pixel tiles, re-encoded in
    * the image's own format; each tile carries its geo footprint (the
    * image footprint linearly subdivided; tile row 0 is the TOP of the
    * image, hence the y flip).
    */
  def tile(images: Dataset[graft.sources.ImageRow]): Dataset[TileRow] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.flatMap { im =>
      val img = Images.decode(im.bytes)
      // footprint comes from the table's own columns (input_hint shape),
      // never from parsing the id — any images table works
      val (fx0, fy0, fx1, fy1) = (im.fminx, im.fminy, im.fmaxx, im.fmaxy)
      val nx = im.w / TileSize
      val ny = im.h / TileSize
      val stepX = (fx1 - fx0) / nx
      val stepY = (fy1 - fy0) / ny
      for (ty <- 0 until ny; tx <- 0 until nx) yield {
        val sub = img.getSubimage(tx * TileSize, ty * TileSize, TileSize, TileSize)
        // getSubimage shares the raster; copy so the encoder sees a clean image
        val copy = new BufferedImage(TileSize, TileSize, BufferedImage.TYPE_INT_RGB)
        val g = copy.createGraphics()
        g.drawImage(sub, 0, 0, null)
        g.dispose()
        TileRow(im.image_id, tx, ty, TileSize, TileSize, im.fmt,
          Images.encode(copy, im.fmt), im.caption,
          fx0 + tx * stepX, fy1 - (ty + 1) * stepY,
          fx0 + (tx + 1) * stepX, fy1 - ty * stepY)
      }
    }
  }

  /** Assign each tile to the cell containing its footprint's label point
    * (the north_star semantics): footprint rect -> polylabel -> cell_of.
    * The label point goes through the real kernel expression, not a
    * shortcut, so rectangle or arbitrary-polygon footprints behave the
    * same way.
    */
  def assign(tiles: Dataset[TileRow], level: Int): DataFrame = {
    val ring = array(
      struct(col("fminx").as("x"), col("fminy").as("y")),
      struct(col("fmaxx").as("x"), col("fminy").as("y")),
      struct(col("fmaxx").as("x"), col("fmaxy").as("y")),
      struct(col("fminx").as("x"), col("fmaxy").as("y")),
      struct(col("fminx").as("x"), col("fminy").as("y")))
    // tolerance relative to the footprint: exact for rects (the center seed
    // is already optimal and `best` only improves on STRICTLY greater
    // distance) while capping the quadtree work — a tiny absolute tolerance
    // would explode the queue along the rectangle's medial-axis ridge where
    // a 1-D set of points ties for optimal. A product, not `/ 64.0`: the
    // two round the same real number (64 is a power of two), but Spark's
    // Divide is always nullable, and a nullable label would bring back
    // the pushed-down `isnotnull` filter that re-runs the kernel
    val tol = least(col("fmaxx") - col("fminx"), col("fmaxy") - col("fminy")) * (1.0 / 64.0)
    tiles.toDF
      .withColumn("label", polylabel(ring,
        lit(null).cast(graft.functions.GeomEncoding.holesType), tol))
      .withColumn("cell_id", cell_of(col("label.x"), col("label.y"), lit(level)))
      .select(col("image_id"), col("tile_ix"), col("tile_iy"),
        col("label.x").as("label_x"), col("label.y").as("label_y"), col("cell_id"))
  }

  /** Full assignment including the polygon each tile label lands in
    * (PIP join against a polygons table).
    */
  def assignToPolygons(tiles: Dataset[TileRow], polygons: DataFrame,
                       level: Int): DataFrame = {
    val pts = assign(tiles, level)
      .withColumnRenamed("label_x", "x").withColumnRenamed("label_y", "y")
    SpatialJoins.pipJoin(pts, polygons, level)
      .select(col("image_id"), col("tile_ix"), col("tile_iy"), col("cell_id"), col("poly_id"))
  }

  /** Vector→raster (E11): for each cell of the polygon's cover at `level`,
    * the fraction of an SxS sample grid inside the polygon — a Raptor-style
    * rasterized mask, one row per (poly_id, cell_id).
    */
  final case class RastIn(poly_id: String, exterior: Seq[graft.sources.PtRow],
                          holes: Seq[Seq[graft.sources.PtRow]])

  def rasterize(polygons: DataFrame, level: Int, samples: Int = 8): DataFrame = {
    val spark = polygons.sparkSession
    import spark.implicits._
    polygons.select("poly_id", "exterior", "holes")
      .as[RastIn]
      .flatMap { case RastIn(id, ext, holes) =>
        val poly = GeoTables.polygonOf(ext, holes)
        graft.geom.CellIndex.cover(poly, level).map { cell =>
          val r = graft.geom.CellIndex.cellRect(cell)
          var hit = 0
          var i = 0
          while (i < samples) {
            var j = 0
            while (j < samples) {
              val px = r.minX + (i + 0.5) / samples * r.width
              val py = r.minY + (j + 0.5) / samples * r.height
              if (java.lang.Double.doubleToRawLongBits(Polylabel.signedDistance(px, py, poly)) >= 0L) hit += 1
              j += 1
            }
            i += 1
          }
          (id, cell, hit.toDouble / (samples * samples))
        }
      }.toDF("poly_id", "cell_id", "coverage")
  }

  /** Test-side reassembly: decode all tiles of an image back into a full
    * pixel field (driver-side; used by the PSNR invariant tests).
    */
  def reassemble(tiles: Seq[TileRow], w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    for (t <- tiles) {
      g.drawImage(Images.decode(t.tile_bytes), t.tile_ix * TileSize, t.tile_iy * TileSize, null)
    }
    g.dispose()
    out
  }
}
