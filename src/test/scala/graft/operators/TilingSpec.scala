package graft.operators

import graft.TestSpark
import graft.geom.{CellIndex, Fixtures, Geom, Polylabel, PolygonG}
import graft.sources.{GeoTables, Images}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Image pipeline invariants (BASELINE.json input_hint): decode→tile→
  * re-encode must keep decoded pixels allclose (PSNR >= 40 dB lossy,
  * exact for png) and captions byte-equal per row; tile assignments must
  * equal the closed-form footprint arithmetic.
  */
class TilingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val N = 48
  private lazy val images = Images.table(spark, N).cache()
  private lazy val tiles = Tiling.tile(images).cache()

  test("images table is deterministic and schema-complete") {
    val rows = images.collect()
    assert(rows.length === N)
    assert(rows.map(_.image_id).distinct.length === N)
    assert(rows.forall(r => r.w % Tiling.TileSize == 0 && r.h % Tiling.TileSize == 0))
    assert(rows.forall(r => Set("png", "jpg").contains(r.fmt)))
    // regenerating yields byte-identical content
    val again = Images.table(spark, N).collect()
    assert(rows.zip(again).forall { case (a, b) => a.bytes.sameElements(b.bytes) })
  }

  test("planted near-duplicates share a phash") {
    val byId = images.collect().map(r => r.image_id -> r.phash).toMap
    // image 16 duplicates 15's pixels (mod-17 planting) when sizes agree;
    // at minimum, the phash function is deterministic per pixels:
    val img15 = Images.render(15, 64, 64)
    assert(Images.phash(img15) === Images.phash(Images.render(15, 64, 64)))
    assert(byId.size === N)
  }

  test("decode -> tile -> re-encode: PSNR >= 40 dB (jpg), exact (png); captions byte-equal") {
    val byImage = tiles.collect().groupBy(_.image_id)
    for (im <- images.collect()) {
      val ts = byImage(im.image_id)
      assert(ts.length === (im.w / Tiling.TileSize) * (im.h / Tiling.TileSize))
      assert(ts.forall(_.caption == im.caption), "caption must survive byte-exact")
      val original = Images.decode(im.bytes)
      val rebuilt = Tiling.reassemble(ts.toSeq, im.w, im.h)
      val p = Images.psnr(original, rebuilt)
      if (im.fmt == "png") assert(p.isPosInfinity, s"${im.image_id}: png must be lossless")
      else assert(p >= 40.0, s"${im.image_id}: jpg PSNR $p < 40 dB")
    }
  }

  test("tile footprints tile the image footprint exactly") {
    for ((id, ts) <- tiles.collect().groupBy(_.image_id)) {
      val (fx0, fy0, fx1, fy1) = Images.footprint(id.stripPrefix("img-").toLong)
      assert(math.abs(ts.map(t => (t.fmaxx - t.fminx) * (t.fmaxy - t.fminy)).sum -
        (fx1 - fx0) * (fy1 - fy0)) < 1e-9)
      assert(ts.forall(t => t.fminx >= fx0 - 1e-9 && t.fmaxx <= fx1 + 1e-9 &&
        t.fminy >= fy0 - 1e-9 && t.fmaxy <= fy1 + 1e-9))
    }
  }

  test("assign: label point of a rect footprint is its center; cell matches CellIndex") {
    val got = Tiling.assign(tiles, level = 12).collect()
    assert(got.nonEmpty)
    val fpByKey = tiles.collect().map(t => (t.image_id, t.tile_ix, t.tile_iy) -> t).toMap
    for (r <- got) {
      val t = fpByKey((r.getString(0), r.getInt(1), r.getInt(2)))
      val cx = (t.fminx + t.fmaxx) / 2.0
      val cy = (t.fminy + t.fmaxy) / 2.0
      assert(math.abs(r.getDouble(3) - cx) < 1e-6, "label_x should be the rect center")
      assert(math.abs(r.getDouble(4) - cy) < 1e-6)
      assert(r.getLong(5) === CellIndex.cellOf(r.getDouble(3), r.getDouble(4), 12))
    }
  }

  test("assign labels all 1,430 tiles of the 160-image table bit for bit as Polylabel.polylabel") {
    // the pipeline's table; its tolerance is `* (1.0 / 64.0)`, which must
    // round exactly as `/ 64.0`
    val tiles160 = Tiling.tile(Images.table(spark, 160))
    val byKey = tiles160.collect().map(t => (t.image_id, t.tile_ix, t.tile_iy) -> t).toMap
    assert(byKey.size === 1430)
    val got = Tiling.assign(tiles160, level = 12).collect()
    assert(got.length === 1430)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    for (r <- got) {
      val t = byKey((r.getString(0), r.getInt(1), r.getInt(2)))
      val rect = PolygonG(Seq((t.fminx, t.fminy), (t.fmaxx, t.fminy), (t.fmaxx, t.fmaxy),
        (t.fminx, t.fmaxy), (t.fminx, t.fminy)))
      val want = Polylabel.polylabel(rect, math.min(t.fmaxx - t.fminx, t.fmaxy - t.fminy) / 64.0)
      assert((bits(r.getDouble(3)), bits(r.getDouble(4))) === ((bits(want.x), bits(want.y))),
        s"${t.image_id} tile (${t.tile_ix}, ${t.tile_iy})")
      assert(r.getLong(5) === CellIndex.cellOf(want.x, want.y, 12))
    }
  }

  test("assignToPolygons matches brute-force membership of tile label points") {
    val polys = GeoTables.syntheticPolygons(spark, 30).toDF.cache()
    val got = Tiling.assignToPolygons(tiles, polys, level = 9)
      .select("image_id", "tile_ix", "tile_iy", "poly_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val polyMap = polys.as[graft.sources.PolyRow].collect()
      .map(p => p.poly_id -> GeoTables.toPolygon(p)).toMap
    val brute = for {
      t <- tiles.collect()
      cx = (t.fminx + t.fmaxx) / 2.0
      cy = (t.fminy + t.fmaxy) / 2.0
      (pid, poly) <- polyMap
      if Geom.pointInPolygon(cx, cy, poly)
    } yield (t.image_id, t.tile_ix, t.tile_iy, pid)
    assert(got === brute.toSet)
    assert(got.nonEmpty)
  }

  test("rasterize: coverage fractions match direct sampling for the L fixture") {
    val polys = GeoTables.fixtures(spark).toDF.where($"poly_id" === "ell")
    val lvl = CellIndex.coverLevelFor(Fixtures.ell, 64)
    val got = Tiling.rasterize(polys, lvl, samples = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.nonEmpty)
    for (cell <- CellIndex.cover(Fixtures.ell, lvl)) {
      val r = CellIndex.cellRect(cell)
      var hit = 0
      for (i <- 0 until 8; j <- 0 until 8) {
        val px = r.minX + (i + 0.5) / 8 * r.width
        val py = r.minY + (j + 0.5) / 8 * r.height
        if (Geom.pointInPolygon(px, py, Fixtures.ell)) hit += 1
      }
      assert(math.abs(got(("ell", cell)) - hit / 64.0) < 1e-12)
    }
    // total coverage-weighted area approximates the polygon area (7.0)
    val area = got.map { case ((_, cell), frac) =>
      val r = CellIndex.cellRect(cell); frac * r.width * r.height
    }.sum
    assert(math.abs(area - Geom.signedArea(Fixtures.ell)) / 7.0 < 0.05)
  }
}
