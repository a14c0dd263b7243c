package graft.geom

import scala.collection.mutable

/** Hierarchical spatial cell index: an H3/S2-style addressing scheme
  * (mandated by BASELINE.json north_rule; no H3/S2 jar ships in this
  * sandbox, so the grid is a from-scratch quadkey).
  *
  * A cell id is an int64: bits 53..57 hold the level (0..26), bits
  * 0..2*level-1 hold the Morton (Z-order) interleave of the cell's
  * (ix, iy) grid coordinates at that level. The domain is the lon/lat
  * plane [-180,180] x [-90,90]. Key properties:
  *
  *  - `parent`/`childrenOf` are O(1) bit ops (shift by 2);
  *  - Morton order gives spatial locality, so range-partitioning by
  *    cell id co-locates neighbouring cells — the partitioning story
  *    for the PIP/kNN joins (SURVEY.md §2.2 E6-E9);
  *  - `kRing` (all cells within Chebyshev distance k) drives kNN
  *    candidate expansion;
  *  - `cover` (exact set of cells a polygon intersects) drives the
  *    PIP join prefilter. Cover is computed by supercover edge
  *    walking + scanline interior fill, O(edges * cellsPerEdge +
  *    rows), NOT O(cells * edges) — this is what keeps mega-polygon
  *    covers tractable at high levels.
  */
object CellIndex {

  final val MaxLevel = 26
  final val MinX = -180.0
  final val MinY = -90.0
  final val SpanX = 360.0
  final val SpanY = 180.0
  private final val LevelShift = 53
  private final val MortonMask = (1L << 53) - 1

  /** Interleave the low 26 bits of v into even bit positions. */
  private[geom] def spreadBits(v: Long): Long = {
    var x = v & 0x3ffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of spreadBits: collect even bit positions into the low bits. */
  private[geom] def compactBits(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x03ffffffL
    x
  }

  @inline def gridSize(level: Int): Long = 1L << level

  /** Grid x-coordinate of lon `x` at `level`, clamped into range. */
  @inline def ixOf(x: Double, level: Int): Long = {
    val n = gridSize(level)
    val i = math.floor((x - MinX) / SpanX * n.toDouble).toLong
    if (i < 0L) 0L else if (i > n - 1) n - 1 else i
  }

  @inline def iyOf(y: Double, level: Int): Long = {
    val n = gridSize(level)
    val i = math.floor((y - MinY) / SpanY * n.toDouble).toLong
    if (i < 0L) 0L else if (i > n - 1) n - 1 else i
  }

  def pack(ix: Long, iy: Long, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"level $level out of range")
    (level.toLong << LevelShift) | (spreadBits(ix) | (spreadBits(iy) << 1))
  }

  /** Cell containing point (x, y) at `level`. */
  def cellOf(x: Double, y: Double, level: Int): Long =
    pack(ixOf(x, level), iyOf(y, level), level)

  def levelOf(cell: Long): Int = ((cell >>> LevelShift) & 0x1fL).toInt
  def ixOfCell(cell: Long): Long = compactBits(cell & MortonMask)
  def iyOfCell(cell: Long): Long = compactBits((cell & MortonMask) >> 1)

  /** Parent cell one level up; identity at level 0. */
  def parent(cell: Long): Long = {
    val lvl = levelOf(cell)
    if (lvl == 0) cell
    else ((lvl - 1).toLong << LevelShift) | ((cell & MortonMask) >> 2)
  }

  /** The four children one level down. */
  def childrenOf(cell: Long): Array[Long] = {
    val lvl = levelOf(cell)
    require(lvl < MaxLevel, s"cell already at max level $MaxLevel")
    val base = ((lvl + 1).toLong << LevelShift) | ((cell & MortonMask) << 2)
    Array(base, base | 1L, base | 2L, base | 3L)
  }

  /** All cells within Chebyshev distance k (the filled (2k+1)^2 disk,
    * clamped at the grid boundary), sorted ascending. k=0 is the cell
    * itself. This is the kNN candidate-expansion neighbourhood.
    */
  def kRing(cell: Long, k: Int): Array[Long] = {
    require(k >= 0, "k must be >= 0")
    val lvl = levelOf(cell)
    val n = gridSize(lvl)
    val cx = ixOfCell(cell)
    val cy = iyOfCell(cell)
    val x0 = math.max(cx - k, 0L); val x1 = math.min(cx + k, n - 1)
    val y0 = math.max(cy - k, 0L); val y1 = math.min(cy + k, n - 1)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = pack(x, y, lvl); i += 1; y += 1 }
      x += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  /** Geographic bounds of a cell. */
  def cellRect(cell: Long): Rect2 = {
    val lvl = levelOf(cell)
    val n = gridSize(lvl).toDouble
    val ix = ixOfCell(cell).toDouble
    val iy = iyOfCell(cell).toDouble
    Rect2(MinX + ix / n * SpanX, MinY + iy / n * SpanY,
      MinX + (ix + 1) / n * SpanX, MinY + (iy + 1) / n * SpanY)
  }

  /** Exact set of level-`level` cells whose rectangle intersects the
    * polygon (boundary cells via supercover edge walk, interior cells via
    * scanline parity fill), sorted ascending. A cell untouched by any edge
    * is wholly inside or wholly outside, so testing one run representative
    * point settles the whole run — no per-cell edge scans.
    */
  def cover(poly: PolygonG, level: Int): Array[Long] = {
    val n = gridSize(level)
    val cw = SpanX / n.toDouble // cell width in x
    val ch = SpanY / n.toDouble
    // boundary cells per row: row iy -> sorted set of ix
    val rows = mutable.LongMap.empty[mutable.SortedSet[Long]]
    def mark(ix: Long, iy: Long): Unit = {
      val ixc = if (ix < 0) 0L else if (ix > n - 1) n - 1 else ix
      val iyc = if (iy < 0) 0L else if (iy > n - 1) n - 1 else iy
      rows.getOrElseUpdate(iyc, mutable.SortedSet.empty[Long]) += ixc
    }
    // supercover walk of one edge: marks every cell the segment touches
    // (plus corner-adjacent cells on exact corner crossings — superset is
    // fine, the fill pass is parity-driven from true geometry)
    def walk(x0: Double, y0: Double, x1: Double, y1: Double): Unit = {
      var ix = ixOf(x0, level); var iy = iyOf(y0, level)
      val ix1 = ixOf(x1, level); val iy1 = iyOf(y1, level)
      mark(ix, iy)
      val sx = if (x1 > x0) 1 else -1
      val sy = if (y1 > y0) 1 else -1
      val dx = math.abs(x1 - x0); val dy = math.abs(y1 - y0)
      var guard = 4 * (math.abs(ix1 - ix) + math.abs(iy1 - iy)) + 8
      while ((ix != ix1 || iy != iy1) && guard > 0) {
        guard -= 1
        // parameter t at which the segment leaves the current cell in x / y
        val bx = MinX + (if (sx > 0) (ix + 1).toDouble else ix.toDouble) * cw
        val by = MinY + (if (sy > 0) (iy + 1).toDouble else iy.toDouble) * ch
        val tx = if (dx == 0.0) Double.PositiveInfinity else (bx - x0) / (x1 - x0)
        val ty = if (dy == 0.0) Double.PositiveInfinity else (by - y0) / (y1 - y0)
        if (tx < ty) { if (ix == ix1) iy += sy else ix += sx }
        else if (ty < tx) { if (iy == iy1) ix += sx else iy += sy }
        else { // exact corner crossing: step both, mark the two side cells
          mark(ix + sx, iy); mark(ix, iy + sy)
          ix += sx; iy += sy
        }
        mark(ix, iy)
      }
    }
    for (r <- poly.rings) {
      var i = 0
      while (i < r.nEdges) {
        walk(r.xs(i), r.ys(i), r.xs(i + 1), r.ys(i + 1))
        i += 1
      }
    }
    // interior fill per row: for each gap between consecutive boundary
    // cells (and only inside the polygon bbox), test the gap's first cell
    // center; inside -> the whole run is inside
    val out = mutable.ArrayBuilder.make[Long]
    for ((iy, ixs) <- rows) {
      val arr = ixs.toArray
      var i = 0
      while (i < arr.length) {
        out += pack(arr(i), iy, level)
        if (i + 1 < arr.length && arr(i + 1) > arr(i) + 1) {
          val gx = arr(i) + 1
          val cx = MinX + (gx.toDouble + 0.5) * cw
          val cy = MinY + (iy.toDouble + 0.5) * ch
          if (java.lang.Double.doubleToRawLongBits(Polylabel.signedDistance(cx, cy, poly)) >= 0L) {
            var x = gx
            while (x < arr(i + 1)) { out += pack(x, iy, level); x += 1 }
          }
        }
        i += 1
      }
    }
    val res = out.result()
    java.util.Arrays.sort(res)
    res
  }

  /** Pick a cover level so the polygon's bbox spans roughly `targetCells`
    * cells — keeps covers small for small polygons and bounded for huge
    * ones (the join layer explodes covers; this caps the blow-up).
    */
  def coverLevelFor(poly: PolygonG, targetCells: Int = 16): Int = {
    val bb = Geom.boundingRect(poly.exterior)
    levelForSpan(math.max(bb.width / SpanX, bb.height / SpanY), targetCells)
  }

  /** The level at which a bbox spanning `frac` of the domain on its wider
    * axis (relative to SpanX/SpanY) covers ~`targetCells` cells:
    * floor(log2(sqrt(targetCells) / frac)), clamped to [0, MaxLevel].
    * A degenerate span (frac <= 0) gets MaxLevel.
    */
  def levelForSpan(frac: Double, targetCells: Int): Int = {
    if (frac <= 0.0) return MaxLevel
    val lvl = math.floor(math.log(math.sqrt(targetCells.toDouble) / frac) / math.log(2.0)).toInt
    math.max(0, math.min(MaxLevel, lvl))
  }
}
