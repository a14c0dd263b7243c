package layerbench

import graft.Pipeline
import graft.geom.{Polylabel, PolygonG}
import graft.operators.Tiling
import graft.sources.{GeoTables, IcebergLite, ImageRow, Images}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** `Pipeline.runImagePipeline` into a fresh table directory each job:
  * decode -> tile -> re-encode -> label footprints -> cell -> broadcast
  * PIP -> partitioned parquet + lineage + manifest. The entry call
  * synthesises its own images and polygons from closed forms (it takes
  * only counts), so set-up only prepares the oracle's inputs and the seed
  * picks the oracle's samples.
  */
final class ImagePipeline(scale: Double = 1.0) extends Workload {
  val name = "image_pipeline"
  val nImages: Int = (160 * scale).toInt
  val nPolys = 500
  val level = 12
  val buckets = 16
  val inputRows: Long = nImages
  val warmupJobs = 2
  private var jobNo = 0

  private def table(c: Ctx, tag: String): Path = c.sub(s"tables/$tag")

  private def run(c: Ctx, dir: Path): Unit =
    Pipeline.runImagePipeline(c.spark, nImages, nPolys, dir.toString, level = level,
      buckets = buckets, bucketsPerWave = buckets)

  /** Digest of the committed table from its own lineage: total rows, XOR
    * and low-32 sum of the per-bucket order-free checksums.
    */
  private def lineageDigest(c: Ctx, dir: Path): Digest = {
    val l = IcebergLite.readLineage(c.spark, dir.toString)
      .agg(sum("rows"), bit_xor(col("checksum")), sum(col("checksum").bitwiseAND(lit(0xffffffffL))))
      .head()
    Digest(l.getLong(0), l.getLong(1), l.getLong(2))
  }

  // the latest job's table stays until the next job ends, so the oracle
  // checks the last window job's own output (a set-up without jobs, as
  // when only probing, checks a fresh run)
  private var latest, previous: Path = _

  // the oracle's inputs: source rows of the sampled images, and every
  // polygon of the entry call's polygon table for brute-force PIP
  private var sampleRows: IndexedSeq[ImageRow] = _
  private var polys: Array[JtsPolygon] = _

  def setUp(c: Ctx): Unit = {
    val ids = Oracles.sample((0L until nImages.toLong).toVector, 10, c.seed ^ 0x1eL)
    sampleRows = ids.map(Images.row)
    polys = GeoTables.syntheticPolygons(c.spark, nPolys).collect().map(JtsPolygon.of)
  }

  def job(c: Ctx): Digest = {
    jobNo += 1
    previous = latest
    latest = table(c, s"job-$jobNo")
    c.tracer.span("pipeline.runImagePipeline")(run(c, latest))
    lineageDigest(c, latest)
  }

  override def afterJob(c: Ctx): Unit = if (previous != null) {
    org.apache.commons.io.FileUtils.deleteQuietly(previous.toFile)
    previous = null
  }

  def check(c: Ctx): (Digest, Seq[Check]) = {
    val spark = c.spark
    val dir = if (latest != null) latest else { val d = table(c, "check"); run(c, d); d }
    val digest = lineageDigest(c, dir)

    // lineage rows and checksums equal a recount of the committed files
    val data = IcebergLite.readTable(spark, dir.toString)
    val recount = data.withColumn("h", xxhash64(data.columns.filter(_ != "bucket").map(col): _*))
      .groupBy(col("bucket").cast("int")).agg(count(lit(1)), bit_xor(col("h")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lineage = IcebergLite.readLineage(spark, dir.toString).collect()
      .map(r => r.getAs[Int]("bucket") -> (r.getAs[Long]("rows"), r.getAs[Long]("checksum"))).toMap
    val lineageOk = (0 until buckets).forall(b => lineage.get(b) == Some(recount.getOrElse(b, (0L, 0L))))
    val files = Files.walk(dir.resolve("data")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(p => dir.resolve("data").relativize(p).toString).toSet
    val manifest = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("manifest-"))
      .toSeq.map(p => new String(Files.readAllBytes(p), "UTF-8"))
    val manifestOk = manifest.size == 1 && files.nonEmpty && files.forall(f => manifest.head.contains("\"" + f + "\""))

    // sampled images: tiles decode to >= 40 dB PSNR with byte-equal captions
    val rows = sampleRows
    val tiles = Tiling.tile(spark.createDataset(rows)(Encoders.product[ImageRow])).collect()
    val tileBad = tiles.flatMap { t =>
      val src = rows.find(_.image_id == t.image_id).get
      val full = Images.decode(src.bytes)
      val ref = full.getSubimage(t.tile_ix * Tiling.TileSize, t.tile_iy * Tiling.TileSize,
        Tiling.TileSize, Tiling.TileSize)
      val psnr = Images.psnr(ref, Images.decode(t.tile_bytes))
      val capOk = java.util.Arrays.equals(t.caption.getBytes("UTF-8"), src.caption.getBytes("UTF-8"))
      if (psnr >= 40.0 && capOk) None else Some(s"${t.image_id}/${t.tile_ix},${t.tile_iy}: psnr $psnr caption $capOk")
    }
    val tileCount = rows.map(r => (r.w / Tiling.TileSize) * (r.h / Tiling.TileSize)).sum

    // tile cell and polygon assignment equals brute force from the label point
    val labelled = Tiling.assign(spark.createDataset(tiles.toSeq)(Encoders.product[Tiling.TileRow]), level)
      .collect().map(r => (r.getAs[String]("image_id"), r.getAs[Int]("tile_ix"), r.getAs[Int]("tile_iy")) ->
        (r.getAs[Double]("label_x"), r.getAs[Double]("label_y"), r.getAs[Long]("cell_id"))).toMap
    val committed = data.where(col("image_id").isin(rows.map(_.image_id): _*)).collect()
      .map(r => (r.getAs[String]("image_id"), r.getAs[Int]("tile_ix"), r.getAs[Int]("tile_iy")) ->
        (r.getAs[Long]("cell_id"), r.getAs[String]("poly_id")))
      .groupBy(_._1).map { case (key, v) => key -> v.map(_._2).toSet }
    val assignBad = tiles.flatMap { t =>
      val key = (t.image_id, t.tile_ix, t.tile_iy)
      val (x, y, cell) = labelled(key)
      val half = math.min(t.fmaxx - t.fminx, t.fmaxy - t.fminy) / 2.0
      val tol = 2.0 * half / 64.0
      val depth = Seq(x - t.fminx, t.fmaxx - x, y - t.fminy, t.fmaxy - y).min
      val want = polys.filter(_.contains(x, y)).map(p => (Oracles.cellOf(x, y, level), p.id)).toSet
      val got = committed.getOrElse(key, Set.empty)
      if (depth < half - tol - 1e-12) Some(s"$key: label depth $depth < $half - $tol")
      else if (cell != Oracles.cellOf(x, y, level)) Some(s"$key: cell $cell")
      else if (got != want) Some(s"$key: polygons $got vs $want")
      else None
    }
    (digest, Seq(
      Check("lineage_recount", lineageOk, s"${lineage.size} lineage rows"),
      Check("manifest_files", manifestOk, s"${files.size} files"),
      Check("tiles_psnr_caption", tileBad.isEmpty && tiles.length == tileCount, tileBad.take(2).mkString("; ")),
      Check("tile_assignment_brute_force", assignBad.isEmpty, assignBad.take(2).mkString("; "))))
  }

  def probes(c: Ctx, out: Layers): Unit = {
    val spark = c.spark
    val probeRows = (0L until 60L).map(Images.row)
    val decoded = probeRows.map(r => Images.decode(r.bytes))
    val decNs = Probes.medianOf(5) {
      val t0 = System.nanoTime(); probeRows.foreach(r => Images.decode(r.bytes)); System.nanoTime() - t0
    }
    out.put("sources.decode_ms_per_image", decNs / 1e6 / probeRows.size)
    val tileImgs = decoded.zip(probeRows).flatMap { case (img, r) =>
      for (ty <- 0 until r.h / Tiling.TileSize; tx <- 0 until r.w / Tiling.TileSize)
        yield (img.getSubimage(tx * Tiling.TileSize, ty * Tiling.TileSize, Tiling.TileSize, Tiling.TileSize), r.fmt)
    }.map { case (sub, fmt) =>
      val copy = new java.awt.image.BufferedImage(Tiling.TileSize, Tiling.TileSize,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = copy.createGraphics(); g.drawImage(sub, 0, 0, null); g.dispose()
      (copy, fmt)
    }
    val encNs = Probes.medianOf(5) {
      val t0 = System.nanoTime(); tileImgs.foreach { case (im, f) => Images.encode(im, f) }; System.nanoTime() - t0
    }
    out.put("sources.encode_ms_per_tile", encNs / 1e6 / tileImgs.size)

    // footprint rectangles of every tile of the workload's images
    val rects = (0L until nImages.toLong).flatMap { id =>
      val (x0, y0, x1, y1) = Images.footprint(id)
      val nx = Images.widthOf(id) / Tiling.TileSize
      val ny = Images.heightOf(id) / Tiling.TileSize
      val sx = (x1 - x0) / nx; val sy = (y1 - y0) / ny
      for (ty <- 0 until ny; tx <- 0 until nx) yield {
        val (a, b) = (x0 + tx * sx, y1 - (ty + 1) * sy)
        val (cx, cy) = (x0 + (tx + 1) * sx, y1 - ty * sy)
        (PolygonG(Seq((a, b), (cx, b), (cx, cy), (a, cy), (a, b))), math.min(cx - a, cy - b) / 64.0)
      }
    }
    rects.foreach { case (p, t) => Polylabel.polylabel(p, t) }
    val rectNs = Probes.medianOf(5) {
      val t0 = System.nanoTime(); rects.foreach { case (p, t) => Polylabel.polylabel(p, t) }; System.nanoTime() - t0
    }
    out.put("geom.rect_label_us_per_call", rectNs / 1e3 / rects.size)
    val labels = rects.map { case (p, t) => Polylabel.polylabel(p, t) }
    Probes.cellOf(labels.map(_.x).toArray, labels.map(_.y).toArray, level, out)

    // operator phases, each forced on its own over a cached input
    val images = Images.table(spark, nImages).persist(StorageLevel.MEMORY_ONLY)
    images.count()
    Digests.noopObserved(Tiling.tile(images).toDF, Seq("image_id", "tile_ix", "tile_iy"))
    val (_, tileS, _) = Probes.timed(c, "operators.tile")(
      Digests.noopObserved(Tiling.tile(images).toDF, Seq("image_id", "tile_ix", "tile_iy")))
    out.put("operators.tile_ms_per_image", tileS * 1e3 / nImages)
    val tiles = Tiling.tile(images).persist(StorageLevel.MEMORY_ONLY)
    tiles.count()
    Digests.noopObserved(Tiling.assign(tiles, level), Seq("image_id", "cell_id"))
    val (_, assignS, _) = Probes.timed(c, "operators.assign")(
      Digests.noopObserved(Tiling.assign(tiles, level), Seq("image_id", "cell_id")))
    out.put("operators.assign_s", assignS)
    val assigned = Tiling.assign(tiles, level).persist(StorageLevel.MEMORY_ONLY)
    assigned.count()
    val commitDir = table(c, "probe-commit")
    val (_, commitS, _) = Probes.timed(c, "sources.commit")(
      IcebergLite.run(assigned, Seq("image_id"), buckets, buckets, commitDir.toString)(identity))
    out.put("sources.commit_s", commitS)
    Seq(assigned, tiles.toDF, images.toDF).foreach(_.unpersist(blocking = true))
    org.apache.commons.io.FileUtils.deleteQuietly(commitDir.toFile)

    // one pipeline run: committed files, bytes, wave time, PIP strategy
    Probes.queries(c)
    val dir = table(c, "probe-pipeline")
    val (_, _, _) = Probes.timed(c, "pipeline.runImagePipeline")(run(c, dir))
    val cellJoins = Probes.joinsOn(Probes.nodes(Probes.queries(c)), "cell_id")
    out.put("operators.pip_broadcast", if (cellJoins.nonEmpty && cellJoins.forall(Probes.isBroadcast)) 1.0 else 0.0)
    val files = Files.walk(dir.resolve("data")).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    out.put("sources.files_committed", files.size.toDouble)
    out.put("sources.committed_bytes_per_row", files.map(Files.size).sum.toDouble / nImages)
    out.put("pipeline.wave_ms", IcebergLite.readLineage(spark, dir.toString).agg(max("wall_ms")).head().getLong(0).toDouble)
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
