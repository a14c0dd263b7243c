package graft

import graft.operators.Tiling
import graft.sources.{GeoTables, IcebergLite, Images}
import org.apache.spark.sql.SparkSession

/** The north-star job (BASELINE.json): images -> decode -> tile ->
  * re-encode -> footprint label point (polylabel kernel) -> H3-style cell
  * -> polygon assignment, written as an Iceberg-shaped table with
  * per-partition lineage so any stage is resumable.
  *
  * Scale design: the only shuffle in the hot path is the cell equi-join of
  * tile label points against the (small, broadcast) polygon cover; decode/
  * tile/label is pure per-row compute that scales linearly with input
  * splits. Buckets = hash(image_id), so adding executors never re-shuffles
  * the raster side.
  */
object Pipeline {

  /** Run (or resume) the tiling+assignment pipeline over `n` synthetic
    * images against `nPolys` synthetic polygons. Returns the buckets
    * processed in this invocation.
    */
  def runImagePipeline(spark: SparkSession, n: Long, nPolys: Int,
                       tableDir: String, level: Int = 12,
                       buckets: Int = 32, bucketsPerWave: Int = 8): Seq[Int] = {
    val images = Images.table(spark, n).toDF
    val polys = GeoTables.syntheticPolygons(spark, nPolys).toDF
    IcebergLite.run(images, Seq("image_id"), buckets, bucketsPerWave, tableDir) { slice =>
      val tiles = Tiling.tile(slice.as[graft.sources.ImageRow](
        org.apache.spark.sql.Encoders.product[graft.sources.ImageRow]))
      // bucket re-derived from image_id with IcebergLite.run's own default
      // bucket expression — bit-identical values, so every row passes the
      // run's wave guard. The former `.join(slice.select("image_id",
      // "bucket"))` evaluated the images table a SECOND time per wave:
      // the table is an opaque typed MapPartitions, so column pruning
      // cannot reach inside it and the join leg re-rendered and
      // re-encoded every image just to read two columns (round-7 plan
      // audit; the optimization guide's opaque-operator pruning caveat).
      Tiling.assignToPolygons(tiles, polys, level)
        .withColumn("bucket", IcebergLite.bucketOf(Seq("image_id"), buckets))
    }
  }
}

/** spark-submit entry point:
  * {{{
  *   spark-submit --class graft.Main <jar> <tableDir> [nImages] [nPolys]
  * }}}
  * Re-running after a failure resumes from the last committed bucket wave
  * (lineage anti-join) — kill it mid-run and start it again to see.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val tableDir = args.headOption.getOrElse("/tmp/graft_pipeline")
    val n = args.lift(1).map(_.toLong).getOrElse(1000L)
    val nPolys = args.lift(2).map(_.toInt).getOrElse(200)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt, "graft-pipeline")
    val t0 = System.nanoTime()
    val processed = Pipeline.runImagePipeline(spark, n, nPolys, tableDir)
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = IcebergLite.readTable(spark, tableDir).count()
    println(f"[pipeline] processed ${processed.size} buckets in $secs%.1f s; table now $rows rows")
    spark.stop()
  }
}
