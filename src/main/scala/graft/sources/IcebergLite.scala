package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Iceberg-SHAPED table + checkpointed pipeline (SURVEY.md §1.2, §2.2 E15).
  *
  * Honest scope note: no Iceberg runtime jar ships in this sandbox, so this
  * implements the Iceberg *concepts* the north_rule exercises — snapshot
  * manifests, per-partition lineage + metrics, metadata-driven resume — as
  * partitioned Parquet plus JSON manifests, NOT the Iceberg API.
  *
  * Layout:
  * {{{
  *   tableDir/data/bucket=<b>/part-*.parquet     committed output
  *   tableDir/lineage/part-*.parquet             (bucket, rows, checksum,
  *                                                wall_ms, snapshot_id)
  *   tableDir/manifest-<n>.json                  snapshot descriptor
  * }}}
  *
  * Resume contract: a bucket is COMPLETE iff it appears in lineage. Each
  * wave of buckets is written with dynamic partition overwrite, so a wave
  * that died mid-write is redone idempotently on the next run (its
  * partial/stale partitions are replaced, never duplicated).
  */
object IcebergLite {

  final case class LineageRow(bucket: Int, rows: Long, checksum: Long,
                              wall_ms: Long, snapshot_id: Long)

  def completedBuckets(spark: SparkSession, tableDir: String): Set[Int] = {
    val p = Paths.get(tableDir, "lineage")
    if (!Files.exists(p)) Set.empty
    else {
      import spark.implicits._
      spark.read.parquet(p.toString).select("bucket").distinct()
        .as[Int].collect().toSet
    }
  }

  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/data")

  def readLineage(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/lineage")

  /** Default bucket of a row: xxhash64 of `keyCols`, mod `buckets`, as
    * int. A transform that re-derives the bucket from the key instead of
    * carrying the column through must use exactly this expression, or
    * [[run]]'s re-pin filter silently drops its rows.
    */
  def bucketOf(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets)).cast("int")

  /** Run `transform` over `input`, bucketed by hash(keyCols) into
    * `buckets` partitions, processing `bucketsPerWave` buckets per Spark
    * job; skip buckets already recorded in lineage. Returns the buckets
    * processed in THIS run.
    *
    * The transform must be deterministic per row (it runs once per bucket
    * wave); the checksum is an order-independent XOR-fold of row hashes so
    * re-runs can be audited cheaply.
    *
    * `bucketExpr` overrides the default [[bucketOf]] assignment with a
    * caller-supplied expression (must be deterministic, int, in
    * [0, buckets)) — e.g. a modular key that an external auditor can
    * re-derive.
    *
    * `verifyWaveClosure` (default true) FAILS LOUDLY if the transform
    * emits rows whose bucket is null or outside the current wave — such
    * rows would otherwise dynamic-partition-overwrite committed buckets
    * (or be silently dropped by the re-pin filter below), and lineage
    * would never notice. The check costs one extra pass over the
    * transform output per wave; callers whose transforms provably
    * preserve the bucket column may disable it.
    *
    * SINGLE WRITER: at most one `run` may write a given `tableDir` at a
    * time. The manifest's completed-bucket list is maintained
    * arithmetically (lineage read once at start + the waves this run
    * committed), not re-read per wave, so a concurrent writer's waves
    * would be missing from this run's manifests — and two writers on the
    * same buckets would overwrite each other's partitions. Nothing
    * guards against it; the caller must serialize runs on one table.
    */
  def run(input: DataFrame, keyCols: Seq[String], buckets: Int,
          bucketsPerWave: Int, tableDir: String,
          bucketExpr: Option[org.apache.spark.sql.Column] = None,
          verifyWaveClosure: Boolean = true)
         (transform: DataFrame => DataFrame): Seq[Int] = {
    val spark = input.sparkSession
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val withBucket = input.withColumn("bucket", bucketExpr.getOrElse(bucketOf(keyCols, buckets)))

    val done = completedBuckets(spark, tableDir)
    val pending = (0 until buckets).filterNot(done)
    val snapshotId = System.currentTimeMillis()

    val processed = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (wave <- pending.grouped(bucketsPerWave)) {
      val t0 = System.nanoTime()
      val slice = withBucket.where(col("bucket").isin(wave: _*))
      // re-pin the output to THIS wave: a transform that emitted rows with
      // bucket values outside the wave would dynamic-partition-OVERWRITE
      // committed partitions of other (complete) buckets and silently
      // stale their lineage rows/checksums
      val raw = transform(slice)
      require(raw.columns.contains("bucket"),
        "transform must preserve the bucket column")
      if (verifyWaveClosure) {
        val foreign = raw
          .where(col("bucket").isNull || !col("bucket").isin(wave: _*))
          .limit(1).collect()
        require(foreign.isEmpty,
          s"transform emitted bucket ${foreign.headOption.map(_.getAs[Any]("bucket"))} " +
            s"outside wave ${wave.mkString("[", ",", "]")} — refusing to overwrite " +
            "committed partitions behind the lineage's back")
      }
      // re-pin as belt-and-braces even when verified (same plan shape)
      val out = raw.where(col("bucket").isin(wave: _*))
      // cluster by the partition column before the write: without it the
      // dynamic-partition writer fans out into (transform output
      // partitions) x (buckets/wave) files — measured 335 files for one
      // 2.8 MB bench wave (~8 KB each), paying per-file open cost three
      // times over (the write, the committed-metrics re-read below, and
      // every downstream read). The REBALANCE hint is the scale-safe form
      // of repartition(bucket): AQE still SPLITS an oversized bucket
      // across several writer tasks (target file size stays bounded at
      // TB-sized waves) while small buckets coalesce to ~one file each.
      // Row sets per bucket are unchanged, and the lineage metrics
      // (count + order-free bit_xor) are layout-independent, so committed
      // values are identical.
      out.hint("rebalance", col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$tableDir/data")
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // lineage computed from the COMMITTED files, not the in-flight plan;
      // EVERY bucket of the wave gets a row — a bucket whose transform
      // produced no output is still complete (otherwise it would be
      // re-processed on every resume)
      val metricsOpt =
        try {
          val committed = spark.read.parquet(s"$tableDir/data")
            .where(col("bucket").isin(wave: _*))
          Some(committed
            .withColumn("h", xxhash64(committed.columns.filter(_ != "bucket").map(col): _*))
            .groupBy(col("bucket").cast("int").as("bucket"))
            .agg(count(lit(1)).as("rows"),
              expr("bit_xor(h)").as("checksum")))
        } catch { // a wave can legitimately commit zero files overall
          case _: org.apache.spark.sql.AnalysisException => None
        }
      val base = wave.toDF("bucket")
      val allWave = metricsOpt.fold(
        base.withColumn("rows", lit(0L)).withColumn("checksum", lit(0L)))(
        m => base.join(m, Seq("bucket"), "left")
          .na.fill(Map("rows" -> 0L, "checksum" -> 0L)))
        .withColumn("wall_ms", lit(wallMs))
        .withColumn("snapshot_id", lit(snapshotId))
      allWave.write.mode(SaveMode.Append).parquet(s"$tableDir/lineage")
      processed ++= wave
      // completed = pre-run lineage + the waves THIS run just committed —
      // maintained arithmetically instead of re-reading the lineage
      // parquet through a Spark job per wave (one read of a tiny table,
      // but a whole job launch + schema inference each time; the manifest
      // JSON content is identical either way)
      writeManifest(tableDir, snapshotId, done ++ processed)
    }
    processed.toSeq
  }

  /** Snapshot manifest: committed files grouped by bucket + lineage
    * summary, newest manifest wins.
    */
  private def writeManifest(tableDir: String, snapshotId: Long,
                            completed: Set[Int]): Unit = {
    val dataDir = Paths.get(tableDir, "data")
    val files =
      if (!Files.exists(dataDir)) Seq.empty[String]
      else Files.walk(dataDir).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => dataDir.relativize(p).toString).toSeq.sorted
    val done = completed.toSeq.sorted
    val json =
      s"""{"snapshot_id": $snapshotId,
         |"completed_buckets": [${done.mkString(",")}],
         |"files": [${files.map(f => "\"" + f + "\"").mkString(",")}]}""".stripMargin
    Files.write(Paths.get(tableDir, s"manifest-$snapshotId.json"),
      json.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}
