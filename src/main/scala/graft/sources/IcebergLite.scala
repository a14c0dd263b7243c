package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  *                                                wall_ms, snapshot_id),
  *                                                one file per wave
  *   tableDir/manifest-<n>.json                  snapshot descriptor
  * }}}
  *
  * Resume contract: a bucket is COMPLETE iff it appears in lineage. Each
  * wave of buckets is written with dynamic partition overwrite, so a wave
  * that died mid-write, or after its write but before its lineage rows,
  * is redone idempotently on the next run (its partial/stale partitions
  * are replaced, never duplicated). A wave's lineage file is written under
  * a hidden `.`-prefixed name and then atomically renamed to its
  * `part-*.parquet` name, so a crash before the rename leaves no visible
  * lineage row: readers skip `.`-prefixed files, and the wave is redone.
  * These guarantees cover a crash of the process, not of the OS: no file
  * of the table is forced to disk.
  */
object IcebergLite {

  final case class LineageRow(bucket: Int, rows: Long, checksum: Long,
                              wall_ms: Long, snapshot_id: Long)

  def completedBuckets(spark: SparkSession, tableDir: String): Set[Int] = {
    if (!Files.exists(Paths.get(tableDir, "lineage"))) Set.empty
    else {
      import spark.implicits._
      readLineage(spark, tableDir).select("bucket").distinct()
        .as[Int].collect().toSet
    }
  }

  def readTable(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(s"$tableDir/data")

  /** The lineage rows, read with their fixed schema, so a lineage
    * directory that holds only a crashed wave's hidden temp file reads as
    * empty instead of failing schema inference.
    */
  def readLineage(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.schema(LineageSchema).parquet(s"$tableDir/lineage")

  private val LineageSchema: StructType = Encoders.product[LineageRow].schema

  /** [[LineageSchema]] as parquet types, converted as Spark's parquet
    * writer converts it.
    */
  private val LineageParquet = new SparkToParquetSchemaConverter().convert(LineageSchema)

  /** Appends one wave's lineage rows as one parquet file, written from the
    * driver with parquet's own writer (no Spark job): to a hidden
    * `.`-prefixed temp name first, then atomically renamed to a unique
    * `part-*.parquet` name, so after a process crash the rows are visible
    * all at once or not at all. Nothing is forced to disk (no more than the
    * data files or the manifest), so an OS crash or power loss may still
    * leave the renamed file empty or cut short.
    */
  private[sources] def appendLineage(tableDir: String, rows: Seq[LineageRow]): Unit = {
    val dir = Files.createDirectories(Paths.get(tableDir, "lineage"))
    val name = s"part-${UUID.randomUUID()}.parquet"
    val tmp = dir.resolve(s".$name")
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(new PlainParquetConfiguration()).withType(LineageParquet).build()
    val groups = new SimpleGroupFactory(LineageParquet)
    try rows.foreach { r =>
      writer.write(groups.newGroup().append("bucket", r.bucket).append("rows", r.rows)
        .append("checksum", r.checksum).append("wall_ms", r.wall_ms)
        .append("snapshot_id", r.snapshot_id))
    } finally writer.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Row count and XOR of row hashes for each bucket of one wave, as one
    * aggregate over `(bucket, hash)`. The buffer is the counts followed by
    * the checksums, indexed by the bucket's position in `wave` (ascending;
    * every input bucket is in it). `merge` adds counts and XORs
    * checksums, so the result depends on neither row order nor
    * partitioning, and a bucket with no rows reads 0/0.
    */
  private[sources] final class WaveLineage(wave: Array[Int])
      extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
    private val n = wave.length
    def zero: Array[Long] = new Array[Long](2 * n)
    def reduce(buf: Array[Long], in: (Int, Long)): Array[Long] = {
      val i = java.util.Arrays.binarySearch(wave, in._1)
      buf(i) += 1
      buf(n + i) ^= in._2
      buf
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) {
        a(i) += b(i)
        a(n + i) ^= b(n + i)
        i += 1
      }
      a
    }
    def finish(buf: Array[Long]): Array[Long] = buf
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** [[WaveLineage]] as a column over `bucket` and `hash`. */
  private[sources] def waveLineage(wave: Seq[Int], bucket: Column, hash: Column): Column =
    udaf(new WaveLineage(wave.toArray), Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))(bucket, hash)

  /** Default bucket of a row: xxhash64 of `keyCols`, mod `buckets`, as
    * int. A transform that re-derives the bucket from the key instead of
    * carrying the column through must use exactly this expression, or
    * [[run]]'s wave guard fails the write.
    */
  def bucketOf(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets)).cast("int")

  /** Run `transform` over `input`, bucketed by hash(keyCols) into
    * `buckets` partitions, processing `bucketsPerWave` buckets per Spark
    * write; skip buckets already recorded in lineage. Returns the buckets
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
    * Each wave is ONE data write, and two things ride inside it:
    *  - the wave guard, always on: a row whose bucket is null or outside
    *    the wave fails the write job through `raise_error` before
    *    anything commits. Such a row would otherwise dynamic-partition-
    *    overwrite a committed bucket behind its lineage row.
    *  - the lineage metrics: one `Observation` of ONE aggregate,
    *    [[WaveLineage]], that returns the row count and `bit_xor` of
    *    row hashes of every wave bucket, hashing the non-bucket columns
    *    in output order (the order the committed files read back in);
    *    with a `count`/`bit_xor` pair per bucket instead, the write's
    *    cost grew with the wave's bucket count. It sits AFTER the
    *    rebalance hint, so it runs in the write's result stage: Spark
    *    merges a result task's accumulators once per partition, so a
    *    retried or failed attempt is never counted twice, while a
    *    shuffle-map stage merges every successful attempt. Every bucket
    *    of the wave gets a lineage row, also one with no output rows
    *    (otherwise it would be re-processed on every resume).
    *
    * The lineage rows are then appended from the driver with no Spark
    * job ([[appendLineage]]: temp file, then atomic rename).
    *
    * The manifest is written once, after the last wave, and also when
    * nothing was pending, so a resume repairs a manifest that a crash left
    * behind the lineage.
    *
    * SINGLE WRITER: at most one `run` may write a given `tableDir` at a
    * time. The manifest's completed-bucket list is maintained
    * arithmetically (lineage read once at start + the waves this run
    * committed), not re-read, so a concurrent writer's waves would be
    * missing from this run's manifest — and two writers on the same
    * buckets would overwrite each other's partitions. Nothing guards
    * against it; the caller must serialize runs on one table.
    */
  def run(input: DataFrame, keyCols: Seq[String], buckets: Int,
          bucketsPerWave: Int, tableDir: String,
          bucketExpr: Option[Column] = None)
         (transform: DataFrame => DataFrame): Seq[Int] = {
    val spark = input.sparkSession
    val withBucket = input.withColumn("bucket", bucketExpr.getOrElse(bucketOf(keyCols, buckets)))

    val done = completedBuckets(spark, tableDir)
    val pending = (0 until buckets).filterNot(done)
    val snapshotId = System.currentTimeMillis()

    val processed = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (wave <- pending.grouped(bucketsPerWave)) {
      val t0 = System.nanoTime()
      val raw = transform(withBucket.where(col("bucket").isin(wave: _*)))
      require(raw.columns.contains("bucket"),
        "transform must preserve the bucket column")
      val waveText = wave.mkString("[", ",", "]")
      val guarded = raw.withColumn("bucket",
        when(col("bucket").isin(wave: _*), col("bucket")).otherwise(raise_error(concat(
          lit("transform emitted bucket "), coalesce(col("bucket").cast("string"), lit("null")),
          lit(s" outside wave $waveText — refusing to overwrite committed partitions " +
            "behind the lineage's back")))))
      val h = xxhash64(raw.columns.filter(_ != "bucket").map(col): _*)
      val lineage = Observation()
      // cluster by the partition column before the write: without it the
      // dynamic-partition writer fans out into (transform output
      // partitions) x (buckets/wave) files — measured 335 files for one
      // 2.8 MB bench wave (~8 KB each), paying per-file open cost on the
      // write and on every downstream read. The REBALANCE hint is the
      // scale-safe form of repartition(bucket): AQE still SPLITS an
      // oversized bucket across several writer tasks (target file size
      // stays bounded at TB-sized waves) while small buckets coalesce to
      // ~one file each. Row sets per bucket are unchanged, and the lineage
      // metrics (count + order-free bit_xor) are layout-independent.
      guarded.hint("rebalance", col("bucket"))
        .observe(lineage, waveLineage(wave, col("bucket"), h).as("lineage"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(s"$tableDir/data")
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val m = lineage.get("lineage").asInstanceOf[scala.collection.Seq[Long]]
      appendLineage(tableDir, wave.indices.map(i =>
        LineageRow(wave(i), m(i), m(wave.size + i), wallMs, snapshotId)))
      processed ++= wave
    }
    // completed = pre-run lineage + the waves THIS run just committed —
    // maintained arithmetically instead of re-reading the lineage parquet
    writeManifest(tableDir, snapshotId, done ++ processed)
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
