package graft.sources

import graft.TestSpark
import graft.sources.IcebergLite.LineageRow
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Test-only commit protocol: every write task fails in `commitTask` on
  * its first attempt, after its rows were computed and written, so the
  * retried attempt is the one that commits.
  */
class FailFirstCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    if (TaskContext.get().attemptNumber() == 0)
      throw new java.io.IOException("injected commitTask failure")
    super.commitTask(ctx)
  }
}

/** Checkpoint/lineage/resume semantics (north_rule: "resumable from
  * checkpoint with per-partition lineage + metrics"): kill a run mid-way,
  * resume, and verify exactly-once output equal to the direct computation.
  */
class IcebergLiteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("icelite").toString

  test("full run: output equals direct transform; lineage covers all buckets") {
    val dir = freshDir()
    val input = spark.range(10000).select(col("id"),
      (col("id") % 97).as("v"))
    val processed = IcebergLite.run(input, Seq("id"), buckets = 8,
      bucketsPerWave = 3, dir)(df => df.withColumn("v2", col("v") * 2))
    assert(processed.sorted === (0 until 8))

    val got = IcebergLite.readTable(spark, dir)
      .select("id", "v2").as[(Long, Long)].collect().sorted
    val want = (0L until 10000L).map(i => (i, (i % 97) * 2)).sorted
    assert(got.toSeq === want)
    // every committed row sits in the bucket bucketOf derives from its key
    // (the expression transforms use when they re-derive the bucket)
    val misplaced = IcebergLite.readTable(spark, dir)
      .where(col("bucket").cast("int") =!= IcebergLite.bucketOf(Seq("id"), 8))
      .count()
    assert(misplaced === 0L)

    val lineage = IcebergLite.readLineage(spark, dir)
    assert(lineage.select("bucket").distinct().count() === 8)
    assert(lineage.agg(sum("rows")).head().getLong(0) === 10000L)
    assert(Files.list(Paths.get(dir)).iterator().asScala
      .exists(_.toString.contains("manifest-")))
  }

  test("kill mid-run, resume: exactly-once, no duplicates, equal output") {
    val dir = freshDir()
    val input = spark.range(5000).select(col("id"), (col("id") % 13).as("v"))

    // first run dies after the first wave (simulated via an exception in
    // the transform once wave 1's buckets are done)
    var wavesSeen = 0
    val ex = intercept[RuntimeException] {
      IcebergLite.run(input, Seq("id"), buckets = 6, bucketsPerWave = 2, dir) { df =>
        wavesSeen += 1
        if (wavesSeen > 1) throw new RuntimeException("injected mid-run failure")
        df.withColumn("v2", col("v") + 1)
      }
    }
    assert(ex.getMessage.contains("injected"))
    val afterCrash = IcebergLite.completedBuckets(spark, dir)
    assert(afterCrash.size === 2, "exactly the first wave must be committed")

    // resume: only the remaining buckets are processed
    val resumed = IcebergLite.run(input, Seq("id"), buckets = 6,
      bucketsPerWave = 2, dir)(df => df.withColumn("v2", col("v") + 1))
    assert(resumed.size === 4)
    assert(resumed.toSet.intersect(afterCrash).isEmpty, "no bucket runs twice")

    val got = IcebergLite.readTable(spark, dir)
      .select("id", "v2").as[(Long, Long)].collect().sorted
    assert(got.toSeq === (0L until 5000L).map(i => (i, i % 13 + 1)).sorted)

    // second resume is a no-op
    val again = IcebergLite.run(input, Seq("id"), buckets = 6,
      bucketsPerWave = 2, dir)(df => df.withColumn("v2", col("v") + 1))
    assert(again.isEmpty)
  }

  test("transient TASK failure mid-wave: retried, run completes, lineage exactly-once") {
    // a first-attempt-throws task models the round-3 crash class (one
    // flaky task on a co-tenant interference window); GraftSession's
    // local[N,4] master gives the scheduler retries, so the wave must
    // complete and the lineage/output must be byte-identical to a clean
    // run — dynamic-partition overwrite keeps redone attempts exactly-once
    val dir = freshDir()
    val input = spark.range(4000).select(col("id"), (col("id") % 7).as("v"))
    val processed = IcebergLite.run(input, Seq("id"), buckets = 4,
      bucketsPerWave = 2, dir) { df =>
      val enc = org.apache.spark.sql.Encoders.product[(Long, Long, Int)]
      df.select(col("id"), col("v"), col("bucket")).as[(Long, Long, Int)](enc)
        .mapPartitions { it =>
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0)
            throw new RuntimeException("injected transient task failure")
          it
        }(enc).toDF("id", "v", "bucket")
        .withColumn("v2", col("v") * 3)
    }
    assert(processed.sorted === (0 until 4), "all buckets must complete despite task failures")
    val got = IcebergLite.readTable(spark, dir)
      .select("id", "v2").as[(Long, Long)].collect().sorted
    assert(got.toSeq === (0L until 4000L).map(i => (i, (i % 7) * 3)).sorted,
      "output must be exactly-once (no dup/lost rows from the retried task)")
    val lineage = IcebergLite.readLineage(spark, dir)
    assert(lineage.select("bucket").distinct().count() === 4)
    assert(lineage.agg(sum("rows")).head().getLong(0) === 4000L)
  }

  // ---- helpers for the commit-boundary, guard and exactly-once specs ----

  private def recount(dir: String): Map[Int, (Long, Long)] = {
    val data = IcebergLite.readTable(spark, dir)
    data.withColumn("h", xxhash64(data.columns.filter(_ != "bucket").map(col): _*))
      .groupBy(col("bucket").cast("int")).agg(count(lit(1)), bit_xor(col("h")))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  private def lineageOf(dir: String): Seq[(Int, Long, Long)] =
    IcebergLite.readLineage(spark, dir).select("bucket", "rows", "checksum")
      .as[(Int, Long, Long)].collect().toSeq.sorted

  private def rowsOf(dir: String): Seq[(Long, Long, Int)] =
    IcebergLite.readTable(spark, dir).select(col("id"), col("v2"), col("bucket").cast("int"))
      .as[(Long, Long, Int)].collect().toSeq.sorted

  private def filesUnder(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Every file under `dir` by relative path, with its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(dir)
    filesUnder(root).map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  private def copyDir(from: String): String = {
    val to = freshDir()
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    to
  }

  private def manifests(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-\\d+\\.json")).toSeq

  private def newestManifest(dir: String): String = {
    val p = manifests(dir).maxBy(_.getFileName.toString.stripPrefix("manifest-")
      .stripSuffix(".json").toLong)
    new String(Files.readAllBytes(p), "UTF-8")
  }

  private def jsonList(json: String, key: String): Seq[String] =
    ("\"" + key + "\": \\[([^\\]]*)\\]").r.findFirstMatchIn(json).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq

  private def parquetFiles(dir: String): Set[String] = {
    val data = Paths.get(dir, "data")
    filesUnder(data).filter(_.toString.endsWith(".parquet"))
      .map(p => data.relativize(p).toString).toSet
  }

  test("a committed table keeps its layout, files 0666 and directories 0777 under the umask") {
    val dir = freshDir()
    val input = spark.range(2000).select(col("id"), (col("id") % 17).as("v"))
    IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 4, dir)(_.withColumn("v2", col("v") + 1))
    val root = Paths.get(dir)
    val entries = Files.walk(root).iterator().asScala.filter(_ != root).toSeq
    // file names modulo the write's UUID and the snapshot id
    val layout = entries.map(p => root.relativize(p).toString
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("manifest-\\d+", "manifest-<id>")).sorted
    val perBucket = (0 until 4).flatMap(b => Seq(s"data/bucket=$b",
      s"data/bucket=$b/.part-00000-<uuid>.c000.snappy.parquet.crc",
      s"data/bucket=$b/part-00000-<uuid>.c000.snappy.parquet"))
    assert(layout === (Seq("data") ++ perBucket ++
      Seq("lineage", "lineage/part-<uuid>.parquet", "manifest-<id>.json")).sorted)
    val umask = org.apache.hadoop.fs.permission.FsPermission.getUMask(spark.sparkContext.hadoopConfiguration).toShort
    for (p <- entries) {
      val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
      val want = (if (Files.isDirectory(p)) 0x1ff else 0x1b6) & ~umask
      assert(mode === want, f"${root.relativize(p)}: 0$mode%o, want 0$want%o")
    }
  }

  test("run leaves the session's partitionOverwriteMode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val orig = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val before = spark.conf.get(key)
      val input = spark.range(200).select(col("id"), (col("id") % 5).as("v"))
      IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, freshDir())(identity)
      assert(spark.conf.get(key) === before)
      // a later plain partitioned overwrite in the same session replaces
      // the whole directory, not only the partitions it writes
      val out = Paths.get(freshDir(), "t").toString
      spark.range(10).select(col("id"), (col("id") % 2).as("p"))
        .write.mode("overwrite").partitionBy("p").parquet(out)
      spark.range(10).select(col("id"), lit(7L).as("p"))
        .write.mode("overwrite").partitionBy("p").parquet(out)
      assert(spark.read.parquet(out).select("p").distinct().as[Long].collect().toSeq === Seq(7L))
    } finally orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("crash at each commit boundary, resumed, equals an uninterrupted run") {
    val input = spark.range(3000).select(col("id"), (col("id") % 11).as("v"))
    val f = (df: org.apache.spark.sql.DataFrame) => df.withColumn("v2", col("v") * 5)
    def runOn(dir: String): Seq[Int] =
      IcebergLite.run(input, Seq("id"), buckets = 6, bucketsPerWave = 2, dir)(f)
    val full = freshDir()
    assert(runOn(full).sorted === (0 until 6))
    val lastWave = Seq(4, 5)
    val wantRows = rowsOf(full)
    val wantLineage = lineageOf(full)
    assert(wantLineage.map(_._1) === (0 until 6))

    // 1) data committed, no lineage rows and no manifest for the last wave
    val afterData = copyDir(full)
    IcebergLite.readLineage(spark, afterData)
      .where(col("bucket").isin(lastWave: _*)).select(input_file_name()).as[String]
      .collect().distinct.foreach { u =>
        val p = Paths.get(new java.net.URI(u))
        Files.delete(p)
        Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
      }
    manifests(afterData).foreach(Files.delete)
    // 2) lineage present, but the newest manifest is missing the last wave
    val afterLineage = copyDir(full)
    manifests(afterLineage).foreach { p =>
      val json = new String(Files.readAllBytes(p), "UTF-8")
      Files.writeString(p, json.replace("[0,1,2,3,4,5]", "[0,1,2,3]"))
    }
    assert(jsonList(newestManifest(afterLineage), "completed_buckets") === Seq("0", "1", "2", "3"))
    // 3) complete
    val complete = copyDir(full)

    for ((dir, redo) <- Seq(afterData -> lastWave, afterLineage -> Nil, complete -> Nil)) {
      assert(runOn(dir).sorted === redo, dir)
      assert(rowsOf(dir) === wantRows, dir)
      assert(lineageOf(dir) === wantLineage, dir)
      val manifest = newestManifest(dir)
      assert(jsonList(manifest, "completed_buckets") === (0 until 6).map(_.toString), dir)
      assert(jsonList(manifest, "files").toSet === parquetFiles(dir), dir)
    }
    assert(jsonList(newestManifest(full), "files").toSet === parquetFiles(full))
  }

  test("wave guard: a foreign or null bucket fails run and leaves every file as it was") {
    val dir = freshDir()
    val input = spark.range(1200).select(col("id"), (col("id") % 7).as("v"))
    val f = (df: org.apache.spark.sql.DataFrame) => df.withColumn("v2", col("v") + 2)
    IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, dir)(f)
    // drop the last wave's lineage so that wave is pending again
    val lineage = IcebergLite.readLineage(spark, dir)
    val keep = lineage.where(col("bucket") < 2).collect()
    val lineageDir = Paths.get(dir, "lineage")
    filesUnder(lineageDir).foreach(Files.delete)
    spark.createDataFrame(keep.toSeq.asJava, lineage.schema)
      .write.mode("overwrite").parquet(lineageDir.toString)
    val before = snapshot(dir)

    for ((what, bucket) <- Seq("foreign" -> lit(0), "null" -> lit(null).cast("int"))) {
      val ex = intercept[Exception] {
        IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, dir)(
          df => f(df).withColumn("bucket", bucket))
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("outside wave [2,3]")), what)
      assert(snapshot(dir) === before, s"$what bucket changed committed files")
    }
    // the untouched table still resumes to the clean result
    assert(IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, dir)(f) === Seq(2, 3))
    assert(recount(dir).values.map(_._1).sum === 1200L)
  }

  test("a wave whose transform emits no rows commits 0/0 lineage rows") {
    val dir = freshDir()
    val input = spark.range(800).select(col("id"), (col("id") % 3).as("v"))
    val processed = IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, dir)(
      df => df.where(col("bucket") < 2).withColumn("v2", col("v")))
    assert(processed.sorted === (0 until 4))
    val lineage = lineageOf(dir)
    assert(lineage.map(_._1) === (0 until 4))
    assert(lineage.filter(_._1 >= 2).forall(l => l._2 == 0L && l._3 == 0L))
    val counted = recount(dir)
    assert(lineage.forall { case (b, n, c) => counted.getOrElse(b, (0L, 0L)) == ((n, c)) })
  }

  test("transient failure inside the write task: lineage equals a recount of the committed files") {
    // first attempts fail twice over: in the map stage (the transform) and
    // in every write task's commitTask, after the task computed its rows;
    // the lineage metrics must count each committed row exactly once
    val key = "spark.sql.sources.commitProtocolClass"
    val orig = spark.conf.getOption(key)
    val dir = freshDir()
    val input = spark.range(4000).select(col("id"), (col("id") % 7).as("v"))
    spark.conf.set(key, classOf[FailFirstCommitProtocol].getName)
    val processed =
      try IcebergLite.run(input, Seq("id"), buckets = 4, bucketsPerWave = 2, dir) { df =>
        val enc = org.apache.spark.sql.Encoders.product[(Long, Long, Int)]
        df.select(col("id"), col("v"), col("bucket")).as[(Long, Long, Int)](enc)
          .mapPartitions { it =>
            val tc = TaskContext.get()
            if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() == 0)
              throw new RuntimeException("injected transient task failure")
            it
          }(enc).toDF("id", "v", "bucket")
          .withColumn("v2", col("v") * 3)
      } finally orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(processed.sorted === (0 until 4))
    val counted = recount(dir)
    assert(counted.values.map(_._1).sum === 4000L)
    assert(lineageOf(dir) === (0 until 4).map(b => (b, counted(b)._1, counted(b)._2)))
  }

  test("driver-side lineage append reads back like a Spark write of the same rows") {
    val rows = Seq(LineageRow(3, 17L, -5L, 12L, 1700000000000L), LineageRow(0, 0L, 0L, 12L, 1700000000000L),
      LineageRow(7, Long.MaxValue, Long.MinValue, 0L, 1L))
    val driver = freshDir()
    IcebergLite.appendLineage(driver, rows)
    val sparkDir = Paths.get(freshDir(), "lineage").toString
    rows.toDF().write.parquet(sparkDir)
    val fromDriver = spark.read.parquet(Paths.get(driver, "lineage").toString)
    val fromSpark = spark.read.parquet(sparkDir)
    assert(fromDriver.schema === fromSpark.schema)
    assert(fromDriver.columns.toSeq === Seq("bucket", "rows", "checksum", "wall_ms", "snapshot_id"))
    assert(fromDriver.as[LineageRow].collect().toSeq === rows)
    assert(fromSpark.as[LineageRow].collect().sortBy(_.bucket).toSeq === rows.sortBy(_.bucket))
    assert(IcebergLite.readLineage(spark, driver).schema === fromSpark.schema)
    // one visible part file, no temp file left behind
    val names = Files.list(Paths.get(driver, "lineage")).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.size === 1 && names.head.matches("part-.*\\.parquet"), names)
  }

  test("a crash before the lineage rename leaves a hidden file that nothing reads; the wave is redone") {
    val input = spark.range(2400).select(col("id"), (col("id") % 9).as("v"))
    val f = (df: org.apache.spark.sql.DataFrame) => df.withColumn("v2", col("v") - 4)
    def runOn(dir: String): Seq[Int] =
      IcebergLite.run(input, Seq("id"), buckets = 6, bucketsPerWave = 3, dir)(f)
    val full = freshDir()
    assert(runOn(full).sorted === (0 until 6))
    val wantRows = rowsOf(full)
    val wantLineage = lineageOf(full)

    /** A copy of `full` as a crash leaves it: the lineage file of `hidden`
      * still under the temp name it was written under, and the waves of
      * `neverRan` gone entirely.
      */
    def crashed(hidden: Seq[Int], neverRan: Seq[Int]): String = {
      val dir = copyDir(full)
      manifests(dir).foreach(Files.delete)
      def lineageFiles(wave: Seq[Int]) =
        IcebergLite.readLineage(spark, dir).where(col("bucket").isin(wave: _*))
          .select(input_file_name()).as[String].collect().distinct.map(u => Paths.get(new java.net.URI(u)))
      lineageFiles(neverRan).foreach(Files.delete)
      neverRan.foreach(b => org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(dir, "data", s"bucket=$b").toFile))
      lineageFiles(hidden).foreach(p => Files.move(p, p.resolveSibling("." + p.getFileName)))
      dir
    }
    // the last wave; the first wave, whose temp file is the only lineage file
    for ((dir, before) <- Seq(crashed(Seq(3, 4, 5), Nil) -> Set(0, 1, 2),
                              crashed(Seq(0, 1, 2), Seq(3, 4, 5)) -> Set.empty[Int])) {
      assert(Files.list(Paths.get(dir, "lineage")).iterator().asScala.exists(_.getFileName.toString.startsWith(".")))
      assert(IcebergLite.completedBuckets(spark, dir) === before, dir)
      assert(lineageOf(dir).map(_._1).toSet === before, dir)
      assert(runOn(dir).sorted === (0 until 6).filterNot(before), dir)
      assert(rowsOf(dir) === wantRows, dir)
      assert(lineageOf(dir) === wantLineage, dir)
      assert(jsonList(newestManifest(dir), "files").toSet === parquetFiles(dir), dir)
    }
  }
}
