package graft.sources

import graft.TestSpark
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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

}
