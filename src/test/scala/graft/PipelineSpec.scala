package graft

import graft.sources.IcebergLite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Spark work of one north-star pipeline run, pinned exactly. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a single-wave pipeline run is 4 Spark jobs; no polygon-table stage exceeds 2 tasks per core") {
    val sc = spark.sparkContext
    val tag = "graft.test.pipelineSpec"
    // (job tags, task count of each of its stages) per job of the run
    val jobs = new ConcurrentLinkedQueue[(String, Seq[Int])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.add((String.valueOf(e.properties.getProperty("spark.job.tags")),
            e.stageInfos.map(_.numTasks)))
    }
    val dir = Files.createTempDirectory("pipeline").toString
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try Pipeline.runImagePipeline(spark, 16, 500, dir, level = 12, buckets = 4, bucketsPerWave = 4)
    finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.size === 4, seen)
    // the polygon table is built by the two broadcasts (cover and geometry)
    val polygonStages = seen.filter(_._1.contains("broadcast exchange")).flatMap(_._2)
    assert(polygonStages === Seq(2 * sc.defaultParallelism, 2 * sc.defaultParallelism), seen)
    assert(IcebergLite.readLineage(spark, dir).count() === 4)
  }
}
