package layerbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload is run with: the session, its seed and its own
  * scratch directory, and the tracer (off in end-to-end runs).
  */
final case class Ctx(spark: SparkSession, seed: Long, dir: Path, slots: Int, tracer: Tracer,
                     counters: Counters) {
  def sub(name: String): Path = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }
}

/** One oracle verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Per-layer metric sink for the traced run: name -> value. */
final class Layers {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def put(name: String, v: Double): Unit = values(name) = v
}

/** A benchmark workload: inputs made in set-up from the seed, one job =
  * one full evaluation of the workload's entry call, and an independent
  * oracle run once on a checked evaluation.
  */
trait Workload {
  def name: String
  /** Input rows one job completes (fixed; never depends on the seed). */
  def inputRows: Long
  /** Jobs run in set-up after the cold first one, before the window. */
  def warmupJobs: Int
  /** Generate and materialise the inputs. */
  def setUp(c: Ctx): Unit
  /** One full evaluation, forced; returns its order-free output digest. */
  def job(c: Ctx): Digest
  /** Work between jobs that is not part of a job (e.g. deleting a table). */
  def afterJob(c: Ctx): Unit = ()
  /** One evaluation whose output is kept and checked against an
    * independent oracle on a seeded sample; returns the checked digest.
    */
  def check(c: Ctx): (Digest, Seq[Check])
  /** Per-layer probes of the layers this workload exercises. */
  def probes(c: Ctx, out: Layers): Unit
}

object Workload {
  /** The workloads a run can name, and the probe-only ones (their layers
    * are probed in traced runs; they have no end-to-end run).
    */
  val timed = Seq("label_skewed", "image_pipeline")
  val probeOnly = Seq("join_clustered", "dedup_docs")

  def byName(n: String, scale: Double = 1.0): Workload = n match {
    case "label_skewed" => new LabelSkewed(scale)
    case "join_clustered" => new JoinClustered(scale)
    case "image_pipeline" => new ImagePipeline(scale)
    case "dedup_docs" => new DedupDocs(scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
