package layerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The `spark.*` per-layer metrics of a traced window, from the listener's
  * records grouped by the window's root spans (one per workload job).
  */
object SparkLayer {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def report(c: Counters, spans: Seq[Span], roots: Seq[Int], inputRows: Long,
             slots: Int, out: Layers): Unit = {
    val rootSet = roots.toSet
    val tasks = c.taskList.filter(t => rootSet(t.root))
    val stages = c.stageList.filter(s => rootSet(s.root))
    val jobs = c.jobList.filter(j => rootSet(j.root))
    val rootSpans = spans.filter(s => rootSet(s.id))
    val n = math.max(1, roots.size).toDouble
    val wallMs = rootSpans.map(s => s.endMs - s.startMs).sum.toDouble
    out.put("spark.jobs", jobs.size / n)
    out.put("spark.stages", stages.size / n)
    out.put("spark.tasks", tasks.size / n)
    val gaps = rootSpans.map { s =>
      val iv = tasks.filter(_.root == s.id)
        .map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs)))
      (s.endMs - s.startMs - covered(iv)) / 1e3
    }
    out.put("spark.driver_gap_s", gaps.sum / n)
    out.put("spark.failed_tasks", tasks.count(_.failed).toDouble)
    out.put("spark.shuffle_write_bytes_per_row", tasks.map(_.shuffleWrite).sum.toDouble / (inputRows * n))
    out.put("spark.spill_bytes", tasks.map(_.spill).sum / n)
    val runMs = tasks.map(_.runMs).sum.toDouble
    out.put("spark.gc_share", if (runMs > 0) tasks.map(_.gcMs).sum / runMs else 0.0)
    out.put("spark.cpu_busy_share", tasks.map(_.cpuNs).sum / 1e6 / (wallMs * slots))
    // per workload job: max / median task time in its longest stage
    val skews = roots.flatMap { r =>
      val st = stages.filter(s => s.root == r && s.doneMs >= s.submitMs)
      if (st.isEmpty) None
      else {
        val longest = st.maxBy(s => s.doneMs - s.submitMs)
        val ds = tasks.filter(_.stage == longest.stage).map(t => (t.finishMs - t.launchMs).toDouble)
        val m = median(ds)
        if (ds.isEmpty || m <= 0) None else Some(ds.max / m)
      }
    }
    out.put("spark.task_skew", median(skews))
  }

  /** Wall time of every Spark job of the window, seconds. */
  def jobDurations(c: Counters, roots: Seq[Int]): Seq[Double] = {
    val rootSet = roots.toSet
    c.jobList.filter(j => rootSet(j.root) && j.endMs >= j.startMs).map(j => (j.endMs - j.startMs) / 1e3)
  }

  /** Spans with the task counters grouped under each, one JSON per line. */
  def writeTrace(path: Path, spans: Seq[Span], c: Counters): Unit = {
    val bySpan = c.taskList.groupBy(_.span)
    val jobsBySpan = c.jobList.groupBy(_.span)
    val lines = spans.sortBy(_.id).map { s =>
      val ts = bySpan.getOrElse(s.id, Nil)
      Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "root" -> s.root,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "spark_jobs" -> jobsBySpan.getOrElse(s.id, Nil).size, "tasks" -> ts.size,
        "failed_tasks" -> ts.count(_.failed), "cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "run_ms" -> ts.map(_.runMs).sum, "gc_ms" -> ts.map(_.gcMs).sum,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum, "spill_bytes" -> ts.map(_.spill).sum,
        "task_offsets_ms" -> ts.map(t => Seq(t.launchMs - s.startMs, t.finishMs - t.launchMs, t.runMs, t.cpuNs / 1000000L))))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
