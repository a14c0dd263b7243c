package layerbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.layerbench.Bus
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's client: one JVM, one local Spark session with `slots`
  * task slots, one job at a time (closed loop). Writes its raw samples as
  * one JSON file; `run.py` turns them into metrics.
  *
  * {{{
  *   layerbench.Main --workload W --seed N --seconds S --trace 0|1 --slots K
  *                   --work DIR --out FILE --t0-ms EPOCH_MS
  * }}}
  */
object Main {

  /** Input scale of the other workloads' set-ups in a traced run, whose
    * only use is probing their layers.
    */
  val ProbeScale = 0.25

  final case class WindowJob(wallS: Double, rows: Long, digest: String, error: String,
                          leaked: Int, root: Int)

  final case class WindowRec(jobs: Seq[WindowJob], windowS: Double, written: Long,
                             noiseStart: Map[String, Any], noiseEnd: Map[String, Any]) {
    def roots: Seq[Int] = jobs.map(_.root)
    def json: Map[String, Any] = Map(
      "jobs" -> jobs.map(j => Map("wall_s" -> j.wallS, "rows" -> j.rows, "digest" -> j.digest,
        "error" -> j.error, "leaked_rdds" -> j.leaked)),
      "window_s" -> windowS, "written_bytes" -> written,
      "noise_start" -> noiseStart, "noise_end" -> noiseEnd)
  }

  /** Host-level noise evidence: load average and CPU steal jiffies. */
  def noise(): Map[String, Any] = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
      catch { case _: Exception => "" }
    val load = read("/proc/loadavg").split(" ").take(3).flatMap(_.toDoubleOption)
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1)
      .flatMap(_.toLongOption)).getOrElse(Array.empty[Long])
    Map("loadavg" -> load.toSeq, "cpu_total_jiffies" -> cpu.sum,
      "cpu_steal_jiffies" -> (if (cpu.length > 7) cpu(7) else 0L),
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "epoch_ms" -> System.currentTimeMillis())
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = opts("t0-ms").toLong
    val trace = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val slots = opts("slots").toInt
    val work = Paths.get(opts("work"))
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      run(opts("workload"), opts("seed").toLong, seconds, trace, slots, work, t0Ms, result)
      result("ok") = true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("ok") = false
        result("error") = s"${e.getClass.getName}: ${e.getMessage}"
    }
    Files.write(Paths.get(opts("out")), Json.write(result).getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }

  private def run(wname: String, seed: Long, seconds: Double, trace: Boolean, slots: Int,
                  work: java.nio.file.Path, t0Ms: Long, result: mutable.Map[String, Any]): Unit = {
    val spark = graft.GraftSession.create(s"local[$slots]", slots, "layerbench")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    val sc = spark.sparkContext
    val counters = new Counters(detailed = trace)
    sc.addSparkListener(counters)
    if (trace) {
      Probes.executions = new Executions
      spark.listenerManager.register(Probes.executions)
    }
    val quiet = new Tracer(false, sc)
    val traced = new Tracer(trace, sc)
    val w = Workload.byName(wname)
    val ctx = Ctx(spark, seed, work.resolve(wname), slots, quiet, counters)
    Files.createDirectories(ctx.dir)

    val g0 = System.nanoTime()
    w.setUp(ctx)
    val inputGenS = (System.nanoTime() - g0) / 1e9
    val f0 = System.nanoTime()
    w.job(ctx)
    val firstJobS = (System.nanoTime() - f0) / 1e9
    w.afterJob(ctx)
    val u0 = System.nanoTime()
    (0 until w.warmupJobs).foreach { _ => w.job(ctx); w.afterJob(ctx) }
    val warmupS = (System.nanoTime() - u0) / 1e9
    val baseRdds = sc.getPersistentRDDs.size
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    val mem = ManagementFactory.getMemoryMXBean
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var forcedGcMs = 0.0

    /** Heap in use after a full GC. The second GC runs after the context
      * cleaner has dropped what the first one released (broadcast and
      * shuffle state of finished jobs), so the figure does not depend on
      * how far that asynchronous clean-up had got.
      */
    def heapAfterGc(): Double = {
      val g = System.nanoTime()
      System.gc()
      Thread.sleep(100)
      System.gc()
      forcedGcMs += (System.nanoTime() - g) / 1e6
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }

    /** Closed loop for `secs` seconds: run a job, record it, repeat. */
    def window(secs: Double, c: Ctx): WindowRec = {
      if (trace) Probes.queries(c)
      Bus.drain(sc)
      val n0 = noise()
      val written0 = counters.written.get()
      val jobs = mutable.ArrayBuffer.empty[WindowJob]
      val start = System.nanoTime()
      var lastSample = start
      while ((System.nanoTime() - start) / 1e9 < secs || jobs.size < 3) {
        val j0 = System.nanoTime()
        val (digest, error) =
          try (c.tracer.span("job")(w.job(c)).show, null)
          catch { case e: Exception => (null, s"${e.getClass.getName}: ${e.getMessage}") }
        val wall = (System.nanoTime() - j0) / 1e9
        w.afterJob(c)
        jobs += WindowJob(wall, w.inputRows, digest, error, sc.getPersistentRDDs.size - baseRdds,
          if (c.tracer.on) c.tracer.spans.last.id else 0)
        if (System.nanoTime() - lastSample >= secs * 2e8) { // five samples a window
          heapMb += heapAfterGc()
          lastSample = System.nanoTime()
        }
      }
      val windowS = (System.nanoTime() - start) / 1e9
      Bus.drain(sc)
      WindowRec(jobs.toSeq, windowS, counters.written.get() - written0, n0, noise())
    }

    val untraced = window(if (trace) seconds / 2 else seconds, ctx)
    val tracedCtx = ctx.copy(tracer = traced)
    val tracedWin = if (trace) {
      counters.clear()
      Some(window(seconds / 2, tracedCtx))
    } else None
    val planQs = if (trace) Probes.queries(ctx) else Nil
    heapMb += heapAfterGc()

    val k0 = System.nanoTime()
    val (ref, checks) = w.check(ctx)
    result ++= Map("workload" -> wname, "seed" -> seed, "slots" -> slots,
      "input_rows" -> w.inputRows, "setup_s" -> setupS, "session_s" -> sessionS,
      "input_gen_s" -> inputGenS, "warmup_s" -> warmupS, "check_s" -> (System.nanoTime() - k0) / 1e9,
      "first_job_s" -> firstJobS, "warmup_jobs" -> w.warmupJobs, "window" -> untraced.json,
      "heap_after_gc_mb" -> heapMb.toSeq, "forced_gc_ms" -> forcedGcMs,
      "reference_digest" -> ref.show,
      "checks" -> checks.map(k => Map("name" -> k.name, "ok" -> k.ok, "detail" -> k.detail)))

    tracedWin.foreach { tw =>
      result("traced_window") = tw.json
      val layers = new Layers
      val roots = tw.roots
      SparkLayer.report(counters, traced.spans.toSeq, roots, w.inputRows, slots, layers)
      layers.put("plans.planning_ms_per_job", Probes.planningMs(planQs) / roots.size)
      layers.put("operators.leaked_cached_rdds", tw.jobs.map(_.leaked).max.toDouble)
      layers.put("sources.input_gen_s", inputGenS)
      layers.put("spark.first_job_s", firstJobS)
      result("spark_job_s") = SparkLayer.jobDurations(counters, roots)
      // every layer is probed in every traced run: this workload's own
      // inputs first, then each other workload set up in its own directory
      // and checked against its oracle
      val pc = ctx.copy(tracer = traced)
      w.probes(pc, layers)
      val probeChecks = for (o <- Workload.timed ++ Workload.probeOnly if o != wname) yield {
        val ow = Workload.byName(o, ProbeScale)
        val oc = pc.copy(dir = work.resolve(s"probe-$o"))
        Files.createDirectories(oc.dir)
        ow.setUp(oc)
        val more = new Layers
        ow.probes(oc, more)
        for ((k, v) <- more.values if !layers.values.contains(k)) layers.put(k, v)
        ow.check(oc)._2.map(k => Map("name" -> s"$o.${k.name}", "ok" -> k.ok, "detail" -> k.detail))
      }
      result("layers") = layers.values.toMap
      result("probe_checks") = probeChecks.flatten
      Bus.drain(sc)
      SparkLayer.writeTrace(work.resolve("trace.jsonl"), traced.spans.toSeq, counters)
      result("trace_file") = work.resolve("trace.jsonl").toString
    }
    spark.stop()
  }
}
