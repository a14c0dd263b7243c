package layerbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One span: a timed call into a layer, made from the benchmark's files. */
final case class Span(id: Int, name: String, parent: Int, root: Int,
                      startMs: Long, endMs: Long)

/** Spans around layer calls. Disabled, `span` is a plain call. Enabled,
  * it records name/start/end/parent in memory and tags every Spark job
  * submitted inside with the span id (a local property), so the listener
  * can group task counters by span.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int)] // (span id, root id)
  private var nextId = 1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val (parent, root) = stack.headOption.getOrElse((0, id))
      val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
      val prevRoot = sc.getLocalProperty(Tracer.RootKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.RootKey, root.toString)
      stack = (id, root) :: stack
      val t0 = System.currentTimeMillis()
      try f
      finally {
        spans += Span(id, name, parent, root, t0, System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
        sc.setLocalProperty(Tracer.RootKey, prevRoot)
      }
    }
}

object Tracer {
  val SpanKey = "layerbench.span"
  val RootKey = "layerbench.root"
}

final case class TaskRec(stage: Int, span: Int, root: Int, launchMs: Long, finishMs: Long,
                         cpuNs: Long, runMs: Long, gcMs: Long, shuffleWrite: Long,
                         spill: Long, failed: Boolean)
final case class JobRec(jobId: Int, span: Int, root: Int, startMs: Long, var endMs: Long)
final case class StageRec(stage: Int, span: Int, root: Int, submitMs: Long, var doneMs: Long)

/** Spark listener. Always: the bytes tasks write (shuffle write, spill,
  * committed output, task results) — `written_bytes_per_row`'s numerator.
  * With `detailed`: per-task, per-stage and per-job records keyed by the
  * span that submitted them.
  */
final class Counters(detailed: Boolean) extends SparkListener {
  val written = new AtomicLong
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]
  val jobs = new ConcurrentHashMap[Int, JobRec]
  val stages = new ConcurrentHashMap[Int, StageRec]
  private val stageTag = new ConcurrentHashMap[Int, (Int, Int)]

  private def tag(p: java.util.Properties): (Int, Int) =
    if (p == null) (0, 0)
    else (Option(p.getProperty(Tracer.SpanKey)).map(_.toInt).getOrElse(0),
      Option(p.getProperty(Tracer.RootKey)).map(_.toInt).getOrElse(0))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    val (s, r) = tag(e.properties)
    e.stageInfos.foreach(si => stageTag.put(si.stageId, (s, r)))
    jobs.put(e.jobId, JobRec(e.jobId, s, r, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detailed) {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (detailed) {
    val (s, r) = Option(stageTag.get(e.stageInfo.stageId)).getOrElse(tag(e.properties))
    stages.put(e.stageInfo.stageId, StageRec(e.stageInfo.stageId, s, r,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), -1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detailed) {
    Option(stages.get(e.stageInfo.stageId)).foreach { st =>
      st.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m != null) {
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten + spill +
        m.outputMetrics.bytesWritten + m.resultSize)
    }
    if (detailed) {
      val (s, r) = Option(stageTag.get(e.stageId)).getOrElse((0, 0))
      val i = e.taskInfo
      tasks.add(TaskRec(e.stageId, s, r, i.launchTime, i.finishTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        failed))
    }
  }

  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.sortBy(_.stage)

  def clear(): Unit = { tasks.clear(); jobs.clear(); stages.clear(); stageTag.clear() }
}
