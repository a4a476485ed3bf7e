package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One span of the trace tree: round → phase or query → Spark job → stage.
  * Times are System.nanoTime-based; listener event times (epoch ms) are
  * mapped onto the same clock. Job and stage spans carry task counters. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
                 var startNs: Long, var endNs: Long = -1L) {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  def durNs: Long = if (endNs < 0) 0L else endNs - startNs
}

/** Records spans in memory around the benchmark's calls into each layer,
  * and Spark job/stage spans through a listener the benchmark registers
  * itself. Each driver span sets a Spark job group, so every job a call
  * starts is parented to that call's span. While `enabled` is false the
  * tracer sets no job group and ignores listener events, so traced and
  * untraced iterations can be interleaved in one process. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false
  private val groupPrefix = "perfbench-span-"
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Span] // driver-thread stack
  private val jobs = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val stages = mutable.HashMap.empty[(Int, Int), Span]

  sc.addSparkListener(this)

  def spans: Seq[Span] = synchronized(all.toList)

  /** Id of the innermost open driver span, or -1. */
  def currentId: Int = open.lastOption.map(_.id).getOrElse(-1)

  private def newSpan(parent: Int, layer: String, name: String, startNs: Long): Span =
    synchronized {
      val s = new Span(all.size, parent, layer, name, startNs)
      all += s
      s
    }

  /** Run `body` inside a driver span of `layer`; a no-op wrapper when off. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val s = newSpan(currentId, layer, name, System.nanoTime())
    open += s
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(groupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.remove(open.size - 1)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val parent =
      if (group != null && group.startsWith(groupPrefix)) group.stripPrefix(groupPrefix).toInt
      else -1
    val s = newSpan(parent, "spark.job", s"job-${e.jobId}", fromEpochMs(e.time))
    synchronized {
      jobs(e.jobId) = s
      e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobs.get(e.jobId)).foreach(_.endNs = fromEpochMs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    synchronized(stageJob.get(info.stageId)).foreach { job =>
      val start = info.submissionTime.map(fromEpochMs).getOrElse(System.nanoTime())
      val s = newSpan(job.id, "spark.stage", s"stage-${info.stageId}.${info.attemptNumber()}", start)
      synchronized(stages((info.stageId, info.attemptNumber())) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stages.get((info.stageId, info.attemptNumber()))).foreach { s =>
      s.endNs = info.completionTime.map(fromEpochMs).getOrElse(System.nanoTime())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val targets = synchronized {
      stages.get((e.stageId, e.stageAttemptId)).toSeq ++ stageJob.get(e.stageId).toSeq
    }
    targets.foreach { s =>
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.bytesRead += m.inputMetrics.bytesRead
        s.recordsRead += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Direct children of every span, by parent id. */
  def children: Map[Int, Seq[Span]] = spans.filter(_.parent >= 0).groupBy(_.parent)

  /** Job spans anywhere below span `root`. */
  def jobsUnder(root: Span, kids: Map[Int, Seq[Span]]): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    def walk(s: Span): Unit = kids.getOrElse(s.id, Nil).foreach { c =>
      if (c.layer == "spark.job") out += c else walk(c)
    }
    walk(root)
    out.toSeq
  }

  /** Duration of `s` minus the part of its interval its children cover. */
  def selfNs(s: Span, kids: Map[Int, Seq[Span]]): Long =
    s.durNs - Tracer.coveredNs(s, kids.getOrElse(s.id, Nil))

  def toJson: String = {
    val sb = new StringBuilder("[")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""")
        .append(s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""")
        .append(s""""tasks":${s.tasks},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""")
        .append(s""""shuffle_write_bytes":${s.shuffleWriteBytes},"bytes_read":${s.bytesRead},""")
        .append(s""""records_read":${s.recordsRead},"bytes_written":${s.bytesWritten}}""")
    }
    sb.append("]\n").toString
  }
}

object Tracer {
  /** Length of the union of the children's intervals, clipped to `s`. */
  def coveredNs(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.filter(_.endNs >= 0)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
