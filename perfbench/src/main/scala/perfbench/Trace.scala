package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One span: a timed call into a layer, inside its parent span; the spans
  * of one query execution or season pass share a trace id. */
final case class Span(id: Int, name: String, start: Long, var end: Long,
                      parent: Int, trace: Int)

/** In-memory spans, written as JSON lines when the run ends. Spans are
  * recorded only while `enabled`: in a traced run, around the run and its
  * traced passes. */
final class Spans {
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traceId = 0

  /** Start a new trace (one per query execution or season pass). */
  def newTrace(): Unit = traceId += 1

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.length, name, System.nanoTime(), -1L,
      stack.headOption.map(_.id).getOrElse(-1), traceId)
    spans += s
    stack = s :: stack
    try body finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** Total seconds of the spans whose name satisfies `p`. */
  def seconds(p: String => Boolean): Double =
    spans.iterator.filter(s => p(s.name)).map(s => s.end - s.start).sum / 1e9

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"trace":${s.trace}}""")
    } finally w.close()
  }
}

/** Per-job-group aggregates of what Spark ran. */
final class GroupStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var output = 0L; var peakMem = 0L; var schedDelayMs = 0L
}

/** The traced run's one listener: attributes every job, stage and task to
  * the job group the benchmark thread set when the job was launched.
  * Jobs launched with no group are counted under "". */
final class JobListener extends SparkListener {
  private val stats = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageFirstTask = mutable.HashSet.empty[Int]

  private def of(group: String): GroupStats = stats.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    of(stageGroup.getOrElse(id, "")).stages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stageFirstTask.add(e.stageId))
      stageSubmit.get(e.stageId).foreach { t =>
        of(stageGroup.getOrElse(e.stageId, "")).schedDelayMs +=
          math.max(0L, e.taskInfo.launchTime - t)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (!e.taskInfo.successful) s.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  /** A snapshot of the aggregates by job group ("" = no group). */
  def groups: Map[String, GroupStats] = synchronized(stats.toMap)

  def reset(): Unit = synchronized {
    stats.clear(); stageGroup.clear(); stageSubmit.clear(); stageFirstTask.clear()
  }
}
