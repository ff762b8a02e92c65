package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a module's public entry point. Stage metrics of the
 * Spark jobs submitted while it was the innermost open span are folded in
 * by [[Tracer.fold]]. */
final class Span(val id: Int, var name: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var jobs = 0
  var tasks = 0L
  var busyMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  /** max ÷ median task time, at the stage where that ratio is worst */
  var taskSkew = 0.0
  def seconds: Double = (endNs - startNs) / 1e9
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6
}

private final case class StageRec(submittedMs: Long, tasks: Int, runMs: Long,
                                  shuffleRead: Long, shuffleWrite: Long,
                                  spill: Long, recordsRead: Long, output: Long,
                                  durations: Seq[Long])

/**
 * Span recorder plus the SparkListener that attributes stage metrics to
 * spans. Disabled, `span` is a plain call and no listener is registered.
 *
 * Spans are opened and closed on the driver thread that issues the calls;
 * each open span also becomes the thread's Spark job group, so an event
 * log maps every job to its span. Attribution itself is by time: a stage
 * belongs to the innermost span open when it was submitted. That also
 * covers jobs submitted from pool threads, which inherit a stale group.
 */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean)
    extends SparkListener {
  private val sc = spark.sparkContext
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]
  private val taskTimes =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]
  /** the loop's switch between traced and untraced ops */
  @volatile var active = true
  if (enabled) sc.addSparkListener(this)

  def on: Boolean = enabled && active

  /** run `body` with no spans, as for warm-up calls */
  def quiet[A](body: => A): A = {
    val was = active
    active = false
    try body finally active = was
  }

  def spans: Seq[Span] = all.toSeq

  def open(name: String): Span = {
    val s = new Span(all.length, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    all += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", s"$runId $name", interruptOnCancel = false)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.dropWhile(_ ne s).drop(1)
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"span-${p.id}", s"$runId ${p.name}", interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new ConcurrentLinkedQueue[java.lang.Long]).add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val durs = Option(taskTimes.remove((i.stageId, i.attemptNumber())))
      .map(_.asScala.map(_.longValue).toSeq).getOrElse(Nil)
    val m = i.taskMetrics
    stages.add(StageRec(i.submissionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, durs))
  }

  /** the innermost span that was open at `ms` */
  private def at(ms: Long): Option[Span] =
    all.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.id)

  /** Deliver every pending listener event, then fold the stage and job
   * metrics not yet folded into the spans. */
  def fold(): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerDrain(sc)
    Iterator.continually(jobStarts.poll()).takeWhile(_ != null)
      .foreach(t => at(t).foreach(_.jobs += 1))
    Iterator.continually(stages.poll()).takeWhile(_ != null).foreach { r =>
      at(r.submittedMs).foreach { s =>
        s.tasks += r.tasks
        s.busyMs += r.runMs
        s.shuffleReadBytes += r.shuffleRead
        s.shuffleWriteBytes += r.shuffleWrite
        s.spillBytes += r.spill
        s.recordsRead += r.recordsRead
        s.outputBytes += r.output
        if (r.durations.nonEmpty) {
          val sorted = r.durations.sorted
          val med = math.max(sorted(sorted.length / 2), 1L)
          s.taskSkew = math.max(s.taskSkew, sorted.last.toDouble / med)
        }
      }
    }
  }

  /** span duration minus the time covered by its child spans */
  def selfSeconds(s: Span): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum

  /** One JSON object per span: name, start, end, parent, run id, self
   * time and the folded stage metrics. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"run_id":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},""" +
      s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""s":${s.seconds},"self_s":${selfSeconds(s)},"jobs":${s.jobs},""" +
      s""""tasks":${s.tasks},"busy_s":${s.busyMs / 1e3},""" +
      s""""shuffle_read_bytes":${s.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${s.shuffleWriteBytes},"spill_bytes":${s.spillBytes},""" +
      s""""records_read":${s.recordsRead},"output_bytes":${s.outputBytes},""" +
      s""""task_skew":${s.taskSkew}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** the median; the mean of the middle pair for an even count */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** linear-interpolated quantile, q in [0, 1] */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile (a whole number) that leaves at least 10
   * samples above it, with its value; None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val p = math.min(99, math.floor(100.0 * (n - 10) / n).toInt)
      Some(p -> quantile(xs, p / 100.0))
    }
  }
}
