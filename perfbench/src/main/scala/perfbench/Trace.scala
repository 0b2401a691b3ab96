package perfbench

import scala.collection.mutable

/** Task counters summed per job group. `extra` holds the listener
  * counters no metric is named after (GC, spill, shuffle read, bytes
  * read and written, failed tasks); they go to the trace file only. */
final class Counters {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  val extra: mutable.Map[String, Long] = mutable.LinkedHashMap.empty

  def addExtra(name: String, v: Long): Unit =
    extra(name) = extra.getOrElse(name, 0L) + v

  def add(o: Counters): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    o.extra.foreach { case (k, v) => addExtra(k, v) }
  }
}

/** One finished (or still running) Spark job, on the epoch-ms clock. */
final case class JobSpan(id: Int, group: String, start: Long, end: Long)

/** What one task reported, reduced to the counters the tally keeps. */
final case class TaskSample(cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    bytesRead: Long, bytesWritten: Long, failed: Boolean)

/** Sums stage and task metrics per job group. Pure bookkeeping: the
  * [[BenchListener]] feeds it Spark's events, the tests feed it a
  * synthetic sequence. Jobs without a group (none is set outside a
  * span) are tallied under the empty group. */
final class GroupTally {
  private val jobStarts = mutable.LinkedHashMap.empty[Int, (String, Long)]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Counters]

  def jobStart(jobId: Int, group: String, stageIds: Seq[Int], time: Long): Unit =
    synchronized {
      val g = Option(group).getOrElse("")
      jobStarts(jobId) = (g, time)
      // a stage shared by several jobs runs once, under the first
      stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    }

  def jobEnd(jobId: Int, time: Long): Unit = synchronized { jobEnds(jobId) = time }

  def taskEnd(stageId: Int, t: TaskSample): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(stageGroup.getOrElse(stageId, ""), new Counters)
    c.tasks += 1
    c.cpuNs += t.cpuNs
    c.shuffleWriteBytes += t.shuffleWriteBytes
    c.addExtra("task_run_ms", t.runMs)
    c.addExtra("gc_ms", t.gcMs)
    c.addExtra("shuffle_read_bytes", t.shuffleReadBytes)
    c.addExtra("spill_bytes", t.spillBytes)
    c.addExtra("bytes_read", t.bytesRead)
    c.addExtra("bytes_written", t.bytesWritten)
    c.addExtra("failed_tasks", if (t.failed) 1L else 0L)
  }

  /** Jobs seen so far; a job still running ends at `now`. */
  def jobs(now: Long): Seq[JobSpan] = synchronized {
    jobStarts.toSeq.map { case (id, (g, s)) =>
      JobSpan(id, g, s, jobEnds.getOrElse(id, now))
    }
  }

  def counters(group: String): Counters = synchronized {
    val out = new Counters
    byGroup.get(group).foreach(out.add)
    out
  }
}

/** One timed call (or a grouping around calls), on the epoch-ms clock.
  * `wallNs` is the same interval on the monotonic clock. */
final case class Span(id: Int, name: String, parent: Int, start: Long,
    end: Long, wallNs: Long) {
  def group: String = s"perfbench-$id"
}

/** The percentile rule, interval arithmetic, self time and driver idle
  * time — the numbers the trace derives from spans and jobs. */
object Stats {

  /** The ladder the tail percentile is chosen from. */
  val Ladder: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `p` of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p * s.length - 1e-9).toInt) - 1)
  }

  /** Samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** The highest ladder percentile with at least ten samples beyond it,
    * or None when even the median has fewer (n < 21). */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= 10).lastOption

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its child spans cover (ms). */
  def selfMs(span: Span, all: Seq[Span]): Long =
    (span.end - span.start) -
      covered(all.filter(_.parent == span.id).map(c => (c.start, c.end)),
        span.start, span.end)

  /** A span's duration with no Spark job running, whichever group the
    * job belongs to (ms). */
  def driverIdleMs(span: Span, jobs: Seq[JobSpan]): Long =
    (span.end - span.start) -
      covered(jobs.map(j => (j.start, j.end)), span.start, span.end)

  /** The span and all spans below it. */
  def subtree(span: Span, all: Seq[Span]): Seq[Span] = {
    val kids = all.filter(_.parent == span.id)
    span +: kids.flatMap(subtree(_, all))
  }
}

/** Keeps spans in memory while the run goes and sets one Spark job
  * group per span, so the listener can attribute every job (and the
  * jobs of threads the call starts, which inherit local properties)
  * to the innermost open span. With `sc == null` no group is set: the
  * untraced run still gets its timings, without touching Spark. */
final class SpanRecorder(sc: org.apache.spark.SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    val group = s"perfbench-$id"
    val prevGroup = if (sc == null) null else sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = if (sc == null) null else sc.getLocalProperty("spark.job.description")
    if (sc != null) sc.setJobGroup(group, name, interruptOnCancel = false)
    open.push(id)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def close(): Span = {
      val s = Span(id, name, parent, start, System.currentTimeMillis(),
        System.nanoTime() - t0)
      open.pop()
      if (sc != null) {
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
      done += s
      s
    }
    val out = try body catch { case e: Throwable => close(); throw e }
    (out, close())
  }
}

/** The one SparkListener of a traced run: forwards job and task events
  * into a [[GroupTally]]. */
final class BenchListener(tally: GroupTally)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    tally.jobStart(e.jobId, g, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = tally.jobEnd(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    val sample =
      if (m == null) TaskSample(0, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskSample(m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, failed)
    tally.taskEnd(e.stageId, sample)
  }
}
