package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The command line: workload, seed, run length and tracing, plus the
  * flags run.py passes. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, result: String, traceOut: Option[String], startMs: Long,
    label: String, setupReps: Int, rounds: Option[Int], failCall: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("result"), m.get("trace-out"),
      m.get("start-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.getOrElse("label", "main"), m.get("setup-reps").map(_.toInt).getOrElse(3),
      m.get("rounds").map(_.toInt), m.get("fail"))
  }
}

/** A failed call or check: the run goes on to report, never to time. */
final class BenchFailure(msg: String) extends RuntimeException(msg)

/** One benchmark process: the session, the clock of the timed phase,
  * the operation counts, and (when traced) the listener and job groups.
  * Spans are recorded either way; only a traced run tags Spark jobs. */
final class Run(val spark: SparkSession, val args: Args) {
  val tally = new GroupTally
  val rec = new SpanRecorder(if (args.trace) spark.sparkContext else null)
  if (args.trace) spark.sparkContext.addSparkListener(new BenchListener(tally))

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Named values the workload measures itself (walls, recalls, yields). */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  // ---- the timed phase's clock ----
  private var timedStart = 0L
  private var pausedNs = 0L
  var firstTimedMs = 0L
  def startTimed(): Unit = {
    timedStart = System.nanoTime(); pausedNs = 0L
    firstTimedMs = System.currentTimeMillis()
  }
  def timedNs: Long = System.nanoTime() - timedStart - pausedNs
  def timedSeconds: Double = timedNs / 1e9
  /** Times `body` into the samples under `metric`. */
  def timed[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    sample(metric, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** Collects an operator's result, then frees what it cached. */
  def consumed(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    graft.operators.CacheLifecycle.release(df)
    rows
  }

  /** Work inside the timed phase that is not measured: checks, clean-up. */
  def untimed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t
  }
  /** Rounds run until `--seconds` of timed work have passed (at least
    * one), or exactly `--rounds` when given. */
  def moreRounds(done: Int): Boolean = args.rounds match {
    case Some(r) => done < r
    case None => done == 0 || timedNs < args.seconds * 1000000000L
  }

  /** One call into a layer, as a span. A throw counts as a failed
    * operation and ends the run's timed phase. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try {
      rec.span(name) {
        if (args.failCall.contains(name))
          throw new BenchFailure(s"$name: failure injected by --fail")
        body
      }._1
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw new BenchFailure(s"call $name failed")
    }
  }

  /** A correctness check against the generator's ground truth. */
  def check(name: String)(ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"check $name failed $detail"
    }
  }

  /** Frees what a round cached, so rounds stay independent. */
  def clearCaches(): Unit = untimed(spark.catalog.clearCache())
}

/** One workload: generate (set-up), then timed rounds. */
trait Workload {
  def name: String
  /** Every generation setting; the content hash covers them too. */
  def settings: Product
  /** Layer spans of this workload, in call order. */
  def spans: Seq[String]
  /** Generates the seeded inputs under `dir`; returns the content hash. */
  def generate(run: Run, seed: Long, dir: String): String
  /** One round over the generated inputs, checks included. */
  def round(run: Run, dir: String, r: Int): Unit
  /** Input docs one round takes in. */
  def docsPerRound: Long
  /** End-to-end values derived from the samples (besides the common ones). */
  def endToEnd(run: Run): Seq[(String, Double, String)]
  /** Per-workload numbers beyond the end-to-end metrics, printed beside
    * the result. */
  def detail(run: Run): Seq[String]
  /** Per-layer yields measured in a traced run. */
  def yields(run: Run): Map[String, Double]
}
