package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's driver process: one workload, one seed.
  *
  * {{{
  * Main --workload ingest|lifecycle --seed N --seconds S --trace 0|1
  *      --work DIR --result FILE [--trace-out FILE] [--start-ms EPOCH_MS]
  *      [--label NAME] [--rounds N] [--setup-reps N] [--fail SPAN]
  * }}}
  *
  * Set-up (timed as `setup_s` from `--start-ms`): the JVM and the
  * session start, and the inputs are generated `--setup-reps` times (the
  * median counts, and every repeat must hash the same). There is no
  * untimed warm-up: graft runs as one batch driver process per job, so
  * its JIT and codegen warm-up is paid on every run and is timed with
  * the first round. Rounds run until `--seconds` of timed work have
  * passed (every round of the default inputs is longer than the
  * benchmark's run_seconds, so each run times one round). The result
  * goes to `--result` as JSON; `run.py` prints it. `--fail SPAN` makes that call throw, to show a failure
  * is reported as a failure and never as a time. */
object Main {

  val Workloads: Seq[String] = Seq("ingest", "lifecycle")

  def workload(name: String): Workload = name match {
    case "ingest" => new IngestWorkload(IngestSettings())
    case "lifecycle" => new LifecycleWorkload(LifecycleSettings())
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try execute(spark, a)
      catch { case e: Throwable => e.printStackTrace(); 2 }
      finally spark.stop()
    System.exit(code)
  }

  private def attempt(body: => Unit): Unit =
    try body catch { case _: BenchFailure => () }

  def execute(spark: SparkSession, a: Args): Int = {
    val run = new Run(spark, a)
    val w = workload(a.workload)
    val genDir = s"${a.work}/gen"

    // ---- set-up ----
    val gens = (1 to a.setupReps).map { _ =>
      val t0 = System.nanoTime()
      val h = w.generate(run, a.seed, genDir)
      ((System.nanoTime() - t0) / 1e9, h)
    }
    run.check("generator.deterministic")(gens.map(_._2).distinct.size == 1,
      s"repeated generation gave hashes ${gens.map(_._2).distinct}")
    val settings = w.settings.productElementNames.zip(w.settings.productIterator)
      .map { case (k, v) => s"$k=$v" }.mkString(s"${w.settings.productPrefix}(", ", ", ")")
    println(s"inputs ${a.workload} seed ${a.seed} sha256 ${gens.head._2} $settings")

    // ---- timed phase ----
    run.startTimed()
    val setupS = (run.firstTimedMs - a.startMs) / 1000.0 - gens.map(_._1).sum +
      Stats.median(gens.map(_._1))
    println(f"setup ${setupS}%.3f s: generate median ${Stats.median(gens.map(_._1))}%.3f s " +
      f"of ${gens.map(_._1).map(g => f"$g%.3f").mkString(", ")}")
    var rounds = 0
    attempt {
      while (run.moreRounds(rounds)) {
        val t0 = run.timedNs
        w.round(run, genDir, rounds)
        run.sample("round_s", (run.timedNs - t0) / 1e9)
        rounds += 1
      }
    }
    val timedS = run.timedSeconds
    val attempted = run.attempted
    val failed = run.failed
    val failures = run.failures

    // ---- what a traced run adds ----
    var traceExtra = Seq.empty[String]
    val metrics =
      if (failed > 0) Nil
      else if (a.trace) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val rows = Report.spanRows(run)
        val top = run.rec.spans.filter(_.parent == 0).map(_.wallNs).sum / 1e9
        println(f"span coverage ${top / timedS * 100}%.1f%% of the timed wall")
        traceExtra = Seq(s""""coverage":${Report.num(top / timedS)}""",
          s""""spans":${Report.spansJson(rows, a)}""")
        Report.perLayer(rows, w.yields(run))
      } else
        Seq(("setup_s", setupS, "s"), ("docs_per_s", rounds * w.docsPerRound / timedS, "1/s")) ++
          w.endToEnd(run) :+ (("peak_rss_mb", Report.peakRssMb(), "MB"))
    writeResult(a.result, failed == 0, attempted, failed, failures.toSeq, metrics, rounds, timedS)
    if (failed == 0) w.detail(run).foreach(println)
    a.traceOut.foreach { path =>
      val body = (Seq(s""""workload":"${a.workload}"""", s""""seed":${a.seed}""",
        s""""run":"${a.label}"""", s""""rounds":$rounds""",
        s""""timed_s":${Report.num(timedS)}""", s""""inputs_sha256":"${gens.head._2}"""",
        s""""settings":${Files.jsonString(settings)}""") ++
        traceExtra).mkString("{", ",\n", "}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    }
    if (failed == 0) 0 else 1
  }

  private def writeResult(path: String, correct: Boolean, attempted: Long, failed: Long,
      failures: Seq[String], metrics: Seq[(String, Double, String)], rounds: Int,
      timedS: Double): Unit = {
    val body = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Report.metricsJson(metrics)},"rounds":$rounds,""" +
      s""""timed_s":${Report.num(timedS)},"failures":""" +
      failures.map(Files.jsonString).mkString("[", ",", "]") + "}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
  }
}
