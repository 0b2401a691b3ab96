package perfbench

/** Metric names, the per-layer roll-up of a traced run, and the JSON the
  * run writes. */
object Report {

  /** Counters every span records; the curation span adds shuffle writes. */
  val Counters: Seq[(String, String)] = Seq("wall_s" -> "s", "driver_idle_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "task_cpu_s" -> "s")
  val ShuffleCounter: (String, String) = "shuffle_write_mb" -> "MB"

  /** Yields: useful outcomes of a layer, next to its counters. */
  val Yields: Seq[(String, String)] = Seq(
    "Ingest.pipeline.chunks" -> "count",
    "SegmentWriter.write.files" -> "count",
    "Ingest.resumeFrom.skip_ratio" -> "ratio",
    "Dedup.appendToMinhashIndexSighted.admit_ratio" -> "ratio")

  def workloads: Seq[Workload] = Main.Workloads.map(Main.workload)

  def countersOf(span: String): Seq[(String, String)] =
    if (span.startsWith("Curate.")) Counters :+ ShuffleCounter else Counters

  /** Every per-layer metric name with its unit, in a fixed order. */
  lazy val perLayerNames: Seq[(String, String)] =
    workloads.flatMap(w => w.spans.flatMap(s => countersOf(s).map { case (c, u) => (s"$s.$c", u) })) ++
      Yields

  /** A timing as its median and the highest percentile with at least ten
    * samples beyond it, with the sample count. */
  def latency(name: String, xs: Seq[Double]): String = {
    val tail = Stats.tailPercentile(xs.length).filter(_ > 0.5)
      .map(p => f" p${BigDecimal(p * 100).bigDecimal.stripTrailingZeros.toPlainString} " +
        f"${Stats.percentile(xs, p)}%.4f s").getOrElse("")
    f"$name p50 ${Stats.median(xs)}%.4f s$tail (n=${xs.length})"
  }

  final case class SpanRow(span: Span, self: Double, idle: Double, jobs: Int,
      counters: Counters)

  /** Per-span counters from the recorder and the listener's tally. A
    * span counts the jobs of its own group and of the spans below it. */
  def spanRows(run: Run): Seq[SpanRow] = {
    val spans = run.rec.spans
    val jobs = run.tally.jobs(System.currentTimeMillis())
    spans.map { s =>
      val groups = Stats.subtree(s, spans).map(_.group).toSet
      val c = new Counters
      groups.foreach(g => c.add(run.tally.counters(g)))
      SpanRow(s, Stats.selfMs(s, spans) / 1000.0, Stats.driverIdleMs(s, jobs) / 1000.0,
        jobs.count(j => groups(j.group)), c)
    }
  }

  /** Each layer metric is the mean over that layer's calls in the run;
    * layers the workload does not call read 0. */
  def perLayer(rows: Seq[SpanRow], yields: Map[String, Double]): Seq[(String, Double, String)] = {
    val byName = rows.groupBy(_.span.name)
    perLayerNames.map { case (name, unit) =>
      val value = yields.getOrElse(name, {
        val (span, counter) = name.splitAt(name.lastIndexOf('.'))
        byName.get(span).map { calls =>
          val vs = calls.map { r =>
            counter.drop(1) match {
              case "wall_s" => r.span.wallNs / 1e9
              case "driver_idle_s" => r.idle
              case "jobs" => r.jobs.toDouble
              case "tasks" => r.counters.tasks.toDouble
              case "task_cpu_s" => r.counters.cpuNs / 1e9
              case "shuffle_write_mb" => r.counters.shuffleWriteBytes / 1e6
              case _ => 0.0
            }
          }
          vs.sum / vs.length
        }.getOrElse(0.0)
      })
      (name, value, unit)
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def spansJson(rows: Seq[SpanRow], a: Args): String = rows.map { r =>
    val s = r.span
    val extra = r.counters.extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start},""" +
      s""""end_ms":${s.end},"workload":"${a.workload}","seed":${a.seed},"run":"${a.label}",""" +
      s""""wall_s":${num(s.wallNs / 1e9)},"self_s":${num(r.self)},"driver_idle_s":${num(r.idle)},""" +
      s""""jobs":${r.jobs},"tasks":${r.counters.tasks},"task_cpu_s":${num(r.counters.cpuNs / 1e9)},""" +
      s""""shuffle_write_mb":${num(r.counters.shuffleWriteBytes / 1e6)},"counters":{$extra}}"""
  }.mkString("[", ",\n", "]")

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)
    finally src.close()
  }
}
