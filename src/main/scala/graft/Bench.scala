package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: one scan per table so parquet footer reads and reader JIT
    // don't bill the first timed query
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // sorted order: Map iteration order reshuffles whenever a query is
    // added, silently changing which heavy query precedes which — that
    // neighbor effect made identical queries swing 2.5s → 31s between
    // rounds. Sorted names keep timings comparable across rounds.
    // local-iteration escape hatch: a comma-separated allowlist limits
    // the run to the named queries (unset in driver runs — full bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a mistyped allowlist must fail LOUDLY: silently selecting zero
    // queries still prints a valid-looking JSON line with total=0,
    // which reads as a (spectacular) real result
    // ANY unknown name is fatal, not just an empty selection: a typo
    // among several names would otherwise run the partial selection and
    // exit 0, silently dropping a query from a scripted run
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[bench] SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (selected.isEmpty) {
      System.err.println("[bench] selection is empty — nothing to run")
      spark.stop()
      sys.exit(1)
    }
    // bill the multi-consumer memoized builds to ONE explicit entry
    // (full runs only): without this, sorted execution hands the
    // full-corpus IVF build to q_alias, the sparse postings to
    // q_bm25, etc. — a lookup query reading as a 20 s one. Filtered
    // local runs skip it: their queries build lazily as before.
    val shared: Seq[(String, Double)] =
      if (only.nonEmpty) Seq.empty
      else {
        val t0 = System.nanoTime()
        val ok = try { SparkEntry.warmSharedBuilds(spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] _shared_builds failed: ${e.getMessage}")
            false
          }
        Seq("_shared_builds" ->
          (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0))
      }
    val timed = selected.map { case (name, fn) =>
      // isolate queries: operators may cache() internally; leaked cache
      // blocks from earlier queries would otherwise squeeze execution
      // memory for later ones and skew their timings — clear, then let
      // the JVM actually reclaim the evicted blocks before timing
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      // failures report -1 so a consumer of the JSON can SEE the break
      // instead of a partial elapsed time masquerading as a result
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val results = shared ++ timed
    // 3dp: full-precision doubles bloat the one-line JSON ~35 bytes per
    // query — at 180+ queries the driver's truncated stdout tail loses
    // the head of the line (total + the first ~2/3 of the map). Millis
    // are far below host noise; the compact line survives more tails.
    // Locale.ROOT: the f interpolator honors the JVM default locale,
    // and a comma-decimal locale would render invalid JSON
    def r3(v: Double) =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // failed entries (-1) drop out of the total and would read as FASTER:
    // such a run refreshes no baseline and exits non-zero
    val failed = results.collect { case (k, v) if v < 0 => k }
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_rN.json keeps only a truncated tail of stdout,
    // which loses the first ~30 queries' times (and the total) from
    // cross-round regression checks — r10's events breakage first showed
    // as -1.0s in exactly that lost window. Persist the SAME line as a
    // file artifact so every round's full per-query map stays readable.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_times.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_times.json: ${e.getMessage}")
    }
    // Machine-readable cross-round baseline: FULL (unfiltered) runs at
    // the driver's sf0.1 refresh BENCH_BASELINE.json in the repo root,
    // so the next round's judge diffs per-query times directly instead
    // of reconstructing them from truncated BENCH_rN.json tails.
    // Partial (SPARK_GRAFT_ONLY), off-sf, or LOW-CORE runs never touch
    // it: the driver also benches at reduced SPARK_GRAFT_CPUS for the
    // scaling measurement, and that run overwriting the 32-core
    // baseline would poison every cross-round per-query diff with
    // numbers from a different core count (the note says local[32]).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    if (failed.isEmpty && only.isEmpty && sfDir.endsWith("sf0.1") && cpus == "32") {
      try {
        val host = java.net.InetAddress.getLocalHost.getHostName
        val stamp = java.time.Instant.now.toString
        val record =
          s"""{"note":"per-query seconds at sf0.1 on local[32]; refreshed by graft.Bench each full run","host":"$host","written_at":"$stamp","nqueries":${timed.size},"total_sec":${r3(total)},"queries":$qs}\n"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_BASELINE.json"), record)
        // BENCH_BASELINE self-refreshes, so "vs last round" needs git
        // archaeology; the history file is APPEND-only — every full
        // run's complete per-query map stays diffable in one place,
        // immune to the round artifact's stdout-tail truncation.
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_HISTORY.jsonl"), record,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write BENCH_BASELINE.json: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed, baseline not refreshed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
