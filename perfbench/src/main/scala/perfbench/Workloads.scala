package perfbench

import graft.operators.{Ann, Curate, Dedup, Ingest, Maintenance}
import graft.sources.{JsonlSource, SegmentWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

object Files {
  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => rm(c.getPath)))
    f.delete()
  }
  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }
  def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

// ---- ingest ---------------------------------------------------------

/** JSONL → chunk → dense and sparse embed → rotating segments, then
  * nine resume passes of a 90%-overlapping corpus against those
  * segments. */
final class IngestWorkload(val settings: IngestSettings) extends Workload {
  val name = "ingest"
  val spans = Seq("JsonlSource.read", "Ingest.pipeline", "SegmentWriter.write",
    "Ingest.resumeFrom")
  private var data: IngestData = _
  private val MaxRecordsPerFile = 4000L
  private val ResumePasses = 9
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("title", StringType), StructField("text", StringType),
    StructField("source", StringType), StructField("lang", StringType)))

  def generate(run: Run, seed: Long, dir: String): String = {
    data = IngestGen(seed, settings)
    new java.io.File(dir).mkdirs()
    def write(name: String, docs: Seq[IngestDoc]): Unit = {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(s"$dir/$name"), "UTF-8"))
      try docs.foreach { d =>
        w.write(s"""{"doc_id":${d.id},"title":${Files.jsonString(d.title)},""" +
          s""""text":${Files.jsonString(d.text)},"source":"${d.source}","lang":"${d.lang}"}""")
        w.write('\n')
      } finally w.close()
    }
    write("corpus1.jsonl", data.corpus1)
    write("corpus2.jsonl", data.corpus2)
    data.hash
  }

  def docsPerRound: Long = data.corpus1.length + ResumePasses * data.corpus2.length

  def round(run: Run, dir: String, r: Int): Unit = {
    val spark = run.spark
    val seg1 = s"$dir/r$r/seg1"
    val seg2 = s"$dir/r$r/seg2"
    def none = Files.local(spark, StructType(Seq(StructField("file_id", LongType))), Nil)
    val traced = run.args.trace
    // A traced run materializes each layer's output so each gets its own
    // span; untraced, read → pipeline → write fuse into one plan.
    def pin(df: DataFrame): DataFrame =
      if (traced) { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p } else df

    val (docs, out, manifest1) = run.timed("bulk_s") {
      val docs = run.call("JsonlSource.read") {
        pin(JsonlSource.read(spark, s"$dir/corpus1.jsonl", schema = Some(schema)))
      }
      val out = run.call("Ingest.pipeline") {
        pin(Ingest.pipeline(docs, none, chunkSize = settings.chunkSize,
          overlap = settings.chunkOverlap))
      }
      (docs, out, run.call("SegmentWriter.write") {
        SegmentWriter.write(out, seg1, maxRecordsPerFile = MaxRecordsPerFile)
      })
    }
    if (traced) run.untimed { out.unpersist(); docs.unpersist() }

    // nine resume passes, each into its own dir: resume_s is their median,
    // which the first (cold) pass cannot move
    val resumes = (1 to ResumePasses).map { k =>
      run.timed("resume_s")(run.call("Ingest.resumeFrom") {
        val docs2 = JsonlSource.read(spark, s"$dir/corpus2.jsonl", schema = Some(schema))
        val resumed = pin(Ingest.resumeFrom(docs2, seg1, "doc_id"))
        val n = if (traced) resumed.count() else -1L
        val m = SegmentWriter.write(Ingest.pipeline(resumed, none,
          chunkSize = settings.chunkSize, overlap = settings.chunkOverlap), s"$seg2-$k",
          maxRecordsPerFile = MaxRecordsPerFile)
        if (traced) resumed.unpersist()
        (s"$seg2-$k", n, m)
      })
    }

    run.untimed {
      val rows1 = spark.read.parquet(seg1).count()
      run.check("ingest.rows")(rows1 == data.chunks1,
        s"wrote $rows1 chunk rows, the generated lengths give ${data.chunks1}")
      run.check("ingest.manifest")(manifest1.map(_.rows).sum == rows1,
        s"manifest total ${manifest1.map(_.rows).sum} != $rows1 rows written")
      resumes.foreach { case (path, resumedDocs, manifest2) =>
        val written2 = spark.read.parquet(path)
        val rows2 = written2.count()
        val ids2 = written2.select("file_id").distinct().collect().map(_.getLong(0)).toSet
        run.check("ingest.resume.skip")(ids2 == data.newIds,
          s"resume ingested ${ids2.size} ids, expected exactly the ${data.newIds.size} new ones")
        run.check("ingest.resume.rows")(rows2 == data.chunksNew &&
          manifest2.map(_.rows).sum == rows2, s"resume wrote $rows2 rows, expected ${data.chunksNew}")
        if (resumedDocs >= 0)
          run.sample("skip_ratio", 1.0 - resumedDocs.toDouble / data.corpus2.length)
      }
      run.sample("recall", rows1.toDouble / data.chunks1)
      // the Ingest.pipeline and SegmentWriter.write spans are the bulk pass's
      run.sample("pipeline.chunks", rows1)
      run.sample("write.files", manifest1.length)
      Files.rm(s"$dir/r$r")
    }
    run.clearCaches()
  }

  def endToEnd(run: Run): Seq[(String, Double, String)] = Seq(
    ("bulk_s", Stats.median(run.samples("bulk_s").toSeq), "s"),
    ("step_p50_s", Stats.median(run.samples("resume_s").toSeq), "s"),
    ("recall", Stats.median(run.samples("recall").toSeq), "ratio"))

  def detail(run: Run): Seq[String] = Seq(
    Report.latency("resume_s", run.samples("resume_s").toSeq),
    f"corpus: ${data.corpus1.length} docs, ${data.chunks1} chunks; resume corpus " +
      f"${data.corpus2.length} docs, ${data.overlapIds} overlapping, ${data.newIds.size} new")

  def yields(run: Run): Map[String, Double] = Map(
    "Ingest.pipeline.chunks" -> Stats.median(run.samples("pipeline.chunks").toSeq),
    "SegmentWriter.write.files" -> Stats.median(run.samples("write.files").toSeq),
    "Ingest.resumeFrom.skip_ratio" -> Stats.median(run.samples("skip_ratio").toSeq))
}

// ---- lifecycle ------------------------------------------------------

/** A persisted store updated daily: day-0 builds of a sighted minhash
  * index, a sighted containment index and an IVF index, and a curated
  * training export of the same history; then per day probe, append,
  * search and (past the window) retire; compaction and the store report
  * at the end. */
final class LifecycleWorkload(val settings: LifecycleSettings) extends Workload {
  val name = "lifecycle"
  val spans = Seq("Dedup.buildMinhashIndexSighted", "Dedup.buildContainmentIndexSighted",
    "Ann.buildIvfIndex", "Curate.curationPipeline", "Dedup.dedupAgainstIndex",
    "Dedup.dropContainedAgainstIndex",
    "Dedup.appendToMinhashIndexSighted", "Dedup.appendToContainmentIndexSighted",
    "Ann.appendToIvfIndex", "Ann.searchIvfIndex", "Dedup.retireMinhashSeenWindow",
    "Dedup.retireContainmentSeenWindow", "Maintenance.nightlyCompact")
  private var data: LifecycleData = _
  private var queries: Seq[Seq[DataFrame]] = Nil
  private var recallQueries: DataFrame = _
  private var budgets: Map[String, Long] = Map.empty
  private val NumHashes = 20
  private val Bands = 10
  private val JaccardTau = 0.5
  private val ContainTau = 0.8
  private val NList = 32
  private val NProbe = 4
  private val K = 10
  private var seed = 0L
  private val docSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("v", ArrayType(DoubleType, false)),
    StructField("lang", StringType), StructField("quality", DoubleType)))
  private val querySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType, false))))

  def generate(run: Run, seed: Long, dir: String): String = {
    this.seed = seed
    data = LifecycleGen(seed, settings)
    val spark = run.spark
    def write(docs: Seq[VecDoc], path: String): Unit =
      Files.local(spark, docSchema, docs.map(d => Row(d.id, d.text, d.v.toSeq, d.lang, d.quality)))
        .coalesce(1).write.mode("overwrite").parquet(path)
    write(data.history, s"$dir/history")
    write(data.bench.zipWithIndex.map { case (t, i) => VecDoc(i + 1L, t, Array(0.0), "en", 1.0) },
      s"$dir/bench")
    // about 40% of each stratum's words fit its token budget
    budgets = data.history.groupBy(_.lang).map { case (l, ds) =>
      l -> (ds.map(_.text.split("\\s+").length.toLong).sum * 2 / 5) }
    data.days.foreach(d => write(d.batch, s"$dir/batch_${d.tag}"))
    def qdf(qs: Seq[Query]) = Files.local(spark, querySchema, qs.map(q => Row(q.qid, q.v.toSeq)))
    queries = data.days.map(_.searches.map(qdf))
    recallQueries = qdf(data.recallQueries)
    data.hash
  }

  def docsPerRound: Long = data.history.length + data.days.map(_.batch.length).sum

  def round(run: Run, dir: String, r: Int): Unit = {
    val spark = run.spark
    val s = settings
    val (mh, ct, ivf) = (s"$dir/r$r/minhash", s"$dir/r$r/containment", s"$dir/r$r/ivf")
    import run.{consumed, timed}
    val hist = spark.read.parquet(s"$dir/history")
    timed("build_s") {
      run.call("Dedup.buildMinhashIndexSighted") {
        Dedup.buildMinhashIndexSighted(hist, "id", "text", mh, "d00", s.w, NumHashes, Bands)
      }
      run.call("Dedup.buildContainmentIndexSighted") {
        Dedup.buildContainmentIndexSighted(hist, "id", "text", ct, "d00", s.w)
      }
      run.call("Ann.buildIvfIndex") { Ann.buildIvfIndex(hist.select("id", "v"), ivf, NList, seed) }
    }
    // the training export: the same history, deduplicated, decontaminated
    // against the bench set and cut to each stratum's token budget
    val curated = timed("curation_s")(run.call("Curate.curationPipeline") {
      consumed(Curate.curationPipeline(hist, spark.read.parquet(s"$dir/bench"), "id", "text",
        "lang", "quality", budgets, numHashes = NumHashes, bands = Bands, tau = JaccardTau))
    })
    run.untimed {
      val out = curated.map(_.getAs[Long]("id")).toSet
      run.check("lifecycle.decontaminated")(out.nonEmpty && (out intersect data.contaminatedIds).isEmpty,
        s"${(out intersect data.contaminatedIds).size} contaminated docs survived curation")
    }
    data.days.zip(queries).foreach { case (day, qs) =>
      val batch = spark.read.parquet(s"$dir/batch_${day.tag}")
      val mhv = timed("probe_s") {
        run.call("Dedup.dedupAgainstIndex") {
          consumed(Dedup.dedupAgainstIndex(spark, mh, batch, "id", "text", JaccardTau))
        }
      }
      val ctv = timed("probe_s") {
        run.call("Dedup.dropContainedAgainstIndex") {
          consumed(Dedup.dropContainedAgainstIndex(spark, ct, batch, "id", "text", ContainTau))
        }
      }
      // the day's append step: one append per family, in sequence
      timed("append_s") {
        run.call("Dedup.appendToMinhashIndexSighted") {
          Dedup.appendToMinhashIndexSighted(spark, mh, batch, "id", "text", day.tag, JaccardTau)
        }
        run.call("Dedup.appendToContainmentIndexSighted") {
          Dedup.appendToContainmentIndexSighted(spark, ct, batch, "id", "text", day.tag, ContainTau)
        }
        run.call("Ann.appendToIvfIndex") { Ann.appendToIvfIndex(spark, ivf, batch.select("id", "v"), day.tag) }
      }
      qs.foreach { q =>
        timed("search_s") {
          run.call("Ann.searchIvfIndex") { Ann.searchIvfIndex(spark, ivf, q, K, NProbe).collect() }
        }
      }
      if (day.retire) {
        timed("retire_s") {
          run.call("Dedup.retireMinhashSeenWindow") { Dedup.retireMinhashSeenWindow(spark, mh, s.window) }
        }
        timed("retire_s") {
          run.call("Dedup.retireContainmentSeenWindow") {
            Dedup.retireContainmentSeenWindow(spark, ct, s.window)
          }
        }
      }
      run.untimed {
        val flagged = mhv.groupBy(_.getAs[Long]("id_new"))
          .map { case (id, ps) => id -> ps.map(_.getAs[Long]("id_old")).toSet }
        run.check(s"lifecycle.${day.tag}.minhash_verdict")(
          flagged == day.rejects.map { case (b, o) => b -> Set(o) },
          s"${flagged.size} batch docs flagged near-dup, ${day.rejects.size} planted")
        val contained = ctv.filter(_.getAs[Boolean]("is_contained"))
          .map(v => v.getAs[Long]("id") -> v.getAs[Long]("container_id")).toMap
        run.check(s"lifecycle.${day.tag}.containment_verdict")(contained == day.rejects,
          s"${contained.size} batch docs flagged contained, ${day.rejects.size} planted")
        // the sighted append inlines this verdict: it admits the rest
        run.sample("admit_ratio", 1.0 - flagged.size.toDouble / day.batch.length)
      }
    }
    run.call("Maintenance.nightlyCompact") {
      Maintenance.nightlyCompact(spark, Seq((mh, "minhash", 0.2), (ct, "containment", 0.2),
        (ivf, "ivf", 0.2))).collect()
    }
    val report = run.call("Maintenance.storeReport") {
      Maintenance.storeReport(spark, Seq((mh, "minhash"), (ct, "containment"), (ivf, "ivf")))
        .collect()
    }

    run.untimed {
      val live = report.map(r => r.getAs[String]("family") -> r.getAs[Long]("live")).toMap
      val want = Map("minhash" -> data.liveAtEnd.toLong, "containment" -> data.liveAtEnd.toLong,
        "ivf" -> data.ivfAtEnd.toLong)
      run.check("lifecycle.live_counts")(live == want, s"storeReport live $live, bookkeeping $want")
      val corpus = spark.read.parquet(s"$dir/history" +: data.days.map(d => s"$dir/batch_${d.tag}"): _*)
        .select("id", "v")
      def hits(df: DataFrame) = df.select("qid", "id", "score").collect()
        .map(h => (h.getLong(0), h.getLong(1), h.getDouble(2))).toSet
      val exact = hits(Ann.bruteForceTopK(corpus, recallQueries, K))
      val full = hits(Ann.searchIvfIndex(spark, ivf, recallQueries, K, NList))
      run.check("lifecycle.ivf_full_probe")(full == exact,
        s"nprobe=nlist returned ${(full diff exact).size} hits brute force does not")
      val approx = hits(Ann.searchIvfIndex(spark, ivf, recallQueries, K, NProbe)).map(h => (h._1, h._2))
      run.sample("recall", approx.count(h => exact.exists(e => e._1 == h._1 && e._2 == h._2))
        .toDouble / exact.size)
      Files.rm(s"$dir/r$r")
    }
    run.clearCaches()
  }

  def endToEnd(run: Run): Seq[(String, Double, String)] = Seq(
    ("bulk_s", Stats.median(run.samples("build_s").toSeq), "s"),
    ("step_p50_s", Stats.median(run.samples("append_s").toSeq), "s"),
    ("recall", Stats.median(run.samples("recall").toSeq), "ratio"))

  def detail(run: Run): Seq[String] =
    Seq("build_s", "curation_s", "append_s", "probe_s", "retire_s", "search_s")
      .filter(run.samples.contains).map(m => Report.latency(m, run.samples(m).toSeq)) ++ Seq(
      f"recall_at_10 ${Stats.median(run.samples("recall").toSeq)}%.4f ratio (nprobe $NProbe of $NList)",
      s"store: ${data.history.length} history docs (${data.contaminatedIds.size} quoting the " +
        s"bench set), ${data.days.length} days of ${settings.batchDocs}, window " +
        s"${settings.window}, ${data.liveAtEnd} live at the end")

  def yields(run: Run): Map[String, Double] = Map(
    "Dedup.appendToMinhashIndexSighted.admit_ratio" -> Stats.median(run.samples("admit_ratio").toSeq))
}
