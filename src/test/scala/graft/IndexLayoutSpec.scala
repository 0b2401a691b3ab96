package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, udf}
import org.apache.spark.sql.types.StructType
import graft.operators.{Ann, Dedup, IndexFamily, IndexFiles, Multimodal}

/** The on-disk layout of the src-partitioned dedup payloads (minhash,
  * containment, line-df, phash): one flat `src=` dir per segment, a
  * bounded file count in each, and no read or append that needs a
  * Spark job just to list the files. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 24-word docs over a 997-word vocabulary — enough
    * distinct shingles to populate every hash bucket of a bucketed
    * layout. */
  private def docs(lo: Long, n: Int) = (lo until lo + n).map { i =>
    (i, (0 until 24).map(j => s"w${(i * 7919 + j * 104729) % 997}").mkString(" "))
  }.toDF("doc_id", "text")

  private def feats(lo: Long, n: Int) = (lo until lo + n).map { i =>
    (i, Seq.tabulate(12)(j => ((i * 31 + j * 17) % 5) / 4.0))
  }.toDF("id", "features")

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def vecs(lo: Long, n: Int) = (lo until lo + n).map { i =>
    (i, Seq.tabulate(8)(j => math.sin(i * 0.37 + j * 1.3) + 0.1))
  }.toDF("id", "v")

  /** The jobs `body` launches, each with its SQL execution id (null
    * when the job runs outside any SQL execution). */
  private def jobsOf(body: => Unit): Seq[(Int, String)] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.jobId, Option(e.properties)
          .map(_.getProperty("spark.sql.execution.id")).orNull))
    }
    org.apache.spark.sql.graft.ListenerBusDrain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graft.ListenerBusDrain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray.toSeq.map(_.asInstanceOf[(Int, String)])
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().toSeq.map(
    _.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  test("src-only payload layout: no hb= dirs, bounded files per src= dir, no listing jobs") {
    val root = java.nio.file.Files.createTempDirectory("layout").toString
    val (mh, ct, ld, ph) =
      (s"$root/minhash", s"$root/containment", s"$root/linedf", s"$root/phash")
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files and directories"))
          .foreach(listings.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.buildMinhashIndexSighted(docs(0, 40), "doc_id", "text", mh, day = "d0")
      Dedup.buildContainmentIndexSighted(docs(0, 40), "doc_id", "text", ct, day = "d0")
      Dedup.buildLineDfIndex(docs(0, 40), "doc_id", "text", ld)
      Multimodal.buildPhashIndex(feats(0, 40), "id", "features", ph, dim = 12)
      Dedup.dedupAgainstIndex(spark, mh, docs(100, 20), "doc_id", "text").collect()
      Dedup.dropContainedAgainstIndex(spark, ct, docs(100, 20), "doc_id", "text")
        .collect()
      Dedup.appendToMinhashIndexSighted(spark, mh, docs(100, 20), "doc_id", "text",
        day = "d1")
      Dedup.appendToContainmentIndexSighted(spark, ct, docs(100, 20), "doc_id",
        "text", day = "d1")
      Dedup.appendToLineDfIndex(spark, ld, docs(100, 20), "doc_id", "text", "d1")
      Multimodal.appendToPhashIndex(spark, ph, feats(100, 20), "id", "features", "d1")
      Dedup.dedupAgainstIndex(spark, mh, docs(200, 20), "doc_id", "text").collect()
      Dedup.dropContainedAgainstIndex(spark, ct, docs(200, 20), "doc_id", "text")
        .collect()
      org.apache.spark.sql.graft.ListenerBusDrain(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listings.isEmpty, s"file-listing jobs ran: ${listings.toArray.mkString("; ")}")

    val maxFiles = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val tables = Seq(s"$mh/sigs", s"$mh/shingles", s"$ct/shingles", s"$ct/sizes",
      s"$ld/lines", s"$ph/bands")
    tables.foreach { t =>
      val f = fs(t)
      def dataFiles(p: Path): Seq[Path] = f.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          assert(!name.startsWith("hb="), s"bucket dir ${st.getPath}")
          dataFiles(st.getPath)
        } else if (name.startsWith("_") || name.startsWith(".")) Nil
        else Seq(st.getPath)
      }
      val srcs = f.listStatus(new Path(t)).toSeq.filter(_.isDirectory).map(_.getPath)
      assert(srcs.map(_.getName).toSet == Set("src=base", "src=d1"),
        s"$t segments: ${srcs.map(_.getName)}")
      srcs.foreach { s =>
        val n = dataFiles(s).size
        assert(n >= 1 && n <= maxFiles, s"$s holds $n data files (cap $maxFiles)")
      }
    }
  }

  test("journal move crash window: a half-renamed journal heals to exactly-once ids") {
    val dir = java.nio.file.Files.createTempDirectory("journalmove").toString + "/idx"
    Dedup.buildMinhashIndex(docs(0, 20), "doc_id", "text", dir)
    val f = fs(dir)
    val ids = new Path(s"$dir/ids")
    val saved = new Path(s"$dir/ids_saved")
    val journal = new Path(s"$dir/_pending_append")
    assert(FileUtil.copy(f, ids, f, saved, false, spark.sparkContext.hadoopConfiguration))
    Dedup.appendToMinhashIndex(spark, dir, docs(100, 20), "doc_id", "text", "d1")
    // the crash state: the batch's payload moved in, its journal
    // committed, and only half of the journal's id files renamed into ids/
    assert(f.delete(ids, true) && f.rename(saved, ids))
    docs(100, 20).select(col("doc_id").as("id")).repartition(4)
      .write.parquet(journal.toString)
    val parts = f.listStatus(journal).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(parts.length == 4)
    parts.take(2).foreach(p => assert(f.rename(p, new Path(ids, p.getName))))
    // the next append heals first
    Dedup.appendToMinhashIndex(spark, dir, docs(200, 20), "doc_id", "text", "d2")
    val stored = spark.read.parquet(ids.toString).select("id").as[Long].collect()
    assert(stored.length == stored.distinct.length, "an id landed twice")
    assert(stored.toSet == ((0L until 20L) ++ (100L until 120L) ++ (200L until 220L)).toSet)
    assert(!f.exists(journal))
  }

  test("opening an index launches no job and reads what spark.read.parquet reads") {
    val root = java.nio.file.Files.createTempDirectory("indexopen").toString
    val (mh, ct, ivf) = (s"$root/minhash", s"$root/containment", s"$root/ivf")
    Dedup.buildMinhashIndexSighted(docs(0, 30), "doc_id", "text", mh, day = "d0")
    Dedup.buildContainmentIndexSighted(docs(0, 30), "doc_id", "text", ct, day = "d0")
    Ann.buildIvfIndex(vecs(0, 60), ivf, nlist = 4)
    Ann.appendToIvfIndex(spark, ivf, vecs(100, 20), "d1")

    val opens = jobsOf {
      IndexFiles.read(spark, s"$mh/sigs")
      IndexFiles.sidecarRow(spark, s"$mh/meta",
        StructType.fromDDL("w INT, num_hashes INT, bands INT, max_df INT"))
      IndexFamily.minhash.storedIds(spark, mh)
    }
    assert(opens.isEmpty, s"opening the index launched jobs $opens")

    val tables = Seq("sigs", "shingles", "seen", "ids", "meta").map(t => s"$mh/$t") ++
      Seq("shingles", "sizes", "seen", "ids", "meta", "bloom").map(t => s"$ct/$t") ++
      Seq("cells", "centroids", "ids").map(t => s"$ivf/$t")
    tables.foreach { t =>
      val (ours, spark0) = (IndexFiles.read(spark, t), spark.read.parquet(t))
      assert(ours.schema == spark0.schema, s"$t schema")
      assert(rowsOf(ours) == rowsOf(spark0), s"$t rows")
    }
    assert(IndexFiles.read(spark, s"$ivf/cells").schema("cell").dataType ==
      spark.read.parquet(s"$ivf/cells").schema("cell").dataType)
  }

  test("a sighted minhash append launches no job outside a SQL execution") {
    val mh = java.nio.file.Files.createTempDirectory("appendjobs").toString + "/minhash"
    Dedup.buildMinhashIndexSighted(docs(0, 30), "doc_id", "text", mh, day = "d0")
    val append = jobsOf(Dedup.appendToMinhashIndexSighted(spark, mh, docs(100, 20),
      "doc_id", "text", day = "d1"))
    val outside = append.filter(_._2 == null).map(_._1)
    assert(append.nonEmpty && outside.isEmpty,
      s"a sighted append launched jobs outside any SQL execution: $outside")
  }

  test("concurrent staged writes settle before a failed append throws, and heal leaves nothing staged") {
    val dir = java.nio.file.Files.createTempDirectory("settle").toString + "/idx"
    Dedup.buildMinhashIndexSighted(docs(0, 30), "doc_id", "text", dir, day = "d0")
    val tables = Seq("sigs", "shingles", "seen", "ids")
    def counts = tables.map(t => t -> spark.read.parquet(s"$dir/$t").count()).toMap
    val before = counts
    // the healthy slices stay busy past the failing slice's error
    val slow = udf { (id: Long) => Thread.sleep(40); id >= 0 }
    val boom = udf { (id: Long) =>
      if (id == 7L) throw new IllegalStateException("failing slice 7"); true }
    def slice(t: String) = IndexFiles.read(spark, s"$dir/$t").drop("src")
      .withColumn("src", lit("d1"))
    val e = intercept[Exception] {
      IndexFiles.appendStaged(spark, dir, Seq(
        ("sigs", slice("sigs").filter(slow(col("id"))), Seq("src")),
        ("shingles", slice("shingles").filter(boom(col("id"))), Seq("src")),
        ("seen", slice("seen").filter(slow(col("id"))), Seq("src"))),
        Some(docs(100, 20).select(col("doc_id").as("id")).filter(slow(col("id")))))
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a staged write was still running when the append threw")
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(_.contains("failing slice 7"))),
      s"not the failing slice's error: $e")
    val f = fs(dir)
    assert(!f.exists(new Path(s"$dir/_pending_append")))
    IndexFamily.minhash.heal(spark, dir)
    val staged = f.listStatus(new Path(dir)).toSeq.filter(_.isDirectory).flatMap(st =>
      f.listStatus(st.getPath).toSeq.map(_.getPath).filter(_.getName == "_append_tmp"))
    assert(staged.isEmpty, s"staging left after heal: $staged")
    assert(!f.exists(new Path(s"$dir/_pending_append_tmp")))
    assert(counts == before)
  }
}
