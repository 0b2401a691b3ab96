package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Multimodal}

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
}
