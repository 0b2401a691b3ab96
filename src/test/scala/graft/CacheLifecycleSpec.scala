package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Curate, Dedup, Multimodal, Stats}

/** The cache-release contract ([[graft.operators.CacheLifecycle]]):
  * operators whose plans pin internal frames register them against the
  * returned frame, and `CacheLifecycle.release(out)` after full
  * consumption must empty the slate completely. Without this a
  * long-lived session (the streaming drivers' natural host)
  * accumulates caller-unreachable pinned RDDs across calls. */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertReleased(name: String)(
      op: => org.apache.spark.sql.DataFrame): Unit = {
    spark.catalog.clearCache()
    val before = pinned
    val out = op
    out.count() // fully consume the operator's output
    graft.operators.CacheLifecycle.release(out)
    val leaked = pinned -- before
    assert(leaked.isEmpty,
      s"$name left ${leaked.size} pinned RDD(s) after release: $leaked")
  }

  test("handOff operators leave no pinned RDDs once their handle is released") {
    val docs = (1L to 20L).map { i =>
      (i, s"document number $i with some shared filler text for the " +
        "containment prefix join to chew on")
    }.toDF("doc_id", "text")

    assertReleased("containmentPairs") {
      Dedup.containmentPairs(docs, "doc_id", "text", tau = 0.5)
    }
    assertReleased("dropContained") {
      Dedup.dropContained(docs, "doc_id", "text", tau = 0.5)
    }
    assertReleased("tokenDrift") {
      Stats.tokenDrift(docs, docs.filter(col("doc_id") % 2 === 0), "text",
        k = 10)
    }
    assertReleased("crawlTriage") {
      Curate.crawlTriage(docs, docs.filter(col("doc_id") =!= 3L),
        "doc_id", "text", minWords = 2)
    }
    val dir = java.nio.file.Files.createTempDirectory("clidx")
      .toString + "/idx"
    Dedup.buildContainmentIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    assertReleased("dropContainedAgainstIndex") {
      Dedup.dropContainedAgainstIndex(spark, dir,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", tau = 0.8)
    }
    // the jaccard family — with maxDf set, so the shingle helpers'
    // INTERNAL hot-cut caches must transfer through the absorption
    // chain (helper → operator surface) and release with the rest
    assertReleased("ngramJaccard (capped)") {
      Dedup.ngramJaccard(docs, "doc_id", "text", tau = 0.5,
        maxDf = Some(100))
    }
    assertReleased("minhashLsh (capped)") {
      Dedup.minhashLsh(docs, "doc_id", "text", tau = 0.5,
        maxDf = Some(100))
    }
    // composition: pairRecall ABSORBS both finders' pins — one release
    // at the report frees the whole chain
    assertReleased("pairRecall over two capped finders") {
      Dedup.pairRecall(
        Dedup.ngramJaccard(docs, "doc_id", "text", tau = 0.5,
          maxDf = Some(100)),
        Dedup.minhashLsh(docs, "doc_id", "text", tau = 0.5,
          maxDf = Some(100)))
    }
    assertReleased("dedupSegments") {
      Dedup.dedupSegments(docs, "doc_id", "text", sep = " ")
    }
    assertReleased("simhashPairs") {
      Dedup.simhashPairs(docs, "doc_id", "text")
    }
    assertReleased("corpusStatsExact") {
      Stats.corpusStatsExact(docs.withColumn("g", col("doc_id") % 2),
        "g", "text")
    }
    val mhDir = java.nio.file.Files.createTempDirectory("clmh")
      .toString + "/idx"
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", mhDir)
    assertReleased("dedupAgainstIndex") {
      Dedup.dedupAgainstIndex(spark, mhDir,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    }
  }

  test("the cluster assigners and the sighted appends leave no cache entry behind") {
    def leavesNoEntry(name: String)(op: => Unit): Unit = {
      spark.catalog.clearCache()
      op
      assert(org.apache.spark.sql.graft.CacheEntries.isEmpty(spark),
        s"$name left an entry in the session's cache manager")
    }
    def tmp(prefix: String) =
      java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"
    val tA = "alpha pattern repeated words here again and again today"
    val tB = "totally different beta content with other vocabulary items"
    val history = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val batch = Seq((10L, tA), (11L, "wholly novel content unlike any " +
      "stored document at all")).toDF("doc_id", "text")
    val mh = tmp("clasgn")
    Dedup.buildMinhashIndex(history, "doc_id", "text", mh)
    val clusterMap = Seq((1L, 1L), (2L, 2L)).toDF("id", "cluster_id")
    // the result reads the checkpointed pairs, not the probe's caches
    leavesNoEntry("assignToClusters") {
      Dedup.assignToClusters(spark, mh, clusterMap, batch, "doc_id", "text")
        .count()
    }
    leavesNoEntry("reclusterBridged") {
      Dedup.reclusterBridged(spark, mh, clusterMap, batch, "doc_id", "text")
        .count()
    }
    def vec(axis: Int) = Seq.tabulate(8)(j => if (j == axis) 1.0 else 0.0)
    def feats(rows: (Long, String)*) = Multimodal.decodeFeatures(
      rows.map { case (i, fam) => (i, fam.getBytes("UTF-8"), "image") }
        .toDF("media_id", "payload", "kind"),
      "media_id", "payload", dim = 16)
    // per sighted family: build on d1, then one append with a duplicate
    // and a novel row
    val sighted: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("exact",
        Dedup.buildExactIndexSighted(history, "doc_id", "text", _, "d1"),
        Dedup.appendToExactIndexSighted(spark, _, batch, "doc_id", "text",
          "d2")),
      ("minhash",
        Dedup.buildMinhashIndexSighted(history, "doc_id", "text", _, "d1"),
        Dedup.appendToMinhashIndexSighted(spark, _, batch, "doc_id", "text",
          "d2")),
      ("containment",
        Dedup.buildContainmentIndexSighted(history, "doc_id", "text", _, "d1"),
        Dedup.appendToContainmentIndexSighted(spark, _, batch, "doc_id",
          "text", "d2")),
      ("phash",
        Multimodal.buildPhashIndexSighted(feats((1L, "fam-A"), (2L, "fam-B")),
          "media_id", "features", _, dim = 16, day = "d1"),
        Multimodal.appendToPhashIndexSighted(spark, _,
          feats((10L, "fam-A"), (11L, "fam-D")), "media_id", "features",
          "d2")),
      ("lsh",
        Ann.buildLshIndexSighted(Seq((1L, vec(0)), (2L, vec(1))).toDF("id", "v"),
          _, dim = 8, day = "d1", planes = 4, tables = 2),
        Ann.appendToLshIndexSighted(spark, _,
          Seq((10L, vec(0)), (11L, vec(3))).toDF("id", "v"), "d2",
          tau = 0.9)))
    sighted.foreach { case (name, build, append) =>
      val dir = tmp(s"clsighted_$name")
      build(dir)
      leavesNoEntry(s"the sighted $name append")(append(dir))
    }
  }
}
