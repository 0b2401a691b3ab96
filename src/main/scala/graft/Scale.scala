package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IndexFamily, IndexFiles}

/** Opt-in scale-evidence run (SURVEY §5): synthesize a FACTOR× corpus
  * from the graded sf dir, run the heavy query family at 1× and at
  * FACTOR×, and print per-query seconds + result rows — the two-point
  * scaling table for SCALE.md is measured, not argued.
  *
  * Replica i re-derives ids (doc_id + i·(maxId+1)) and rewrites every
  * word w → "w_i": each replica is an ISOMORPHIC copy of the corpus's
  * duplicate structure over a disjoint vocabulary, so near-dup work
  * scales exactly ×FACTOR (the same clusters, FACTOR times over). A raw
  * self-union would instead make every doc a FACTOR-way near-dup — one
  * giant cross-replica duplicate family, a different and pathological
  * workload. Disjoint vocabularies also preserve the per-replica df
  * distributions that PPJoin prefix filtering, the minhash maxDf cap,
  * and bm25 idf all key on.
  *
  * Usage: SPARK_GRAFT_SCALE_FACTOR=10 sbt "runMain graft.Scale"
  * (env: SPARK_GRAFT_SF_DIR base dir, SPARK_GRAFT_SCALE_DIR scratch).
  */
object Scale {

  /** The bench heavy hitters — the shuffle/join-dominated family where
    * superlinear behavior would hide. The span family (r15) joins them:
    * gap-and-island windows per doc whose claim is flat per char. */
  val heavy: Seq[String] = Seq(
    "q_curation_pipeline", "q_curation_pipeline_v2", "q_dedup_minhash",
    "q_dedup_ngram", "q_dedup_containment", "q_dedup_cluster",
    "q_dedup_canonical", "q_bm25_index", "q_repeated_spans",
    "q_contam_spans", "q_rerank", "q_crawl_triage",
    "q_mine_negatives", "q_triplets", "q_dedup_recall",
    "q_contrastive_pipeline", "q_embed_drift")

  private def maxIdOffset(df: DataFrame, idCol: String, what: String): Long = {
    val maxId = df.agg(max(col(idCol))).head
    require(!maxId.isNullAt(0),
      s"$what table is empty — nothing to scale " +
      s"(max($idCol) is NULL); point SPARK_GRAFT_SF_DIR at a populated sf dir")
    maxId.getLong(0) + 1L
  }

  /** Replica `i` of the documents table: ids offset by i·off, every
    * NON-empty word salted `w → w_i`. Salting only non-empty words
    * matters: split() yields '' entries for doubled/leading/trailing
    * spaces (and for fully empty text), and salting those would mint
    * bare "_i" tokens that exist in no replica-0 doc, distorting
    * replica token distributions — keeping them empty-in-place
    * preserves the exact whitespace structure, so every replica's
    * char-level layout matches the original. n_chars is intentionally
    * NOT recomputed — it is the canonical-selection ranking signal, and
    * keeping the original values preserves each replica's selection
    * order exactly. */
  private def docReplica(docs: DataFrame, i: Int, off: Long): DataFrame =
    if (i == 0) docs
    else docs
      .withColumn("doc_id", col("doc_id") + lit(i * off))
      .withColumn("text", array_join(
        transform(split(col("text"), " "),
          w => when(length(w) > 0, concat(w, lit(s"_$i"))).otherwise(w)),
        " "))

  def scaledDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val off = maxIdOffset(docs, "doc_id", "scaledDocuments: documents")
    (0 until factor).map(docReplica(docs, _, off)).reduce(_ unionByName _)
  }

  /** FACTOR× of an (id, v) embeddings corpus: replica i offsets ids by
    * i·off and keeps the vectors VERBATIM. Identical vectors are the
    * right workload for the index-lifecycle measurement: codebook
    * assignment cost is value-independent, and replicated points
    * densify every cell uniformly (factor× members per cell), which is
    * exactly what a factor× corpus does to a fixed-nlist index. */
  def scaledVectors(emb: DataFrame, factor: Int): DataFrame = {
    val off = maxIdOffset(emb, "id", "scaledVectors: embeddings")
    (0 until factor).map { i =>
      if (i == 0) emb else emb.withColumn("id", col("id") + lit(i * off))
    }.reduce(_ unionByName _)
  }

  /** FACTOR× of the events table: replica i offsets event_id AND
    * user_id by i·(max+1), keeping timestamps VERBATIM. Each replica is
    * an isomorphic copy of the original's per-user event streams over a
    * DISJOINT user population — so the stateful streaming operators see
    * factor× concurrent keys (factor× live state) with identical
    * per-key session/window structure, which is exactly how a factor×
    * event stream grows: more users, not longer histories. Offsetting
    * only event_id would instead fuse replicas into the same sessions
    * (factor× events per session — a different, pathological workload). */
  def scaledEvents(events: DataFrame, factor: Int): DataFrame = {
    val offE = maxIdOffset(events, "event_id", "scaledEvents: events")
    val offU = maxIdOffset(events, "user_id", "scaledEvents: events")
    (0 until factor).map { i =>
      if (i == 0) events
      else events
        .withColumn("event_id", col("event_id") + lit(i * offE))
        .withColumn("user_id", col("user_id") + lit(i * offU))
    }.reduce(_ unionByName _)
  }

  /** Streaming state-store scale evidence: the three bench drains
    * (MemoryStream → watermark → state store → sink) at 1× and FACTOR×
    * the events table. A FACTOR× stream means FACTOR× concurrent users
    * ([[scaledEvents]]), so live state grows FACTOR× while per-key
    * state stays bounded — wall should track the feed (≈ linear), and
    * anything superlinear would expose a state-store scan that grows
    * with TOTAL state rather than the touched keys. FACTOR× runs
    * first (cold — conservative, same protocol as the other modes).
    * The feed stays under [[graft.streaming.StreamDrain.MaxDrainRows]]
    * for factor ≤ 20 at sf0.1 (100k rows); the cap rejects beyond. */
  def streamLifecycle(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, factor: Int): Unit = {
    import graft.streaming.StreamDrain
    val events1 = Tables.load(spark, baseDir, "events")
    val eventsN = scaledEvents(events1, factor)
    def timed(f: => Long): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // pin the state-partition count for BOTH scale points (the drains
    // otherwise auto-size by feed, and a 1×-vs-N× ratio would then mix
    // state growth with partition-count choices)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Seq[(String, DataFrame => Long)](
      ("sessionize", e =>
        StreamDrain.sessionizeDrained(e, statePartitions = parts).count()),
      ("window", e =>
        StreamDrain.windowAggDrained(e, statePartitions = parts).count()),
      ("asof", e =>
        StreamDrain.asofJoinDrained(e, statePartitions = parts).count())
    ).foreach { case (name, run) =>
      val (tN, rN) = timed(run(eventsN))
      val (t1, r1) = timed(run(events1))
      println(f"SCALE_STREAM $name,$t1%.2f,$tN%.2f,${tN / t1}%.2f,$r1,$rN")
    }
  }

  /** Index-lifecycle scale evidence: the O(batch) append claim
    * (appendToIvfIndex / appendToMinhashIndex assign new rows through
    * the STORED codebook/meta and stage files in place — no rebuild)
    * is plan-argued in SURVEY §5; this measures it. Build a 1× and a
    * FACTOR× index per family, then append the SAME batch to each:
    * append wall must track the batch, not the index (ratio ≈ 1 while
    * the build ratio tracks FACTOR). A post-append search/query then
    * times the probe path at both index sizes.
    *
    * Batch/query construction keeps the comparison controlled:
    *  - IVF: the append batch is the base corpus with ids offset past
    *    both indexes (disjoint — the replay guard requires it); the
    *    search queries are the bench's own 5 probe vectors.
    *  - minhash: the append batch is doc replica FACTOR (disjoint ids
    *    AND a disjoint salted vocabulary, so appending never perturbs
    *    stored df distributions); the dedupAgainstIndex probe batch is
    *    an UNSALTED id-offset copy of the base docs, whose shingles
    *    match exactly the replica-0 docs present in BOTH indexes — the
    *    candidate/verify load is identical at both scales, isolating
    *    the stored-signature scan as the only thing that grew. */
  def appendLifecycle(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, scaleDir: String, factor: Int): Unit = {
    import graft.operators.{Ann, Dedup}
    def timed[A](f: => A): (Double, A) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def report(family: String, op: String, x1: Double, xN: Double): Unit =
      println(f"SCALE_APPEND $family,$op,$x1%.2f,$xN%.2f,${xN / x1}%.2f")

    // Within each op pair the FACTOR× side runs FIRST: JVM/JIT/page-
    // cache warmth then flows x1-ward, INFLATING the xN measurements —
    // the conservative direction for both claims here (append ratio ≈ 1
    // and search sublinear look worse, not better, under this ordering;
    // same cold-scaled-first protocol as the heavy mode).

    // ---- IVF ----
    val emb = Tables.load(spark, baseDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val off = maxIdOffset(emb, "id", "appendLifecycle: embeddings")
    val (d1, dN) = (s"$scaleDir/ivf_x1", s"$scaleDir/ivf_x$factor")
    val (bN, _) = timed(Ann.buildIvfIndex(scaledVectors(emb, factor), dN))
    val (b1, _) = timed(Ann.buildIvfIndex(emb, d1))
    report("ivf", "build", b1, bN)
    val batch = emb.withColumn("id", col("id") + lit(factor * off))
    val (aN, _) = timed(Ann.appendToIvfIndex(spark, dN, batch))
    val (a1, _) = timed(Ann.appendToIvfIndex(spark, d1, batch))
    report("ivf", "append_same_batch", a1, aN)
    val qs = emb.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qv"))
    val (sN, rN) = timed(Ann.searchIvfIndex(spark, dN, qs, k = 10).count())
    val (s1, r1) = timed(Ann.searchIvfIndex(spark, d1, qs, k = 10).count())
    report("ivf", "search_nprobe4", s1, sN)
    println(s"SCALE_APPEND_ROWS ivf_search x1=$r1 x$factor=$rN")
    // brute-force contrast: the same 5 queries, exact unpruned top-k over
    // the 1× and FACTOR× corpora — whatever this ratio is, the pruned
    // search_nprobe4 ratio above is the dividend cell probing buys when
    // the corpus grows FACTOR× (both rows scan value vectors; only the
    // index row gets to skip (nlist-nprobe)/nlist of them)
    val (bfN, _) = timed(
      Ann.bruteForceTopK(scaledVectors(emb, factor), qs, k = 10).count())
    val (bf1, _) = timed(Ann.bruteForceTopK(emb, qs, k = 10).count())
    report("ivf", "search_brute_contrast", bf1, bfN)

    // ---- minhash ----
    val docs = Tables.load(spark, baseDir, "documents")
    val doff = maxIdOffset(docs, "doc_id", "appendLifecycle: documents")
    val (m1, mN) = (s"$scaleDir/mh_x1", s"$scaleDir/mh_x$factor")
    val (mbN, _) = timed(
      Dedup.buildMinhashIndex(scaledDocuments(docs, factor), "doc_id", "text", mN))
    val (mb1, _) = timed(Dedup.buildMinhashIndex(docs, "doc_id", "text", m1))
    report("minhash", "build", mb1, mbN)
    val mbatch = docReplica(docs, factor, doff)
    val (maN, _) = timed(
      Dedup.appendToMinhashIndex(spark, mN, mbatch, "doc_id", "text", "s1"))
    val (ma1, _) = timed(
      Dedup.appendToMinhashIndex(spark, m1, mbatch, "doc_id", "text", "s1"))
    report("minhash", "append_same_batch", ma1, maN)
    val probe = docs.withColumn("doc_id", col("doc_id") + lit((factor + 1L) * doff))
    val (mqN, pN) = timed(
      Dedup.dedupAgainstIndex(spark, mN, probe, "doc_id", "text").count())
    val (mq1, p1) = timed(
      Dedup.dedupAgainstIndex(spark, m1, probe, "doc_id", "text").count())
    report("minhash", "dedup_against_index", mq1, mqN)
    println(s"SCALE_APPEND_ROWS minhash_query x1=$p1 x$factor=$pN")

    // ---- exact (bloom-pruned fingerprint index) ----
    // Same controls as minhash: build batch = replica FACTOR (disjoint
    // ids + salted vocabulary → its fps are certainly novel), probe =
    // an unsalted id-offset copy of the base docs, whose fps match
    // exactly the replica-0 docs present in BOTH indexes — so the dup
    // hit-set is identical at both scales and only the bloom size and
    // the pruned confirm join grew.
    val (e1, eN) = (s"$scaleDir/ex_x1", s"$scaleDir/ex_x$factor")
    val (ebN, _) = timed(
      Dedup.buildExactIndex(scaledDocuments(docs, factor), "doc_id", "text", eN))
    val (eb1, _) = timed(Dedup.buildExactIndex(docs, "doc_id", "text", e1))
    report("exact", "build", eb1, ebN)
    val (eaN, _) = timed(
      Dedup.appendToExactIndex(spark, eN, mbatch, "doc_id", "text"))
    val (ea1, _) = timed(
      Dedup.appendToExactIndex(spark, e1, mbatch, "doc_id", "text"))
    report("exact", "append_same_batch", ea1, eaN)
    val (eqN, dupN) = timed(Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    val (eq1, dup1) = timed(Dedup.dedupExactAgainstIndex(spark, e1, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    report("exact", "dedup_against_index", eq1, eqN)
    println(s"SCALE_APPEND_ROWS exact_query x1=$dup1 x$factor=$dupN")

    // ---- phash (media signature index) ----
    // same controls as ivf: identical vectors under disjoint ids at
    // both scales; the probe batch is fixed, so only the stored band
    // table grows (and, with replicated vectors, the per-probe match
    // count — reported)
    import graft.operators.Multimodal
    def phFeat(d: DataFrame) = d.select(col("id"), col("v").as("features"))
    val (ph1, phN) = (s"$scaleDir/ph_x1", s"$scaleDir/ph_x$factor")
    val (phbN, _) = timed(Multimodal.buildPhashIndex(
      phFeat(scaledVectors(emb, factor)), "id", "features", phN,
      dim = 16, maxHam = 2, thresh = 0.0))
    val (phb1, _) = timed(Multimodal.buildPhashIndex(
      phFeat(emb), "id", "features", ph1, dim = 16, maxHam = 2, thresh = 0.0))
    report("phash", "build", phb1, phbN)
    val (paN, _) = timed(Multimodal.appendToPhashIndex(spark, phN,
      phFeat(batch), "id", "features", "s1"))
    val (pa1, _) = timed(Multimodal.appendToPhashIndex(spark, ph1,
      phFeat(batch), "id", "features", "s1"))
    report("phash", "append_same_batch", pa1, paN)
    val pprobe = phFeat(emb.withColumn("id", col("id") + lit((factor + 2L) * off)))
    val (pqN, ppN) = timed(Multimodal.dedupPhashAgainstIndex(spark, phN,
      pprobe, "id", "features").count())
    val (pq1, pp1) = timed(Multimodal.dedupPhashAgainstIndex(spark, ph1,
      pprobe, "id", "features").count())
    report("phash", "dedup_against_index", pq1, pqN)
    println(s"SCALE_APPEND_ROWS phash_query x1=$pp1 x$factor=$ppN")

    // ---- line-df (corpus boilerplate index) ----
    // Text synthesized to 3 lines (the q_dedup_lines_* construction).
    // The LITERAL footer line stays corpus-wide hot at any scale (the
    // recurring minority the bloom routes to the history sum); the
    // salted prefix/suffix and md5 lines are novel per replica — so
    // the probe's bloom-positive set is history-hit-sized while the
    // stored increments grow FACTOR×. Batch = salted replica (novel
    // lines + the hot footer); probe = unsalted id-offset copy whose
    // prefix/suffix lines match exactly replica 0's history entries at
    // BOTH scales (identical hit set; only the index grew).
    def lined(d: DataFrame) = d.select(col("doc_id"),
      concat(substring(col("text"), 1, 60), lit("\n"),
        when(col("doc_id") % 2 === 0, lit("boilerplate footer line"))
          .otherwise(md5(col("doc_id").cast("string"))), lit("\n"),
        substring(col("text"), 61, 60)).as("text"))
    val (ld1, ldN) = (s"$scaleDir/ld_x1", s"$scaleDir/ld_x$factor")
    val (lbN, _) = timed(Dedup.buildLineDfIndex(
      lined(scaledDocuments(docs, factor)), "doc_id", "text", ldN))
    val (lb1, _) = timed(Dedup.buildLineDfIndex(
      lined(docs), "doc_id", "text", ld1))
    report("linedf", "build", lb1, lbN)
    val (laN, _) = timed(Dedup.appendToLineDfIndex(spark, ldN,
      lined(mbatch), "doc_id", "text", "s1"))
    val (la1, _) = timed(Dedup.appendToLineDfIndex(spark, ld1,
      lined(mbatch), "doc_id", "text", "s1"))
    report("linedf", "append_same_batch", la1, laN)
    val (lqN, lrN) = timed(Dedup.lineDfAgainstIndex(spark, ldN,
      lined(probe), "doc_id", "text").count())
    val (lq1, lr1) = timed(Dedup.lineDfAgainstIndex(spark, ld1,
      lined(probe), "doc_id", "text").count())
    report("linedf", "filter_against_index", lq1, lqN)
    println(s"SCALE_APPEND_ROWS linedf_filter x1=$lr1 x$factor=$lrN")

    // ---- containment (admitted-corpus shingle index) ----
    // Same controls as minhash: append batch = salted replica FACTOR
    // (disjoint vocabulary → novel shingles, novel ids — the id guard
    // admits it all), probe = an unsalted id-offset copy of the base
    // docs — every probe doc is an exact copy of a replica-0 history
    // doc (equal-size containment, history wins the tie), so the
    // verdict hit-set is identical at both scales and only the stored
    // shingle scan behind the broadcast candidate join grew.
    val (c1, cN) = (s"$scaleDir/ct_x1", s"$scaleDir/ct_x$factor")
    val (cbN, _) = timed(Dedup.buildContainmentIndex(
      scaledDocuments(docs, factor), "doc_id", "text", cN, maxDf = Some(100)))
    val (cb1, _) = timed(Dedup.buildContainmentIndex(
      docs, "doc_id", "text", c1, maxDf = Some(100)))
    report("containment", "build", cb1, cbN)
    val (caN, _) = timed(Dedup.appendToContainmentIndex(spark, cN,
      mbatch, "doc_id", "text", "s1"))
    val (ca1, _) = timed(Dedup.appendToContainmentIndex(spark, c1,
      mbatch, "doc_id", "text", "s1"))
    report("containment", "append_same_batch", ca1, caN)
    val (cqN, crN) = timed(Dedup.dropContainedAgainstIndex(spark, cN,
        probe, "doc_id", "text", tau = 0.8)
      .filter(col("is_contained")).count())
    val (cq1, cr1) = timed(Dedup.dropContainedAgainstIndex(spark, c1,
        probe, "doc_id", "text", tau = 0.8)
      .filter(col("is_contained")).count())
    report("containment", "drop_against_index", cq1, cqN)
    println(s"SCALE_APPEND_ROWS containment_query x1=$cr1 x$factor=$crN")

    // ---- sparse/BM25 (text inverted index), r16 ----
    // Same controls as minhash: the append batch's postings come from
    // SALTED replica docs (novel terms, novel ids), the probe's query
    // terms from five base docs — matches land only on replica-0
    // postings, so the weight-sum hit-set is identical at both scales
    // and only the bucket-pruned posting scan behind it grew.
    def posts(d: DataFrame) = graft.operators.Ingest
      .sparseTerms(d, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
    val (sp1, spN) = (s"$scaleDir/sp_x1", s"$scaleDir/sp_x$factor")
    val (sbN, _) = timed(Ann.buildSparseIndex(
      posts(scaledDocuments(docs, factor)), spN, buckets = 32))
    val (sb1, _) = timed(Ann.buildSparseIndex(posts(docs), sp1, buckets = 32))
    report("sparse", "build", sb1, sbN)
    val (saN, _) = timed(Ann.appendToSparseIndex(spark, spN,
      posts(mbatch), "s1"))
    val (sa1, _) = timed(Ann.appendToSparseIndex(spark, sp1,
      posts(mbatch), "s1"))
    report("sparse", "append_same_batch", sa1, saN)
    val sqterms = posts(docs.filter(col("doc_id") < 5))
      .select(col("id").as("qid"), col("term"), col("w").as("qw"))
    val (sqN, shN) = timed(
      Ann.searchSparseIndex(spark, spN, sqterms, k = 10).count())
    val (sq1, sh1) = timed(
      Ann.searchSparseIndex(spark, sp1, sqterms, k = 10).count())
    report("sparse", "search_weight_sum", sq1, sqN)
    println(s"SCALE_APPEND_ROWS sparse_search x1=$sh1 x$factor=$shN")

    // ---- retirement (rolling-window maintenance) ----
    // Drop the s1 segment just appended to both scales: the partition
    // delete is O(segment listing); the wall is dominated by the
    // sidecar rebuilds (one distinct scan of the SURVIVING index — the
    // honest O(index) cost, billed here as such; containment also
    // rewrites its ids sidecar)
    val (lrtN, _) = timed(IndexFamily.linedf.retireSrcs(spark, ldN, Seq("s1")))
    val (lrt1, _) = timed(IndexFamily.linedf.retireSrcs(spark, ld1, Seq("s1")))
    report("linedf", "retire_src", lrt1, lrtN)
    val (crtN, _) =
      timed(IndexFamily.containment.retireSrcs(spark, cN, Seq("s1")))
    val (crt1, _) =
      timed(IndexFamily.containment.retireSrcs(spark, c1, Seq("s1")))
    report("containment", "retire_src", crt1, crtN)
    // minhash/phash (r16): same protocol — drop the s1 segment appended
    // above at both scales; the partition delete is O(segment listing),
    // the wall is the ids-sidecar rebuild (one distinct scan of the
    // surviving payload — the honest O(index) cost, billed as such)
    val (mrtN, _) = timed(IndexFamily.minhash.retireSrcs(spark, mN, Seq("s1")))
    val (mrt1, _) = timed(IndexFamily.minhash.retireSrcs(spark, m1, Seq("s1")))
    report("minhash", "retire_src", mrt1, mrtN)
    val (prtN, _) = timed(IndexFamily.phash.retireSrcs(spark, phN, Seq("s1")))
    val (prt1, _) = timed(IndexFamily.phash.retireSrcs(spark, ph1, Seq("s1")))
    report("phash", "retire_src", prt1, prtN)
    // retired survivors answer identically to the never-appended index.
    // minhash: the salted s1 replica matched nothing, so the hit-set is
    // unchanged. phash: s1 was a VERBATIM vector copy, so at both
    // scales it contributed exactly the base corpus's match count —
    // pp1/2, since the x1 pre-retire index was base + s1 (a doubling) —
    // and retiring it removes exactly that share.
    val mrq = Dedup.dedupAgainstIndex(spark, mN, probe, "doc_id", "text").count()
    require(mrq == pN, s"minhash retire changed the probe hit-set: $mrq != $pN")
    val prq = Multimodal.dedupPhashAgainstIndex(spark, phN, pprobe,
      "id", "features").count()
    require(prq == ppN - pp1 / 2,
      s"phash retire did not drop exactly the s1 segment's matches: " +
        s"$prq != $ppN - ${pp1 / 2}")
    // IVF (r16): retire the "ingest" segment the appends above created
    // at both scales — same O(segment listing) delete + O(survivors)
    // ids-sidecar rebuild protocol as the text families; the vector
    // store ages out a crawl day without touching surviving cells
    val (irtN, _) = timed(IndexFamily.ivf.retireSrcs(spark, dN, Seq("ingest")))
    val (irt1, _) = timed(IndexFamily.ivf.retireSrcs(spark, d1, Seq("ingest")))
    report("ivf", "retire_src", irt1, irtN)
    // sparse (r16): the salted s1 segment matched nothing, so the
    // weight-sum hit-set must be unchanged after retiring it; the wall
    // is the ids-sidecar rebuild + BM25 stats re-derivation
    val (srtN, _) = timed(IndexFamily.sparse.retireSrcs(spark, spN, Seq("s1")))
    val (srt1, _) = timed(IndexFamily.sparse.retireSrcs(spark, sp1, Seq("s1")))
    report("sparse", "retire_src", srt1, srtN)
    val srq = Ann.searchSparseIndex(spark, spN, sqterms, k = 10).count()
    require(srq == shN,
      s"sparse retire changed the weight-sum hit-set: $srq != $shN")
    // survivors answer exactly like the never-appended index: the x1
    // build corpus alone, at full probe = exact brute force over it
    val ivfGot = Ann.searchIvfIndex(spark, d1, qs, k = 10, nprobe = 16)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfWant = Ann.bruteForceTopK(emb, qs, k = 10)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(ivfGot == ivfWant,
      "IVF retire changed the survivor ranking vs the never-appended corpus")

    // ---- exact takedown (tombstone → probe → compact), r16 ----
    // Tombstone every 3rd replica-0 TEXT at both scales: the delete is
    // O(tombstoned fps) — no payload rewrite — so its wall must be
    // ~flat in stored-history size; the probe's dup hit-set shrinks to
    // the surviving fps IDENTICALLY at both scales (the probe only
    // ever matches replica-0 fps); compaction is the honest O(index)
    // rewrite, billed as such; the post-compact probe must reproduce
    // the tombstoned verdicts bit-for-bit.
    val delTexts = docs.filter(col("doc_id") % 3 === 0).select("text")
    val (tdN, _) = timed(
      Dedup.deleteFromExactIndex(spark, eN, delTexts, "text"))
    val (td1, _) = timed(
      Dedup.deleteFromExactIndex(spark, e1, delTexts, "text"))
    report("exact", "takedown_tombstone", td1, tdN)
    val (tqN, tdupN) = timed(Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    val (tq1, tdup1) = timed(Dedup.dedupExactAgainstIndex(spark, e1, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    report("exact", "probe_after_takedown", tq1, tqN)
    println(s"SCALE_APPEND_ROWS exact_takedown_probe x1=$tdup1 x$factor=$tdupN")
    require(tdup1 == tdupN,
      s"takedown verdicts diverged across scales: $tdup1 != $tdupN")
    require(tdup1 < dup1,
      s"takedown removed nothing from the probe hit-set ($tdup1 vs $dup1)")
    // day-sized tombstone regime (r18): a sighting-window retire makes
    // deleted_fps DAY-sized between compactions, where the probe's
    // anti-join must plan a shuffle instead of a forced broadcast
    // (Dedup.hintTombstones size dispatch). Same tombstone table, both
    // regimes driven at the FACTOR× index (cap=0 forces the over-cap
    // path); verdicts must be bit-identical and the shuffle regime
    // must land in the same cost class, not a cliff.
    val (tbB, vB) = timed(Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    spark.conf.set(Dedup.TombstoneBroadcastCapKey, "0")
    val (tbS, vS) = timed(Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count())
    spark.conf.unset(Dedup.TombstoneBroadcastCapKey)
    report("exact", "probe_tombstones_shuffle_vs_broadcast", tbB, tbS)
    require(vB == vS,
      s"tombstone dispatch changed probe verdicts: $vB != $vS")
    val (tcN, _) = timed(Dedup.compactExactIndex(spark, eN))
    val (tc1, _) = timed(Dedup.compactExactIndex(spark, e1))
    report("exact", "compact_after_takedown", tc1, tcN)
    val postCompact = Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count()
    require(postCompact == tdupN,
      s"compaction changed takedown verdicts: $postCompact != $tdupN")
    // exact retire (r16): drop the salted "ingest" segment appended
    // above at both scales — O(segment) partition drop + the bloom
    // rebuild from survivors (the unsaturation cost, billed here);
    // the probe only ever matches base fps, so its hit-set must be
    // unchanged by the retirement
    val (ertN, _) =
      timed(IndexFamily.exact.retireSrcs(spark, eN, Seq("ingest")))
    val (ert1, _) =
      timed(IndexFamily.exact.retireSrcs(spark, e1, Seq("ingest")))
    report("exact", "retire_src", ert1, ertN)
    val postRetire = Dedup.dedupExactAgainstIndex(spark, eN, probe,
      "doc_id", "text").filter(col("is_dup")).count()
    require(postRetire == tdupN,
      s"exact retire changed the probe hit-set: $postRetire != $tdupN")

    // ---- domain-cap ledger (per-domain admission budgets), r16 ----
    // 50 domains derive from doc_id; replica i > 0 SALTS its domains
    // (the vocabulary-salting control): the probe's domains live only
    // in segment s0, so its verdicts are IDENTICAL at both scales while
    // the stored counts table holds FACTOR× segments — what grows is
    // exactly what the domain-semi-pruned probe must NOT pay for.
    def urled(d: DataFrame, salt: Int) = d.select(
      col("doc_id").as("id"),
      concat(lit("http://d"), pmod(col("doc_id"), lit(50)),
        lit(if (salt == 0) "" else s"x$salt"), lit(".com/p"),
        col("doc_id")).as("url"),
      (col("doc_id") % 1000L).as("q"))
    val capN = (docs.count() / 50L + 3L).toInt
    val (g1, gN) = (s"$scaleDir/dc_x1", s"$scaleDir/dc_x$factor")
    Dedup.initDomainCapLedger(spark, g1, capN)
    Dedup.initDomainCapLedger(spark, gN, capN)
    (0 until factor).foreach { i =>
      val seg = urled(docReplica(docs, i, doff), i)
      val v = Dedup.capAgainstLedger(spark, gN, seg, "id", "url", "q")
      Dedup.appendToDomainCapLedger(spark, gN, v, s"s$i")
      if (i == 0) Dedup.appendToDomainCapLedger(spark, g1,
        Dedup.capAgainstLedger(spark, g1, seg, "id", "url", "q"), "s0")
    }
    val dcProbe = urled(
      docs.withColumn("doc_id", col("doc_id") + lit((factor + 1L) * doff)), 0)
    val (dpN, admN) = timed(Dedup.capAgainstLedger(spark, gN, dcProbe,
      "id", "url", "q").filter(col("admitted")).count())
    val (dp1, adm1) = timed(Dedup.capAgainstLedger(spark, g1, dcProbe,
      "id", "url", "q").filter(col("admitted")).count())
    report("domaincap", "probe_against_ledger", dp1, dpN)
    println(s"SCALE_APPEND_ROWS domaincap_probe x1=$adm1 x$factor=$admN")
    require(adm1 == admN,
      s"ledger verdicts diverged across scales: $adm1 != $admN")
    val (daN, _) = timed(Dedup.appendToDomainCapLedger(spark, gN,
      Dedup.capAgainstLedger(spark, gN, dcProbe, "id", "url", "q"), "probe"))
    val (da1, _) = timed(Dedup.appendToDomainCapLedger(spark, g1,
      Dedup.capAgainstLedger(spark, g1, dcProbe, "id", "url", "q"), "probe"))
    report("domaincap", "append_verdicts", da1, daN)
    val (drtN, _) =
      timed(IndexFamily.domainCap.retireSrcs(spark, gN, Seq("probe")))
    val (drt1, _) =
      timed(IndexFamily.domainCap.retireSrcs(spark, g1, Seq("probe")))
    report("domaincap", "retire_src", drt1, drtN)
    val regrown = Dedup.capAgainstLedger(spark, gN, dcProbe,
      "id", "url", "q").filter(col("admitted")).count()
    require(regrown == admN,
      s"retiring the probe segment did not regenerate its budget: " +
        s"$regrown != $admN")

    // ---- bloom saturation → rebuild recovery ----
    // Build sized for N docs, append FACTOR salted replicas: the sidecar
    // now holds (factor+1)·N items at the original N sizing — the
    // many-append saturation a year of daily ingest produces. Probe with
    // an ALL-NOVEL batch (replica factor+1: every fp unseen), the worst
    // case for the prune: a healthy bloom rejects ~everything before the
    // confirm join; a saturated one passes ~everything through it. The
    // saturated probe runs TWICE (cold, then warm) so the rebuild
    // comparison is warm-vs-warm, not a page-cache artifact.
    val bdir = s"$scaleDir/ex_bloom"
    Dedup.buildExactIndex(docs, "doc_id", "text", bdir)
    (1 to factor).foreach { i =>
      Dedup.appendToExactIndex(spark, bdir, docReplica(docs, i, doff),
        "doc_id", "text")
    }
    def fppEst(): Double = graft.operators.IndexFiles
      .describeIndex(spark, bdir).filter(col("table") === "bloom")
      .select("fpp_est").head().getDouble(0)
    val novel = docReplica(docs, factor + 1, doff)
    def probeNovel(): (Double, Long) =
      timed(Dedup.dedupExactAgainstIndex(spark, bdir, novel,
        "doc_id", "text").filter(col("is_dup")).count())
    // the prune metric that matters at scale: how much of the novel
    // batch survives the bloom and pays the confirm join — at 100 TB of
    // history the confirm join's cost tracks THIS, not the local wall
    def bloomSurvivors(): Long = {
      import graft.functions.{TextFunctions => T}
      import org.apache.spark.sql.graft.{SketchExpressions => SK}
      val bytes = spark.read.parquet(s"$bdir/bloom").head()
        .getAs[Array[Byte]]("bloom")
      novel.select(T.fingerprintMd5(col("text")).as("fp"))
        .filter(SK.mightContain(lit(bytes), xxhash64(col("fp")))).count()
    }
    val fppSat = fppEst()
    val survSat = bloomSurvivors()
    probeNovel() // cold discard
    val (pSat, hitsSat) = probeNovel()
    val (rb, _) = timed(Dedup.rebuildExactSidecar(spark, bdir))
    val fppRe = fppEst()
    val survRe = bloomSurvivors()
    val (pRe, hitsRe) = probeNovel()
    require(hitsSat == 0 && hitsRe == 0,
      s"novel probe found dups ($hitsSat/$hitsRe) — corpus salting broke")
    println(f"SCALE_BLOOM fpp_sat=$fppSat%.4f,fpp_rebuilt=$fppRe%.4f," +
      f"confirm_rows_sat=$survSat,confirm_rows_rebuilt=$survRe," +
      f"probe_sat_s=$pSat%.2f,probe_rebuilt_s=$pRe%.2f,rebuild_s=$rb%.2f")
  }

  /** BPE-trainer scale evidence: train the same merge count at 1× and
    * FACTOR× the documents table. The trainer's wall is one corpus
    * shuffle (word counts) + vocab-bounded iterations; the salted
    * FACTOR× corpus grows the VOCABULARY by ~factor too (disjoint
    * per-replica vocabularies — the conservative direction: a real 10×
    * crawl repeats mostly the SAME words, keeping iterations flat), so
    * wall should track factor at worst, never the per-iteration
    * corpus re-scan a naive trainer would pay. FACTOR× runs first
    * (cold), same protocol as the other modes. */
  def bpeLifecycle(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, factor: Int, merges: Int = 8): Unit = {
    import graft.operators.Bpe
    val docs = Tables.load(spark, baseDir, "documents")
    val docsN = scaledDocuments(docs, factor)
    def timed(df: DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = Bpe.train(df, "text", merges).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tN, rN) = timed(docsN)
    val (t1, r1) = timed(docs)
    println(f"SCALE_BPE merges=$merges,$t1%.2f,$tN%.2f,${tN / t1}%.2f,$r1,$rN")
    // tokenize (the deployment pass): train once on the 1× corpus,
    // apply the SAME rules to both scales — the per-doc expansion is a
    // narrow broadcast-join pass, so wall should track rows, never the
    // vocabulary loop. FACTOR× first (cold), same protocol as train.
    val rules = graft.operators.Bpe.train(docs, "text", merges)
    def timedTok(df: DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = graft.operators.Bpe.tokenize(df, "doc_id", "text", rules).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (kN, sN) = timedTok(docsN)
    val (k1, s1) = timedTok(docs)
    println(f"SCALE_BPE_TOKENIZE $k1%.2f,$kN%.2f,${kN / k1}%.2f,$s1,$sN")
    // coverage (the drift report): tokenizer FIXED (1× rules + 1×
    // reference vocabulary), corpus scales — the deployment shape
    // where a yesterday-trained tokenizer audits today's crawl
    def timedCov(df: DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = Bpe.coverage(df, "doc_id", "text", rules, docs, "text")
        .count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (cN, vN) = timedCov(docsN)
    val (c1, v1) = timedCov(docs)
    println(f"SCALE_BPE_COVERAGE $c1%.2f,$cN%.2f,${cN / c1}%.2f,$v1,$vN")
  }

  /** Bulk-vs-sequential window retirement walls — the catch-up-backlog
    * measurement behind the r16 bulk retire protocol: build two
    * IDENTICAL stores per family, append `nSegs` daily segments to
    * each, then age all but the newest out (a) one retire*Src call per
    * segment — the pre-bulk protocol, each call paying its own heal +
    * sidecar rebuild over the survivors — and (b) the window's single
    * bulk call. Survivor payloads are asserted IDENTICAL before any
    * wall is reported (a fast wrong answer is not a result). Families:
    * line-df (bloom sidecar rebuild — the expensive one) and IVF (ids
    * sidecar). */
  def bulkRetireBench(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, nSegs: Int): Unit = {
    import graft.operators.{Ann, Dedup}
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def rows(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val docs = Tables.load(spark, baseDir, "documents")
    val vecs = Tables.load(spark, baseDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val root = java.nio.file.Files.createTempDirectory("bulkret").toString
    val tags = (1 to nSegs).map(i => f"d$i%02d")
    val doomed = tags.dropRight(1)
    Seq("seq", "bulk").foreach { m =>
      Dedup.buildLineDfIndex(docs.filter(col("doc_id") % (nSegs + 1) === 0),
        "doc_id", "text", s"$root/$m/lines")
      tags.zipWithIndex.foreach { case (tag, i) =>
        Dedup.appendToLineDfIndex(spark, s"$root/$m/lines",
          docs.filter(col("doc_id") % (nSegs + 1) === (i + 1)),
          "doc_id", "text", tag)
      }
      Ann.buildIvfIndex(vecs.filter(col("id") % (nSegs + 1) === 0),
        s"$root/$m/ivf", nlist = 8)
      tags.zipWithIndex.foreach { case (tag, i) =>
        Ann.appendToIvfIndex(spark, s"$root/$m/ivf",
          vecs.filter(col("id") % (nSegs + 1) === (i + 1)), tag)
      }
    }
    val linedfSeq = timed {
      doomed.foreach(t =>
        IndexFamily.linedf.retireSrcs(spark, s"$root/seq/lines", Seq(t)))
    }
    val linedfBulk = timed {
      require(IndexFamily.linedf.retireWindow(spark, s"$root/bulk/lines",
        keep = 1) == doomed)
    }
    require(rows(s"$root/seq/lines/lines") == rows(s"$root/bulk/lines/lines"),
      "bulk line-df retirement diverged from sequential")
    val ivfSeq = timed {
      doomed.foreach(t =>
        IndexFamily.ivf.retireSrcs(spark, s"$root/seq/ivf", Seq(t)))
    }
    val ivfBulk = timed {
      require(IndexFamily.ivf.retireWindow(spark, s"$root/bulk/ivf", keep = 1)
        == doomed)
    }
    require(rows(s"$root/seq/ivf/cells") == rows(s"$root/bulk/ivf/cells") &&
      rows(s"$root/seq/ivf/ids") == rows(s"$root/bulk/ivf/ids"),
      "bulk IVF retirement diverged from sequential")
    println(f"SCALE_BULKRETIRE linedf segs=${doomed.size} " +
      f"seq=$linedfSeq%.2f bulk=$linedfBulk%.2f")
    println(f"SCALE_BULKRETIRE ivf segs=${doomed.size} " +
      f"seq=$ivfSeq%.2f bulk=$ivfBulk%.2f")
  }

  /** Snapshot/restore cost at two stored-index sizes, against the only
    * alternative recovery path (a full rebuild): build IVF on the base
    * and factor× vector sets, time snapshotIndex / restoreIndex at
    * each, and assert the restored search answers EXACTLY like the
    * pre-snapshot one after a takedown+compaction mutated the live
    * index. Both snapshot and restore are O(index bytes) by design —
    * the honest claim is the ratio TO REBUILD at the same size, not a
    * flat wall. */
  def snapshotBench(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, factor: Int): Unit = {
    import graft.operators.{Ann, Maintenance}
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val emb = Tables.load(spark, baseDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    def point(label: String, vecs: DataFrame): Unit = {
      val root = java.nio.file.Files.createTempDirectory("snapbench").toString
      val pinned = vecs.persist()
      val n = pinned.count()
      val tBuild = timed(Ann.buildIvfIndex(pinned, s"$root/ivf", nlist = 64))
      val qs = pinned.filter(col("id") < 5)
        .select(col("id").as("qid"), col("v").as("qv"))
      def search() = Ann.searchIvfIndex(spark, s"$root/ivf", qs, k = 10,
        nprobe = 8).collect().map(_.toString).sorted.toSeq
      val before = search()
      val tSnap = timed(Maintenance.snapshotIndex(spark, s"$root/ivf",
        s"$root/bak"))
      IndexFiles.writeTombstones(
        pinned.filter(col("id") % 4 === 0).select("id"), s"$root/ivf")
      IndexFamily.ivf.compact(spark, s"$root/ivf")
      require(search() != before, "mutation did not change the search")
      val tRestore = timed(Maintenance.restoreIndex(spark, s"$root/bak",
        s"$root/ivf"))
      require(search() == before,
        s"$label: restored search diverged from the snapshot point")
      pinned.unpersist()
      println(f"SCALE_SNAPSHOT $label n=$n build=$tBuild%.2f " +
        f"snapshot=$tSnap%.2f restore=$tRestore%.2f verdicts=identical")
    }
    point("x1", emb)
    point(s"x$factor", scaledVectors(emb, factor))
  }

  /** Snapshot wall vs FILE COUNT — the r17 claim under test: the
    * distributed copy (one Spark job over the file list,
    * Maintenance.snapshotIndex) flattens where the retired r16
    * driver-sequential loop (reproduced here verbatim as the baseline)
    * grows linearly in files. Total BYTES are held constant across
    * points — the same data sliced into factor× more part files — so
    * the ratio isolates pure per-file overhead, the term that
    * dominates a millions-of-segment-files production tree. */
  def snapshotFilesBench(spark: org.apache.spark.sql.SparkSession,
      factor: Int): Unit = {
    import graft.operators.Maintenance
    val conf = spark.sparkContext.hadoopConfiguration
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def walk(fs: org.apache.hadoop.fs.FileSystem,
        root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
      def go(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) go(st.getPath) else out += st.getPath
        }
      go(root); out.result()
    }
    // the retired r16 path, kept ONLY as the bench baseline
    def seqCopy(src: String, dst: String): Unit = {
      val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
      val prefix = fs.makeQualified(new org.apache.hadoop.fs.Path(src))
        .toString + "/"
      walk(fs, new org.apache.hadoop.fs.Path(src)).foreach { p =>
        val rel = fs.makeQualified(p).toString.stripPrefix(prefix)
        val d = new org.apache.hadoop.fs.Path(s"$dst/$rel")
        fs.mkdirs(d.getParent)
        require(org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, d,
          false, conf))
      }
    }
    val totalRows = 40000L // constant bytes at every point
    def point(label: String, files: Int): Unit = {
      val root = java.nio.file.Files.createTempDirectory("snapfiles").toString
      spark.range(0, totalRows).toDF("x").repartition(files)
        .write.mode("overwrite").parquet(s"$root/t")
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val n = walk(fs, new org.apache.hadoop.fs.Path(s"$root/t")).size
      val tDist = timed(Maintenance.snapshotIndex(spark, s"$root/t",
        s"$root/bakD"))
      val tSeq = timed(seqCopy(s"$root/t", s"$root/bakS"))
      val nd = walk(fs, new org.apache.hadoop.fs.Path(s"$root/bakD")).size
      val ns = walk(fs, new org.apache.hadoop.fs.Path(s"$root/bakS")).size
      require(nd == n + 1 && ns == n, // +1: the snapshot manifest
        s"copies incomplete: src=$n dist=$nd seq=$ns")
      println(f"SCALE_SNAPFILES $label files=$n dist=$tDist%.2f " +
        f"seq=$tSeq%.2f")
    }
    point("x1", 200)
    point(s"x$factor", 200 * factor)
  }

  /** Cosine-admission probe cost against a factor× stored LSH history.
    * The stored side is verbatim replicas with offset ids, so every
    * probe's best neighbor keeps the SAME cosine and the tie-break
    * (cos desc, id asc) lands on the ORIGINAL id — verdicts must be
    * bit-identical at both scales, asserted before any wall is
    * reported. The claim under test: the probe is bounded by the
    * bucket-pruned candidate set, never the history size. */
  def cosineDedupBench(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, factor: Int): Unit = {
    import graft.operators.{Ann, Dedup}
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val emb = Tables.load(spark, baseDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val evens = emb.filter(col("id") % 2 === 0)
    val batch = emb.filter(col("id") % 2 === 1)
      .select(col("id").as("vec_id"), col("v").as("embedding"))
    def point(label: String, stored: DataFrame): (String, Seq[String]) = {
      val root = java.nio.file.Files.createTempDirectory("cosbench").toString
      Ann.buildLshIndex(stored, s"$root/idx", dim = 64, planes = 6,
        tables = 4)
      val n = spark.read.parquet(s"$root/idx/buckets")
        .select("id").distinct().count()
      val (sec, rows) = timed(
        Dedup.cosineDedupAgainstIndex(spark, s"$root/idx", batch,
            "vec_id", "embedding", tau = 0.4)
          .collect().map(_.toString).sorted.toSeq)
      (f"SCALE_COSDEDUP $label stored=$n probe=$sec%.2f " +
        f"verdicts=${rows.size}", rows)
    }
    val (line1, v1) = point("x1", evens)
    val (lineN, vN) = point(s"x$factor", scaledVectors(evens, factor))
    // the invariant gates the report: walls only print for a run whose
    // verdicts actually matched across scales
    require(v1 == vN,
      s"verdicts diverged between scales (${v1.size} vs ${vN.size})")
    println(line1); println(lineN)
    println(s"SCALE_COSDEDUP verdicts=identical n=${v1.size}")
  }

  /** SCALE rows for the sighting-window retires (r19): per family
    * (exact_seen / minhash_seen / phash_seen), build the sighted
    * history at 1× and FACTOR×, append ONE day that re-sights
    * everything except a FIXED base-sized doomed set (replica-0 docs
    * with id %20 == 0 are not replayed — their last sighting stays
    * d0), time the retire (keep=1: the build day ages out), and
    * assert the fixed base-corpus probe's verdicts are IDENTICAL at
    * both scales — survivor identity: the doomed set is forgotten and
    * the touched set survives under its ORIGINAL ids no matter how
    * much surrounding history grew. The d1 day is history-sized by
    * construction (touch-on-reject re-sights ~everything), so the
    * appended-day wall bounds the worst steady-state day while the
    * dead set stays takedown-sized — exactly the claim on the retire
    * docstrings. Phash replicas flip the signs of a ≥8-bit 16-bit
    * mask per replica (pairwise hamming ≥ 8 > maxHam=2), so
    * cross-replica matches cannot blur survivor identity; zero-norm
    * features are excluded up front (all-zero vectors replicate to
    * hamming-0 copies of themselves). */
  def sightedRetireBench(spark: org.apache.spark.sql.SparkSession,
      baseDir: String, factor: Int): Unit = {
    import graft.operators.{Dedup, Multimodal}
    def timed[A](f: => A): (Double, A) = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    def report(family: String, op: String, x1: Double, xN: Double): Unit =
      println(f"SCALE_SIGHTED $family,$op,$x1%.2f,$xN%.2f,${xN / x1}%.2f")
    val docs = Tables.load(spark, baseDir, "documents")
    val doff = maxIdOffset(docs, "doc_id", "sightedRetire: documents")
    require(factor < 50, s"replay id offsets assume factor < 50: $factor")

    // one family point: build sighted d0 on `stored`, append the
    // everything-but-doomed replay day, time the retire, probe with
    // the fixed base set; returns (appendW, retireW, dead, verdicts)
    def point(stored: DataFrame, off: Long,
        build: (DataFrame, String) => Unit,
        append: (DataFrame, String) => Unit,
        retire: String => Seq[String],
        probe: String => Seq[String],
        deadTable: String): (Double, Double, Long, Seq[String]) = {
      val idx = java.nio.file.Files.createTempDirectory("sightedret")
        .toString + "/idx"
      build(stored, idx)
      val replay = stored
        .filter(!(col("id") < off && col("id") % 20 === 0))
        .withColumn("id", col("id") + lit(100L * off))
      val (aw, _) = timed(append(replay, idx))
      val (rw, tags) = timed(retire(idx))
      require(tags == Seq("d0"), s"expected to retire d0, got $tags")
      // a doomed set fully re-sighted through natural near-dup
      // partners writes no tombstone table at all — report 0, not a
      // missing-path crash
      val deadP = new org.apache.hadoop.fs.Path(s"$idx/$deadTable")
      val dead =
        if (deadP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(deadP))
          spark.read.parquet(s"$idx/$deadTable").distinct().count()
        else 0L
      (aw, rw, dead, probe(idx))
    }
    val wanted = sys.env.get("SPARK_GRAFT_SIGHTED_FAMILY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    def run(family: String,
        stored1: DataFrame, storedN: DataFrame, off: Long,
        build: (DataFrame, String) => Unit,
        append: (DataFrame, String) => Unit,
        retire: String => Seq[String],
        probe: String => Seq[String],
        deadTable: String): Unit = {
      if (!wanted.forall(_.contains(family))) return
      // FACTOR× first: warmth flows x1-ward (the appendLifecycle
      // conservative ordering)
      val (awN, rwN, deadN, vN) =
        point(storedN, off, build, append, retire, probe, deadTable)
      val (aw1, rw1, dead1, v1) =
        point(stored1, off, build, append, retire, probe, deadTable)
      require(v1 == vN,
        s"$family survivor verdicts diverged between scales " +
          s"(${v1.size} vs ${vN.size})")
      report(family, "append_replay_day", aw1, awN)
      report(family, "retire_seen_keep1", rw1, rwN)
      println(s"SCALE_SIGHTED_ROWS $family dead_x1=$dead1 " +
        s"dead_x$factor=$deadN verdicts=identical n=${v1.size}")
    }

    // ---- exact_seen ----
    val exDocs = docs.select(col("doc_id").as("id"), col("text"))
    val exProbe = exDocs.withColumn("id", col("id") + lit(200L * doff))
    run("exact_seen",
      exDocs,
      scaledDocuments(docs, factor).select(col("doc_id").as("id"), col("text")),
      doff,
      (df, idx) => Dedup.buildExactIndexSighted(df, "id", "text", idx, "d0"),
      (df, idx) => Dedup.appendToExactIndexSighted(spark, idx, df,
        "id", "text", "d1"),
      idx => IndexFamily.exact.retireSeenWindow(spark, idx, keep = 1),
      idx => Dedup.dedupExactAgainstIndex(spark, idx, exProbe, "id", "text")
        .collect().map(_.toString).sorted.toSeq,
      "deleted_fps")

    // ---- minhash_seen ----
    run("minhash_seen",
      exDocs,
      scaledDocuments(docs, factor).select(col("doc_id").as("id"), col("text")),
      doff,
      (df, idx) => Dedup.buildMinhashIndexSighted(df, "id", "text", idx, "d0"),
      (df, idx) => Dedup.appendToMinhashIndexSighted(spark, idx, df,
        "id", "text", "d1", tau = 0.5),
      idx => IndexFamily.minhash.retireSeenWindow(spark, idx, keep = 1),
      idx => Dedup.dedupAgainstIndex(spark, idx, exProbe, "id", "text",
          tau = 0.5)
        .collect().map(_.toString).sorted.toSeq,
      "deleted")

    // ---- phash_seen ----
    // 60-bit signature space (dim = 60, the family's Long-packed
    // ceiling): a 16-bit space is too dense for 20k assets —
    // cross-replica sig collisions between DIFFERENT base assets
    // (S_a ⊕ S_b = m_i ⊕ m_j) land ~30 extra matches per replica
    // pair and break the survivor-identity assert. Replica i flips
    // the sign of whole 12-component BLOCKS (identity, the 5 single
    // blocks, then block pairs): pairwise mask distance ≥ 12 >>
    // maxHam=2, so no replica can enter another's hamming ball;
    // natural near-dup families inside the base corpus remain,
    // identically at both scales.
    val blockSets: Seq[Set[Int]] =
      Set.empty[Int] +: (0 until 5).map(Set(_)) ++:
        (for (a <- 0 until 5; b <- a + 1 until 5) yield Set(a, b))
    require(factor <= blockSets.size,
      s"need a block mask per replica: $factor > ${blockSets.size}")
    val emb = Tables.load(spark, baseDir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(exists(col("v"), x => abs(x) > 1e-12))
    val eoff = maxIdOffset(emb, "id", "sightedRetire: embeddings")
    def flipped(i: Int): DataFrame = {
      val maskLit = array(Seq.tabulate(64)(j =>
        lit(if (j < 60 && blockSets(i).contains(j / 12)) -1.0 else 1.0)): _*)
      emb.withColumn("id", col("id") + lit(i * eoff))
        .withColumn("v", zip_with(col("v"), maskLit, (x, m) => x * m))
    }
    val phStoredN = (0 until factor).map(flipped).reduce(_ unionByName _)
    val phProbe = emb.withColumn("id", col("id") + lit(200L * eoff))
    run("phash_seen",
      flipped(0),
      phStoredN,
      eoff,
      (df, idx) => Multimodal.buildPhashIndexSighted(df, "id", "v", idx,
        dim = 60, day = "d0", maxHam = 2, thresh = 0.0),
      (df, idx) => Multimodal.appendToPhashIndexSighted(spark, idx, df,
        "id", "v", "d1"),
      idx => IndexFamily.phash.retireSeenWindow(spark, idx, keep = 1),
      idx => Multimodal.dedupPhashAgainstIndex(spark, idx, phProbe,
          "id", "v")
        .collect().map(_.toString).sorted.toSeq,
      "deleted")
  }

  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    sys.env.get("SPARK_GRAFT_SCALE_MODE") match {
      case Some("append") =>
        appendLifecycle(spark, baseDir, scaleDir, factor)
        spark.stop()
        return
      case Some("stream") =>
        streamLifecycle(spark, baseDir, factor)
        spark.stop()
        return
      case Some("bpe") =>
        bpeLifecycle(spark, baseDir, factor)
        spark.stop()
        return
      case Some("bulkretire") =>
        bulkRetireBench(spark, baseDir, factor)
        spark.stop()
        return
      case Some("snapshot") =>
        snapshotBench(spark, baseDir, factor)
        spark.stop()
        return
      case Some("snapfiles") =>
        snapshotFilesBench(spark, factor)
        spark.stop()
        return
      case Some("cosdedup") =>
        cosineDedupBench(spark, baseDir, factor)
        spark.stop()
        return
      case Some("sightedretire") =>
        sightedRetireBench(spark, baseDir, factor)
        spark.stop()
        return
      case Some(other) if other != "heavy" =>
        throw new IllegalArgumentException(
          s"unknown SPARK_GRAFT_SCALE_MODE=$other " +
            "(expected heavy|append|stream|bpe|bulkretire|snapshot|snapfiles|cosdedup|sightedretire)")
      case _ => ()
    }

    scaledDocuments(Tables.load(spark, baseDir, "documents"), factor)
      .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
    // the embeddings table scales alongside (verbatim vectors, offset
    // ids — aligned with the doc replicas' id offsets since both id
    // domains match), so vector-reading heavy queries (q_rerank) can
    // run against the scaled dir too
    scaledVectors(Tables.load(spark, baseDir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("v"),
          col("label")),
        factor)
      .select(col("id").as("vec_id"), col("v").as("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
    val nBase = Tables.load(spark, baseDir, "documents").count()
    val nScaled = Tables.load(spark, scaleDir, "documents").count()
    println(s"SCALE_CORPUS base=$nBase scaled=$nScaled factor=$factor")

    // local-iteration escape hatch (the Bench SPARK_GRAFT_ONLY shape):
    // measure a subset of the heavy family without re-running the rest;
    // unknown names are fatal, not silently dropped
    val selected = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case None => heavy
      case Some(names) =>
        val unknown = names.diff(heavy.toSet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_SCALE_ONLY names not in Scale.heavy: ${unknown.toSeq.sorted.mkString(", ")}")
        heavy.filter(names.contains)
    }

    def run(dir: String, label: String, parts: Int): Seq[(String, Double, Long)] = {
      // shuffle partitions sized to the point's data — the SURVEY §5
      // sizing rule made operational: a 100× corpus through the graded
      // 32 partitions packs ~7M shingle rows per aggregation task and
      // OOMs the 8g heap (measured r15); growing partitions with the
      // data is exactly what a production job does, and each point
      // paying its own (data-proportional) partition count is the
      // honest comparison
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      selected.map { name =>
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(name)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE_Q $label $name%-22s ${sec}%8.2f s  $rows%9d rows")
        (name, sec, rows)
      }
    }

    // scaled first so the 1× point doesn't donate page-cache/JIT warmth
    // it wouldn't have in a cold bench run; within a point the order is
    // the bench's own (alphabetical-ish via `heavy`)
    val basePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scaledPartitions =
      math.min(512, basePartitions * math.max(1, factor / 10))
    val scaled = run(scaleDir, s"x$factor", scaledPartitions)
    val base = run(baseDir, "x1", basePartitions)
    println("SCALE_TABLE query,base_s,scaled_s,ratio,base_rows,scaled_rows")
    base.zip(scaled).foreach { case ((n, bs, br), (_, ss, sr)) =>
      println(f"SCALE_ROW $n,$bs%.2f,$ss%.2f,${ss / bs}%.2f,$br,$sr")
    }
    spark.stop()
  }
}
