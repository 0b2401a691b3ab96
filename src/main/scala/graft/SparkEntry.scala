package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}
import graft.operators.{Aliases, Ann, Bpe, Chunker, Collections, Curate, Dedup,
  IndexFamily, IndexFiles, Ingest, Maintenance, MlEmbed, Multimodal, Stats, Tag}
import graft.sources.JsonlSource
import graft.streaming.Events

/** Driver contract — every operator from SURVEY.md §2 exposed as a
  * named query plus (where SQL-expressible) a DuckDB oracle over the
  * same parquet tables. Cross-engine rules: integer outputs are BIGINT,
  * floats are rounded (2–4 dp) on BOTH sides, orderings carry explicit
  * tiebreaks, md5 is the only hash primitive.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship: the full reference ingest pipeline (embed_to_milvus.py
    * run flow) on the documents table — reformat → exists-check →
    * chunk → dense+sparse embed → Milvus bulk-row assembly. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val docs = t(spark, dir, "documents")
    val existing = t(spark, dir, "embeddings")
      .filter(col("label") < 3).select(col("vec_id").as("file_id"))
    Ingest.pipeline(docs, existing, dim = 64)
  }

  // ---- relational core -------------------------------------------------

  private def q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n"))

  private def q3(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  private def q5(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val sup = t(s, dir, "supplier")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running",
        round(sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select(col("o_orderkey"), col("rn"), col("running"))
  }

  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    t(s, dir, "part")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rn"))
  }

  // ---- reference surface ----------------------------------------------

  private def qCleanTitle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), T.cleanTitle(substring(col("text"), 1, 60)).as("title"))

  private def qReformat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        T.reformatDoc(substring(col("text"), 1, 40), lit("2025-08-12"),
          col("source"), col("text")).as("doc"))

  private def qChunkFixed(s: SparkSession, dir: String): DataFrame =
    Chunker.fixedChunks(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text", 120, 20)
      .select(col("doc_id"), col("block_id").cast("long"), col("content"))

  /** Recursive splitter, now hash-exact: on the graded corpus the only
    * separator present is " " (no markup/newline/CJK punctuation, no
    * word over `size`, no doubled/edge spaces), so the full recursion
    * reduces to its innermost case — greedy word-wrap at `size` joined
    * by single spaces — which the DuckDB oracle replays as a recursive
    * CTE over word indexes. The guard makes that reduction a CONTRACT:
    * corpus drift that re-activates a higher separator (or the
    * hard-wrap path the oracle can't express) fails loudly here instead
    * of surfacing as a bare hash mismatch. */
  private def qChunkRecursive(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val higherSeps = Chunker.defaultSeparators.dropRight(1)
    // scoped to docs the recursion actually splits: at <= size both
    // engines emit the doc whole regardless of separators, so a short
    // doc gaining a newline is harmless drift, not an oracle breach
    val violating = docs.filter(length(col("text")) > 120 && (
      higherSeps.map(sep => col("text").contains(sep)).reduce(_ || _) ||
      exists(split(col("text"), " ", -1), w => length(w) > 120) ||
      col("text").contains("  ") ||
      col("text").startsWith(" ") || col("text").endsWith(" ") ||
      // astral-plane chars: the chunker wraps on Java String offsets
      // (UTF-16 code units — a non-BMP char counts 2) while the DuckDB
      // CTE counts codepoints, so the engines could disagree on wrap
      // points without any other clause tripping — reject them loudly
      col("text").rlike("[\\x{10000}-\\x{10FFFF}]"))).count()
    require(violating == 0,
      s"q_chunk_recursive degenerate-oracle contract broken: $violating " +
      "docs contain a pre-space separator, an oversize word, " +
      "doubled/edge spaces, or astral-plane (non-BMP) characters — " +
      "the word-wrap CTE oracle no longer applies")
    Chunker.recursiveChunks(docs, "text", 120, 20)
      .select(col("doc_id"), col("block_id").cast("long"), col("content"))
  }

  private def qChunkSemantic(s: SparkSession, dir: String): DataFrame =
    Chunker.semanticChunks(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit(". "), col("text")).as("text")), "doc_id", "text")
      .select(col("doc_id"), col("block_id").cast("long"), col("content"), col("n_sentences"))

  private def qTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      T.tokenCount(col("text")).cast("long").as("n_tokens"),
      T.bpeTokenCount(col("text")).cast("long").as("n_bpe"))

  private def qLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), T.langId(col("text")).as("pred_lang"))

  private def qQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), T.qualityScore(col("text")).as("quality"))

  // PII scrubbing over a synthesized payload (the corpus itself carries
  // no PII, so email/IP/phone fragments are appended deterministically —
  // both engines build the identical string, then redact it)
  private def qRedactPii(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      T.redactPii(concat(substring(col("text"), 1, 80),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0.0."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(" phone +1 555 123 4567 end"))).as("redacted"))

  // Gopher-style repetition/quality signals (dup segments, word shape)
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      T.meanWordLen(col("text")).as("mean_word_len"),
      T.dupSegmentFrac(col("text"), "\\. ").as("dup_sent_frac"),
      T.numericWordFrac(col("text")).as("numeric_word_frac"))

  // llm_tag through the batched model seam — the stub model is an exact
  // function of md5(text), so the oracle reproduces it bit-for-bit
  private def qLlmTag(s: SparkSession, dir: String): DataFrame =
    Tag.tag(t(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  // the chat surface end-to-end: default system + one history pair
  // (source, lang) + the document as the final user message; the stub
  // labels the canonical serialization of the WHOLE assembled request,
  // so the oracle checks assembly, not just the text
  private def qLlmChat(s: SparkSession, dir: String): DataFrame = {
    val withHist = t(s, dir, "documents").withColumn("hist",
      array(struct(col("source").as("q"), col("lang").as("a"))))
    Tag.chatTag(withHist, "doc_id", "text", historyCol = Some("hist"))
      .withColumnRenamed("id", "doc_id")
  }

  // multimodal metadata pass over synthesized binary payloads (the text
  // bytes stand in for image bytes; the checksum-derived stub dims are
  // exact functions both engines compute)
  private def mediaTable(s: SparkSession, dir: String, kind: String): DataFrame =
    Multimodal.withMetadata(
      t(s, dir, "documents").select(col("doc_id"),
        col("text").cast("binary").as("payload"), lit(kind).as("kind")),
      "payload", "kind")

  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir, "image").select(col("doc_id"),
      col("media_meta.byte_len").as("byte_len"),
      col("media_meta.checksum").as("checksum"),
      col("media_meta.width").cast("long").as("width"),
      col("media_meta.height").cast("long").as("height"),
      col("media_meta.duration_ms").as("duration_ms"))

  private def qFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(mediaTable(s, dir, "video"), "doc_id", everyMs = 60000L)

  // sketch-based corpus profile, split into its two natures: the
  // sketch half (HLL vocabulary, quantile-summary percentiles — whose
  // internals DuckDB cannot reproduce; semantics pinned by StatsSpec
  // against exact counts) stays rows-only, while the exact half
  // (doc counts, mean token length — plain aggregates that ride the
  // same profile scan) gets its own hash-exact oracle. Together the
  // two rows pin everything about the profile that CAN be pinned.
  private def qCorpusProfile(s: SparkSession, dir: String): DataFrame =
    Stats.corpusProfile(t(s, dir, "documents"), "source", "text")
      .select(col("source"), col("approx_vocab"),
        col("p50_tokens"), col("p95_tokens"))

  private def qCorpusProfileExact(s: SparkSession, dir: String): DataFrame =
    Stats.corpusProfile(t(s, dir, "documents"), "source", "text")
      .select(col("source"), col("n_docs"), col("mean_tokens"))

  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    // normText lands in its own projection first: minShingleHash's
    // transform() would otherwise re-run the whole-doc regex per
    // shingle position (the Dedup.shingleSet interpreted-HOF lesson)
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), T.normText(col("text")).as("__nt"))
      .select(col("doc_id"),
        T.fingerprintMd5(col("text")).as("fp"),
        H.minShingleHash(col("__nt"), 8).as("min_sh"))

  private def qEmbedDense(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(V.fakeDenseEmbed(col("text"), 16)).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast("long"), col("val"))

  private def qSparseEmbed(s: SparkSession, dir: String): DataFrame =
    Ingest.sparseTerms(t(s, dir, "documents"), Seq("doc_id"), "text")

  // MLlib embedding generation (rows-only: murmur3 hashing / W2V training
  // aren't reproducible in the SQL oracle — semantics covered by MlEmbedSpec)
  private def qEmbedTfidf(s: SparkSession, dir: String): DataFrame =
    MlEmbed.tfidfSparse(t(s, dir, "documents"), "text")
      .select(col("doc_id"), size(col("sparse_embedding")).cast("long").as("n_terms"))

  // TF-IDF at numFeatures=1: every token hashes to bucket 0, so
  // HashingTF's TF collapses to the doc's token count and IDF to the
  // closed form ln((N+1)/(df+1)) with df = docs holding >=1 token —
  // pure SQL, the same degenerate-config trick as q_sem_dedup_k1 /
  // q_ann_pq_k1, giving the MLlib sparse-embedding path a cross-engine
  // arithmetic check. A deterministic subset (doc_id % 7 == 0) is
  // masked to punctuation-only text on BOTH sides: without it a corpus
  // where every doc tokenizes non-empty has df == N, the IDF factor is
  // exactly 0, MLlib's toSparse drops the zero values, and the check
  // degenerates to all-NULL (vacuously equal — no arithmetic pinned).
  private def qEmbedTfidfK1(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // loud contract: the masked subset must be non-empty AND proper so
    // 0 < df < N keeps the IDF factor non-zero (corpus drift to a
    // doc_id numbering with no %7 hits must fail here, not as a bare
    // all-NULL hash match that pins nothing)
    val Array(total, masked) = docs
      .agg(count(lit(1)), count(when(col("doc_id") % 7 === 0, 1)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(masked > 0 && masked < total,
      s"q_embed_tfidf_k1 degenerate-oracle contract broken: $masked of " +
      s"$total docs masked (need a proper non-empty subset so idf != 0)")
    val side = docs.withColumn("text",
      when(col("doc_id") % 7 === 0, lit("...")).otherwise(col("text")))
    MlEmbed.tfidfSparse(side, "text", numFeatures = 1)
      .select(col("doc_id"),
        round(element_at(col("sparse_embedding"), lit(0)), 4).as("tfidf_w"))
  }

  // GPT-3-style model-based quality scoring (rows-only: the LBFGS fit
  // has no SQL form — semantics pinned in MlEmbedSpec): the EN docs
  // stand in for the curated positives, everything else for raw crawl
  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    MlEmbed.qualityClassifier(docs, docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"), "text")
      .select(col("doc_id"), round(col("quality_prob"), 4).as("quality_prob"))
  }

  /** Where q_quality_classifier_score dumps the fitted LR coefficient
    * table for the oracle — the [[W2vAvgVectorsBase]] hand-off pattern
    * (per-JVM-unique base + per-corpus key subdirectory; same
    * concurrency argument). */
  private val QcCoefBase = new java.io.File(
    sys.props("java.io.tmpdir"),
    s"graft_qc_coefs_${java.util.UUID.randomUUID.toString.take(8)}")
    .getAbsolutePath

  /** Hash-exact half of the quality classifier: dump the fit's own
    * per-word coefficients ([[MlEmbed.qualityClassifierWithModel]]),
    * emit the MLlib MARGIN (intercept + coef·hashed-counts — plain
    * arithmetic; the sigmoid stays out of the hash, see the operator's
    * scaladoc); the oracle recomputes the margin from the dumped table.
    * q_quality_classifier stays rows-only for the LBFGS fit internals
    * only — together the two rows pin everything about the classifier
    * that CAN be pinned cross-engine. */
  private def qQualityClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keyRow = docs.agg(count(lit(1)),
      coalesce(sum(length(col("text"))), lit(0L))).head()
    val key = s"${keyRow.getLong(0)}_${keyRow.getLong(1)}"
    val (scored, table) = MlEmbed.qualityClassifierWithModel(docs,
      docs.filter(col("lang") === "en"),
      docs.filter(col("lang") =!= "en"), "text")
    table.withColumn("corpus_key", lit(key))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$QcCoefBase/$key")
    scored.select(col("doc_id"), round(col("margin"), 4).as("margin"))
  }

  private def qEmbedW2v(s: SparkSession, dir: String): DataFrame =
    MlEmbed.word2vecDense(t(s, dir, "documents"), "text", dim = 32)
      .select(col("doc_id"), size(col("dense_embedding")).cast("long").as("dim"))

  /** Where q_embed_w2v_avg dumps the fitted word vectors for the
    * oracle: the fit internals have no SQL form, but given the trained
    * (word, dim, val) table BOTH engines can read, the per-doc
    * averaging half of Word2Vec IS SQL — the same hand-off trick as
    * the q_*_k1 degenerate configs, via a file instead of a formula.
    * The dump is keyed PER CORPUS (doc count + total text chars, a
    * key the oracle re-derives from its own `documents` view) in its
    * own subdirectory: a fixed path would let a later run at another
    * scale factor overwrite the vectors between this query's Verify
    * write and the driver's DuckDB read — order-dependent corruption
    * the key makes impossible. The base dir is additionally PER-JVM
    * unique: the oracle SQL below interpolates this exact path before
    * Verify dumps oracle_sql.json, so the driver's DuckDB read sees
    * only THIS run's dump — a concurrent run (or a stats-colliding
    * corpus) lives in its own base and can neither vanish files
    * mid-read nor alias a corpus_key. */
  private val W2vAvgVectorsBase = new java.io.File(
    sys.props("java.io.tmpdir"),
    s"graft_w2v_avg_vectors_${java.util.UUID.randomUUID.toString.take(8)}")
    .getAbsolutePath

  private val W2vAvgDim = 8

  // hash-exact half of Word2Vec: dump the fit's own vectors, emit the
  // MLlib transform (per-doc token-vector average with an all-token
  // denominator; a 0-token doc embeds to the zero vector); the oracle
  // recomputes the average from the dumped table. q_embed_w2v stays
  // rows-only for the fit internals only.
  private def qEmbedW2vAvg(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keyRow = docs.agg(count(lit(1)),
      coalesce(sum(length(col("text"))), lit(0L))).head()
    val key = s"${keyRow.getLong(0)}_${keyRow.getLong(1)}"
    val (embedded, vectors) = MlEmbed.word2vecDenseWithVectors(
      docs, "text", dim = W2vAvgDim)
    vectors.withColumn("corpus_key", lit(key))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$W2vAvgVectorsBase/$key")
    embedded.select(col("doc_id"),
        posexplode(col("dense_embedding")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast("long"),
        round(col("val"), 4).as("val"))
  }

  private def qIdLookup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dim = docs.groupBy(col("source")).agg(min(col("doc_id")).as("source_id"))
    Ingest.idLookup(docs, dim, "source").select(col("doc_id"), col("source_id"))
  }

  private def qIngestExists(s: SparkSession, dir: String): DataFrame = {
    val existing = t(s, dir, "embeddings").filter(col("label") < 3)
    val docs = t(s, dir, "documents").as("d")
    Ingest.existsCheck(docs, existing.as("e"),
        col("d.doc_id"), col("e.vec_id"))
      .select(col("doc_id"), col("source"))
  }

  private def qDeleteExpr(s: SparkSession, dir: String): DataFrame =
    Ingest.deleteWhere(t(s, dir, "documents"),
        col("source") === "src0" && col("lang") === "en")
      .select(col("doc_id"), col("source"))

  /** jsonl_source end-to-end: a deterministic JSONL file is materialized
    * from the documents table (line i = doc_id i−1, so the oracle needs
    * no file access — it derives the expected output from the table),
    * then read back through the row-range slice + file_name synthesis.
    * Checks line numbering, [start,end] semantics, JSON round-trip, and
    * clean_title — the pieces json_batch_reader.py:16-86 specifies. */
  private def qJsonlSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    // probe path keyed by the sf dir: concurrent runs over DIFFERENT
    // corpora must not overwrite each other's file before the lazy read
    // executes. The STAGING dir is additionally unique per call — two
    // same-corpus runs sharing one staging dir would race overwrite /
    // listStatus / rename (the final rename over identical bytes stays
    // benign; the staging steps are not).
    val key = dirKey(dir)
    val path = s"/tmp/graft_jsonl_probe_$key.jsonl"
    val stage = s"/tmp/graft_jsonl_probe_${key}_stage_" +
      java.util.UUID.randomUUID.toString
    // The probe file is synthesized WITHOUT collecting the corpus to the
    // driver: one sorted single-partition text write (line order = the
    // oracle's doc_id order), to_json for exact JSON escaping, then a
    // filesystem rename of the part file to the stable probe path.
    t(s, dir, "documents")
      .select(col("doc_id"),
        to_json(struct(substring(col("text"), 1, 40).as("title"),
          col("n_chars").as("nc"))).as("value"))
      .repartition(1).sortWithinPartitions("doc_id")
      .select("value")
      .write.mode("overwrite").text(s"file://$stage")
    val fs = new org.apache.hadoop.fs.Path(s"file://$stage")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"file://$stage"))
      .map(_.getPath).filter(_.getName.startsWith("part-"))
    require(part.length == 1, s"expected one part file, got ${part.toSeq}")
    val dest = new org.apache.hadoop.fs.Path(s"file://$path")
    fs.delete(dest, false)
    require(fs.rename(part.head, dest),
      s"rename ${part.head} -> $dest failed (concurrent probe writer?)")
    fs.delete(new org.apache.hadoop.fs.Path(s"file://$stage"), true)
    JsonlSource.read(s, path, start = 10, end = Some(99),
        schema = Some(StructType(Seq(
          StructField("title", StringType), StructField("nc", LongType)))))
      .select(col("row_num"), col("file_name"), col("nc"))
  }

  /** The flagship pipeline's ACTUAL deliverable — the full Milvus row
    * (embed_to_milvus.py:110-122 layout) — flattened for the oracle:
    * dense_embedding exploded to (dim, val) rows, sparse_embedding
    * checked via its size and key-sum (the map itself isn't
    * SQL-comparable, but both are exact functions of its contents). */
  private def qPipelineFull(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val existing = t(s, dir, "embeddings").filter(col("label") < 3)
      .select(col("vec_id").as("file_id"))
    Ingest.pipeline(docs, existing, dim = 16)
      .select(col("file_id"), col("block_id"), col("file_name"), col("content"),
        col("source"), col("qa_id"), col("question"), col("answer"), col("flag"),
        size(col("sparse_embedding")).cast("long").as("n_sparse"),
        aggregate(map_keys(col("sparse_embedding")), lit(0L), (a, k) => a + k)
          .as("sparse_keysum"),
        col("dense_embedding"))
      .select(col("*"), posexplode(col("dense_embedding")).as(Seq("dim", "val")))
      .drop("dense_embedding")
      .withColumn("dim", col("dim").cast("long"))
  }

  private def qPipelineBlocks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      col("doc_id").as("file_id"),
      T.fileName(substring(col("text"), 1, 40), col("doc_id")).as("file_name"),
      T.reformatDoc(substring(col("text"), 1, 40), lit("2025-08-12"),
        col("source"), col("text")).as("doc"))
    Chunker.fixedChunks(docs, "doc", 200, 40)
      .select(col("file_id"), col("block_id").cast("long"), col("file_name"),
        col("content"), T.tokenCount(col("content")).cast("long").as("n_tokens"))
  }

  // ---- dedup family -----------------------------------------------------

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "doc_id", "text")

  // Bloom-pruned exact dedup against persisted history: even docs are
  // the history index, the probe batch is the odd docs plus verbatim
  // replays of every doc_id % 10 == 0 doc under offset ids (+1_000_000)
  // — the graded corpus has no cross-parity exact dups of its own, so
  // the replays guarantee the dup branch (bloom hit → confirm join →
  // first_id) is exercised, not just the all-novel path. Output is
  // exact at any fpp (the bloom only prunes; DuckDB needs no bloom).
  private def qDedupBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_exact_idx_${dirKey(dir)}") { d =>
      Dedup.buildExactIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", d)
    }
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.dedupExactAgainstIndex(s, idx, batch, "doc_id", "text")
  }

  // Rolling-window retirement over the exact history, oracle-checked
  // with the never-appended probe: build on one quarter, append the
  // probe batch itself as segment d1, retire d1 — every fp whose FIRST
  // sighting was d1 leaves with it, so the probe must answer exactly
  // like the never-appended index (bloom rebuilt from survivors,
  // tombstone table untouched by absence). Quarter-corpus slices for
  // the same reason as the minhash retire queries: the lifecycle
  // (build+append+retire) is billed to one bench query and half-corpus
  // slices double the bill for no extra evidence.
  private def qExactRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def batch = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val idx = buildOnce(s"/tmp/graft_exact_ret_${dirKey(dir)}") { d =>
      Dedup.buildExactIndex(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", d)
      Dedup.appendToExactIndex(s, d, batch, "doc_id", "text", "d1")
      IndexFamily.exact.retireSrcs(s, d, Seq("d1"))
    }
    Dedup.dedupExactAgainstIndex(s, idx, batch, "doc_id", "text")
  }

  // The sighting-window retire, oracle-checked end to end: build the
  // sighted history on the first SIXTEENTH (day d0), append the second
  // sixteenth PLUS verbatim re-sightings of every %32==0 build doc as
  // day d1, append the third sixteenth as d2, retire sightings older
  // than the newest two days — d0 ages out, but the re-seen %32==0
  // texts survive under their ORIGINAL first ids (the touch-on-reject
  // contract the admission ledger q_exact_retire structurally cannot
  // express). Sixteenth slices (r18, the q_dedup_cosine_index
  // bench-billing precedent): the whole build+2-append+retire+probe
  // lifecycle bills to one bench query, and the mechanism is
  // slice-size-invariant — eighths measured ~30 s of pure lifecycle
  // fixed cost for no extra evidence.
  private def qExactSeenRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_exact_seen_${dirKey(dir)}") { d =>
      Dedup.buildExactIndexSighted(docs.filter(col("doc_id") % 16 === 0),
        "doc_id", "text", d, day = "d0")
      Dedup.appendToExactIndexSighted(s, d,
        docs.filter(col("doc_id") % 16 === 1)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 32 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "doc_id", "text", "d1")
      Dedup.appendToExactIndexSighted(s, d,
        docs.filter(col("doc_id") % 16 === 2), "doc_id", "text", "d2")
      IndexFamily.exact.retireSeenWindow(s, d, keep = 2)
      ()
    }
    Dedup.dedupExactAgainstIndex(s, idx,
      docs.filter(col("doc_id") % 16 === 0 || col("doc_id") % 16 === 1)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")),
      "doc_id", "text")
  }

  // The composed nightly-maintenance driver over two live families:
  // build + append two segments each, run ONE Maintenance.nightly with
  // keep=1, and return the audit report — deterministic (tags and
  // windows are static), so the oracle is a literal table. The report
  // is written inside the memoized build (the mutation must run once
  // per JVM) and read back — the q_ann_pq_adc file-hand-off pattern.
  private def qMaintenance(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_maint_${dirKey(dir)}") { r =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 60)
      // the two family chains touch DISTINCT dirs — concurrent
      // ([[runBuilds]]); each chain stays sequential (append reads the
      // state its build left)
      runBuilds(Seq(
        () => {
          Dedup.buildLineDfIndex(docs.filter(col("doc_id") < 20),
            "doc_id", "text", s"$r/lines")
          Seq(20, 40).foreach(lo => Dedup.appendToLineDfIndex(s, s"$r/lines",
            docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20),
            "doc_id", "text", s"d$lo"))
        },
        () => {
          // small slices — the query witnesses the DRIVER's dispatch and
          // report, not index scale (SCALE.md carries the retire ratios)
          Ann.buildIvfIndex(corpus(s, dir).filter(col("id") % 8 === 0),
            s"$r/ivf", nlist = 16)
          Seq(1L, 3L).foreach(m => Ann.appendToIvfIndex(s, s"$r/ivf",
            corpus(s, dir).filter(col("id") % 16 === m), s"d$m"))
        }))
      Maintenance.nightly(s, Seq(
          (s"$r/lines", "linedf", 1), (s"$r/ivf", "ivf", 1)))
        .select(col("family"), col("keep"), col("tag"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/report")
    }
    s.read.parquet(s"$root/report")
  }

  // The sighted twin of q_maintenance: two live SIGHTED families
  // (exact_seen + minhash_seen) each built on one 20-doc day and
  // appended two more, then ONE Maintenance.nightlySighted with keep=2
  // — d0 (the BUILD day, which [[Maintenance.nightly]] structurally
  // never touches) ages out of both. Deterministic: day tags and
  // windows are static, so the oracle is a literal table; the per-index
  // survivor semantics behind the retires are the hash-exact
  // q_exact_seen_retire / q_minhash_seen_retire queries.
  private def qMaintenanceSighted(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_msight_${dirKey(dir)}") { r =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 60)
      def slice(lo: Int) =
        docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20)
          .select(col("doc_id"), col("text"))
      // two independent family chains (distinct dirs) — concurrent
      runBuilds(Seq(
        () => {
          Dedup.buildExactIndexSighted(slice(0), "doc_id", "text",
            s"$r/exact", day = "d0")
          Seq(20, 40).foreach(lo => Dedup.appendToExactIndexSighted(s,
            s"$r/exact", slice(lo), "doc_id", "text", s"d$lo"))
        },
        () => {
          Dedup.buildMinhashIndexSighted(slice(0), "doc_id", "text",
            s"$r/mh", day = "d0")
          Seq(20, 40).foreach(lo => Dedup.appendToMinhashIndexSighted(s,
            s"$r/mh", slice(lo), "doc_id", "text", s"d$lo"))
        }))
      Maintenance.nightlySighted(s, Seq(
          (s"$r/exact", "exact_seen", 2), (s"$r/mh", "minhash_seen", 2)))
        .select(col("family"), col("keep"), col("tag"))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/report")
    }
    s.read.parquet(s"$root/report")
  }

  /** Ratio-triggered compaction, end to end: tombstone a known
    * fraction of an IVF index (16 of 64 ids) and the exact history
    * (10 of 40 fps), then drive [[Maintenance.nightlyCompact]] through
    * its three states — measured-but-below-threshold, due (compaction
    * runs, tombstones purge), and the post-compaction steady state.
    * Fixed id ranges make the fractions sf-invariant literals; the
    * exact side's fraction is recomputed by the oracle from the
    * documents table (distinct normalized-text fingerprints). */
  private def qCompaction(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_compact_${dirKey(dir)}") { r =>
      val vecs = corpus(s, dir).filter(col("id") < 64)
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
      // two independent build+takedown chains (distinct dirs) — concurrent
      runBuilds(Seq(
        () => {
          Ann.buildIvfIndex(vecs, s"$r/ivf", nlist = 8)
          IndexFiles.writeTombstones(
            vecs.filter(col("id") < 16).select("id"), s"$r/ivf")
        },
        () => {
          Dedup.buildExactIndex(docs, "doc_id", "text", s"$r/exact")
          Dedup.deleteFromExactIndex(s, s"$r/exact",
            docs.filter(col("doc_id") < 10), "text")
        }))
      def run(phase: String, thr: Double) =
        Maintenance.nightlyCompact(s, Seq(
            (s"$r/ivf", "ivf", thr), (s"$r/exact", "exact", thr)))
          .select(lit(phase).as("phase"), col("family"),
            col("fraction"), col("compacted"))
      run("below", 0.5).union(run("due", 0.2)).union(run("after", 0.2))
        .coalesce(1).write.mode("overwrite").parquet(s"$r/report")
    }
    s.read.parquet(s"$root/report")
  }

  /** Snapshot/restore, witnessed the strongest way a search index can:
    * build IVF on the full corpus, snapshot, then mutate the live index
    * in BOTH directions (append a shifted-id segment, tombstone the
    * first 16 ids, physically compact — the cells files are rewritten)
    * and restore. The full-probe search over the restored index must
    * answer exactly like the never-mutated one, so the oracle is the
    * plain brute-force SQL verbatim: a restore that leaks any
    * post-snapshot state — a missing tombstoned id, a surviving
    * appended row — hash-mismatches. */
  private def qIndexSnapshot(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_snap_${dirKey(dir)}") { r =>
      val vecs = corpus(s, dir)
      Ann.buildIvfIndex(vecs, s"$r/ivf", nlist = 16)
      // overwrite: buildOnce memoizes per JVM, but the scratch root
      // outlives the JVM — a later run (the driver's separate Verify
      // and Bench JVMs) rebuilds over a disk-persisted backup, and the
      // default would refuse it
      Maintenance.snapshotIndex(s, s"$r/ivf", s"$r/backup",
        overwrite = true)
      Ann.appendToIvfIndex(s, s"$r/ivf",
        vecs.filter(col("id") < 32)
          .select((col("id") + 1000000L).as("id"), col("v")), "d1")
      IndexFiles.writeTombstones(
        vecs.filter(col("id") < 16).select("id"), s"$r/ivf")
      IndexFamily.ivf.compact(s, s"$r/ivf")
      Maintenance.restoreIndex(s, s"$r/backup", s"$r/ivf")
    }
    Ann.searchIvfIndex(s, s"$root/ivf", queriesSet(s, dir), k = 10,
        nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** The maintenance-family FLAGSHIP: one composed nightly over two
    * live indexes AND the alias registry that routes to them — health
    * report, whole-store backup, retention window, ratio-triggered
    * compaction, a mid-flight alias repoint, health report again, then
    * ONE restoreStore call and a third report that must EQUAL the
    * first row for row (the backup provably undoes the nightly).
    * Phases: pre (3 segments each, 8 blind IVF tombstones, prod →
    * ivf) → snapshotStore (registry included) → nightly keep=1 (d1/d20
    * age out) → nightlyCompact threshold 0 (tombstones purge) →
    * alterAlias (prod repointed) → mid → restoreStore → post == pre,
    * and prod must again resolve to the ivf dir (asserted in-query —
    * the registry half of the recovery has no dashboard row).
    * Sixteenth/32nd vector slices (the q_exact_retire quartering
    * precedent): the query witnesses the DRIVER's composition, not
    * index scale — SCALE.md carries the per-op ratios. The oracle
    * recomputes every dashboard number from the embeddings table
    * (segment sets are construction literals) and asserts the post/pre
    * equality by emitting the same rows under both labels. */
  private def qMaintenancePipeline(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_mpipe_${dirKey(dir)}") { r =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 60)
      val vecs = corpus(s, dir)
      // two independent family chains (distinct dirs) — concurrent
      runBuilds(Seq(
        () => {
          Dedup.buildLineDfIndex(docs.filter(col("doc_id") < 20),
            "doc_id", "text", s"$r/lines")
          Seq(20, 40).foreach(lo => Dedup.appendToLineDfIndex(s, s"$r/lines",
            docs.filter(col("doc_id") >= lo && col("doc_id") < lo + 20),
            "doc_id", "text", s"d$lo"))
        },
        () => {
          Ann.buildIvfIndex(vecs.filter(col("id") % 16 === 0), s"$r/ivf",
            nlist = 16)
          Seq(1L, 3L).foreach(m => Ann.appendToIvfIndex(s, s"$r/ivf",
            vecs.filter(col("id") % 32 === m), s"d$m"))
          IndexFiles.writeTombstones(vecs.filter(
            col("id") % 16 === 0 && col("id") < 128).select("id"), s"$r/ivf")
        }))
      // the registry travels with the store: a restored index no alias
      // points at is not servable (the qAlias drop-stale-registry move)
      val reg = new org.apache.hadoop.fs.Path(s"$r/registry")
      val fs = reg.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(reg)) fs.delete(reg, true)
      Aliases.createAlias(s, s"$r/registry", "prod", s"$r/ivf")
      val specs = Seq((s"$r/ivf", "ivf"), (s"$r/lines", "linedf"))
      // each phase dashboard COLLECTED at its phase — a lazy union
      // would evaluate all three against the final (restored) state
      def report(phase: String) = Maintenance.storeReport(s, specs)
        .select(lit(phase).as("phase"), col("family"), col("live"),
          col("segments"), col("oldest"), col("newest"),
          col("tombstones"), col("fraction"))
      // one eager dashboard run serves both the schema and the rows —
      // storeReport computes everything inside the call, so a separate
      // schema-only invocation would re-pay its count jobs and walks
      val preDf = report("pre")
      val schema = preDf.schema
      val pre = preDf.collect()
      val storeSpecs = Seq((s"$r/ivf", s"$r/bak/ivf"),
        (s"$r/lines", s"$r/bak/lines"),
        (s"$r/registry", s"$r/bak/registry"))
      Maintenance.snapshotStore(s, storeSpecs)
      Maintenance.nightly(s, Seq((s"$r/ivf", "ivf", 1),
        (s"$r/lines", "linedf", 1)))
      Maintenance.nightlyCompact(s, Seq((s"$r/ivf", "ivf", 0.0)))
      Aliases.alterAlias(s, s"$r/registry", "prod", s"$r/lines")
      val mid = report("mid").collect()
      Maintenance.restoreStore(s, storeSpecs)
      // the registry's restore has no dashboard row — witness it loudly
      require(Aliases.resolveAlias(s, s"$r/registry", "prod") == s"$r/ivf",
        "restoreStore did not bring the alias registry back to the " +
          "snapshot point")
      val post = report("post").collect()
      s.createDataFrame(
          java.util.Arrays.asList(pre ++ mid ++ post: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$r/report")
    }
    s.read.parquet(s"$root/report")
  }

  /** The store health dashboard over three live families — exact with
    * an appended fresh segment and a takedown, IVF with a blind
    * tombstone set, line-df with two segments (segmented-only, no
    * delete model). Written inside the memoized build and read back
    * (the q_maintenance pattern); dir/files/bytes are scratch-path-
    * and compression-dependent, so the registered projection is the
    * stable dashboard columns. The appended texts carry a
    * ' fresh-segment' suffix — guaranteed-novel fps, so the segment
    * count is a literal and the oracle recomputes live/tombstones/
    * fraction from the documents and embeddings tables. */
  private def qStoreReport(s: SparkSession, dir: String): DataFrame = {
    val root = buildOnce(s"/tmp/graft_health_${dirKey(dir)}") { r =>
      val docs = t(s, dir, "documents")
      val vecs = corpus(s, dir).filter(col("id") < 64)
      // four independent family chains (distinct dirs) — concurrent
      runBuilds(Seq(
        () => {
          Dedup.buildExactIndex(docs.filter(col("doc_id") < 40),
            "doc_id", "text", s"$r/exact")
          Dedup.appendToExactIndex(s, s"$r/exact",
            docs.filter(col("doc_id") < 10)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                concat(col("text"), lit(" fresh-segment")).as("text")),
            "doc_id", "text", "d1")
          Dedup.deleteFromExactIndex(s, s"$r/exact",
            docs.filter(col("doc_id") < 10), "text")
        },
        () => {
          Ann.buildIvfIndex(vecs, s"$r/ivf", nlist = 8)
          IndexFiles.writeTombstones(
            vecs.filter(col("id") < 16).select("id"), s"$r/ivf")
        },
        () => {
          Dedup.buildLineDfIndex(docs.filter(col("doc_id") < 20),
            "doc_id", "text", s"$r/lines")
          Dedup.appendToLineDfIndex(s, s"$r/lines",
            docs.filter(col("doc_id") >= 20 && col("doc_id") < 40),
            "doc_id", "text", "d20")
        },
        () => {
          // a SIGHTED member (r19): the dashboard must surface the seen/
          // ledger's day coverage — retireSeenBefore decisions read it
          Dedup.buildExactIndexSighted(docs.filter(col("doc_id") < 10),
            "doc_id", "text", s"$r/exsee", day = "d0")
          Dedup.appendToExactIndexSighted(s, s"$r/exsee",
            docs.filter(col("doc_id") >= 10 && col("doc_id") < 20),
            "doc_id", "text", "d1")
        }))
      Maintenance.storeReport(s, Seq((s"$r/exact", "exact"),
          (s"$r/ivf", "ivf"), (s"$r/lines", "linedf"),
          (s"$r/exsee", "exact")))
        .select("family", "live", "segments", "oldest", "newest",
          "tombstones", "fraction", "seen_days", "oldest_seen",
          "newest_seen")
        .coalesce(1).write.mode("overwrite").parquet(s"$r/report")
    }
    s.read.parquet(s"$root/report")
  }

  // maxDf=100: the documented hot-shingle cap (SURVEY §5). The synthetic
  // corpus has a tiny vocabulary — shingles shared by >100 docs carry no
  // dedup signal but produce >99% of the inverted-index join's pairs.
  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text", w = 8, tau = 0.5,
      maxDf = Some(100))

  // Asymmetric containment (Broder c = |A∩B|/|A|) over the SAME capped
  // shingle space as q_dedup_ngram — the subset-duplicate catcher
  // symmetric Jaccard structurally misses. tau=0.4 keeps partial
  // containments in the graded output, not just the c=1.0 exact-subset
  // families.
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
      w = 8, tau = 0.4, maxDf = Some(100))

  // The containment family's dedup DECISION: survivors after dropping
  // every doc tau-contained in a strictly larger doc (equal sizes keep
  // the min id). tau=0.8 — the decision threshold is deliberately
  // higher than the pairs query's 0.4: you REPORT 40% overlap, you
  // only DROP a doc that is mostly inside another. (Also the cheap
  // regime: prefix length is (1−tau)·|A|+1, so 0.8 probes ~20% of
  // each doc's shingles vs 0.4's ~60%.)
  private def qDedupDropContained(s: SparkSession, dir: String): DataFrame =
    Dedup.dropContained(t(s, dir, "documents"), "doc_id", "text",
        w = 8, tau = 0.8, maxDf = Some(100))
      .select(col("doc_id").as("id"))

  // The containment family's daily-crawl form: evens are the admitted
  // history (persisted index, built once per JVM), odds the incoming
  // batch. Verdict per batch doc: tau-contained in an equal-or-larger
  // history doc (arrival wins ties) or dropContained-style within the
  // batch; container_id = largest winning container, ties min id.
  private def qDedupContainedIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_contain_idx_${dirKey(dir)}") { d =>
      Dedup.buildContainmentIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", d, w = 8, maxDf = Some(100))
    }
    Dedup.dropContainedAgainstIndex(s, idx,
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", tau = 0.8)
  }

  /** The containment sighting-window lifecycle, oracle-checked end to
    * end (the q_minhash_seen_retire construction on this family):
    * build the sighted history on sixteenth slice 5 (day d0); day d1
    * brings slice 6 PLUS verbatim replays of every %32==5 build doc
    * under offset ids (containment 1.0 at equal size — certain
    * rejections whose touch-on-reject re-sights the stored
    * containers); retire sightings older than the newest day — d0
    * ages out, but the replayed-into containers survive under their
    * ORIGINAL ids. Probe = slice 12 PLUS verbatim copies of every
    * %32==6 day-1 doc (their originals were just admitted — the
    * contained branch is guaranteed rows at any sf). maxDf = None:
    * the rarest-first prefix filter bounds the candidate join without
    * a cap here, and uncapped sets make the three per-side cap frames
    * the q_dedup_contained_index oracle needs collapse to one shared
    * shingle CTE. */
  private def qContainmentSeenRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_contain_seen_${dirKey(dir)}") { d =>
      Dedup.buildContainmentIndexSighted(
        docs.filter(col("doc_id") % 16 === 5), "doc_id", "text", d,
        day = "d0")
      Dedup.appendToContainmentIndexSighted(s, d,
        docs.filter(col("doc_id") % 16 === 6)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 32 === 5)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "doc_id", "text", day = "d1", tau = 0.8)
      IndexFamily.containment.retireSeenWindow(s, d, keep = 1)
      ()
    }
    Dedup.dropContainedAgainstIndex(s, idx,
      docs.filter(col("doc_id") % 16 === 12)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 32 === 6)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
      "doc_id", "text", tau = 0.8)
  }

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
      w = 8, numHashes = 12, bands = 4, tau = 0.5, maxDf = Some(100))

  /** Banding-recall report: the graded minhash configuration
    * (12 hashes / 4 bands) against the exact ngram-Jaccard ground
    * truth over the SAME capped 32-bit shingle space — the tuning
    * number a deployment sweeps bands against before committing at
    * corpus scale. Both sides are the hash-exact q_dedup_minhash /
    * q_dedup_ngram pipelines, so the one-row report is hash-exact
    * too (precision pins at 1.0: minhashLsh exact-verifies). */
  private def qDedupRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.pairRecall(
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
        w = 8, tau = 0.5, maxDf = Some(100)),
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        w = 8, numHashes = 12, bands = 4, tau = 0.5, maxDf = Some(100)))

  /** BOTH tune sweeps grade against the SAME exact pair set
    * (ngramJaccard over the even half at w=8, tau=0.5, maxDf=100) —
    * computed once per JVM and persisted to scratch parquet (the
    * buildOnce pattern, r18), then handed to each sweep through its
    * groundTruth parameter instead of each paying the exact n-gram
    * pass again. Hashes unchanged: the frame IS the pair set both
    * sweeps derived internally before. */
  private def tuneGroundTruth(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(buildOnce(s"/tmp/graft_tune_gt_${dirKey(dir)}") { d =>
      Dedup.ngramJaccard(
          t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
          "doc_id", "text", w = 8, tau = 0.5, maxDf = Some(100))
        .select(col("id_a"), col("id_b")).distinct()
        .write.mode("overwrite").parquet(d)
    })

  /** The banding tuning sweep over the even half-corpus (slice-capped
    * shingles — the build-time cap a deployment would sweep under):
    * bands 2 → 4 → 6 of 12 hashes vs pair recall against the exact
    * same-space Jaccard ground truth, stopping at the first step over
    * 0.95. Hash-exact: each step's found set is the q_dedup_minhash
    * pipeline at that banding, the ground truth the q_dedup_recall
    * exact side, and the oracle replays the stop rule generically. */
  private def qDedupTuneBands(s: SparkSession, dir: String): DataFrame =
    Dedup.tuneBands(t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", w = 8, numHashes = 12, ladder = Seq(2, 4, 6),
        tau = 0.5, targetRecall = 0.95, maxDf = Some(100),
        groundTruth = Some(tuneGroundTruth(s, dir)))
      .select(col("bands").cast("long").as("bands"), col("recall"),
        col("meets_target"))

  /** The simhash-threshold tuning sweep over the same even half-corpus:
    * maxHam 1 → 2 → 3 vs (precision, recall) against the exact
    * same-space Jaccard ground truth, stopping at the first step whose
    * recall clears 0.55 (stops at maxHam=2 at sf0.1, runs the full
    * ladder at sf0.01 — both stop behaviors oracle-checked). Hash-exact:
    * the simhash arithmetic is the q_dedup_simhash CTE, the ground
    * truth the q_dedup_tune_bands exact side, the stop a window
    * filter. Precision falls as recall rises — the unverified-finder
    * trade the report exists to show. */
  private def qDedupTuneHam(s: SparkSession, dir: String): DataFrame =
    Dedup.tuneMaxHam(t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "doc_id", "text", w = 8, ladder = Seq(1, 2, 3), tau = 0.5,
        targetRecall = 0.55, maxDf = Some(100),
        groundTruth = Some(tuneGroundTruth(s, dir)))
      .select(col("max_ham").cast("long").as("max_ham"), col("precision"),
        col("recall"), col("meets_target"))

  // The persisted minhash history lifecycle: doc_id ≡ 1 (mod 4) docs
  // are the stored crawl history, ≡ 2 (mod 4) the arriving batch —
  // quarter slices, because the exactness condition (maxDf = None, the
  // append/build docstring contract) prices the UNCAPPED shingle sets
  // and a half-corpus slice doubles the bench bill for no extra
  // evidence. The probe is exactly the cross-slice banded-candidate +
  // exact-Jaccard filter, which IS the oracle.
  private def minhashIdxHistory(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 4 === 1)
  private def minhashIdxBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 4 === 2)

  private def qDedupMinhashIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_minhash_idx_${dirKey(dir)}") { d =>
      Dedup.buildMinhashIndex(minhashIdxHistory(docs), "doc_id", "text", d)
    }
    Dedup.dedupAgainstIndex(s, idx, minhashIdxBatch(docs),
      "doc_id", "text", tau = 0.5)
  }

  // Rolling-window retirement over the minhash history, oracle-checked
  // with the index oracle VERBATIM: build on the history slice, append
  // the batch slice as segment s1, retire s1 — the probe must then
  // answer exactly like the never-appended index (and the batch docs,
  // being retired, are valid probe ids again).
  private def qDedupMinhashRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_minhash_ret_${dirKey(dir)}") { d =>
      Dedup.buildMinhashIndex(minhashIdxHistory(docs), "doc_id", "text", d)
      Dedup.appendToMinhashIndex(s, d, minhashIdxBatch(docs),
        "doc_id", "text", "s1")
      IndexFamily.minhash.retireSrcs(s, d, Seq("s1"))
    }
    Dedup.dedupAgainstIndex(s, idx, minhashIdxBatch(docs),
      "doc_id", "text", tau = 0.5)
  }

  /** The sighting-window near-dup lifecycle, oracle-checked end to end
    * (the q_exact_seen_retire construction on the minhash family):
    * build the sighted history on sixteenth slice 1 (day d0); day d1
    * brings slice 2 PLUS verbatim replays of every %32==1 build doc
    * under offset ids (jaccard 1.0 — certain rejections whose
    * touch-on-reject re-sights the originals); retire sightings older
    * than the newest day — d0 ages out, but the replayed-into docs
    * survive under their ORIGINAL ids. Probe = slice 4 PLUS verbatim
    * copies of every %32==2 day-1 doc (their originals were just
    * admitted, so the dup branch is guaranteed rows at any sf — the
    * graded corpus has few natural cross-sixteenth near-dups).
    * Sixteenth slices and ONE admission day: every minhash stage
    * costs a fixed multi-job floor regardless of slice size, so the
    * bench witnesses exactly the contract's oracle-visible branches
    * (touched survives, untouched forgets, admitted lives) and leaves
    * the multi-day nuances (an admitted doc later touched, all-replay
    * days) to DedupSpec. */
  private def qMinhashSeenRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_minhash_seen_${dirKey(dir)}") { d =>
      Dedup.buildMinhashIndexSighted(docs.filter(col("doc_id") % 16 === 1),
        "doc_id", "text", d, day = "d0")
      Dedup.appendToMinhashIndexSighted(s, d,
        docs.filter(col("doc_id") % 16 === 2)
          .select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 32 === 1)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "doc_id", "text", day = "d1", tau = 0.5)
      IndexFamily.minhash.retireSeenWindow(s, d, keep = 1)
      ()
    }
    Dedup.dedupAgainstIndex(s, idx,
      docs.filter(col("doc_id") % 16 === 4)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 32 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))),
      "doc_id", "text", tau = 0.5)
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHam = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long"))

  private def qDedupCosine(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosine(t(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.4)

  // The 100 TB path: hyperplane-bucketed candidate generation instead of
  // the all-pairs cross join (which stays as the verify-scale baseline).
  private def qDedupCosineLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosineLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
      tau = 0.4, dim = 64, planes = 4)

  /** Embedding near-dup admission against the PERSISTED LSH index
    * (q_ann_lsh's parameters): one quarter stored, the next quarter
    * probes at the q_dedup_cosine tau. Quarter slices (the
    * q_exact_retire precedent): the memoized LSH build bills to this
    * one bench query, and the bucket-probe mechanism is identical at
    * any slice size. */
  private def qDedupCosineIndex(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = buildOnce(s"/tmp/graft_lshdedup_${dirKey(dir)}") { d =>
      Ann.buildLshIndex(e.filter(col("vec_id") % 4 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("v")), d,
        dim = 64, planes = 6, tables = 4)
    }
    Dedup.cosineDedupAgainstIndex(s, idx,
      e.filter(col("vec_id") % 4 === 1).select("vec_id", "embedding"),
      "vec_id", "embedding", tau = 0.4)
  }

  /** The cosine sighting-window lifecycle, oracle-checked end to end
    * (the q_minhash_seen_retire construction on the embedding
    * family, over the q_dedup_cosine_index LSH parameters): build the
    * sighted net on sixteenth slice 9 (day d0); day d1 brings slice
    * 10 PLUS verbatim replays of every %32==9 build vector under
    * offset ids (cosine 1.0 in the same buckets — certain rejections
    * whose touch-on-reject re-sights the stored originals); retire
    * sightings older than the newest day — d0 ages out, but the
    * replayed-into vectors survive under their ORIGINAL ids. Probe =
    * slice 11 PLUS verbatim copies of every %32==10 day-1 vector
    * (their originals were just admitted — the dup branch is
    * guaranteed rows at any sf). */
  private def qCosineSeenRetire(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val idx = buildOnce(s"/tmp/graft_lsh_seen_${dirKey(dir)}") { d =>
      Ann.buildLshIndexSighted(
        e.filter(col("vec_id") % 16 === 9)
          .select(col("vec_id").as("id"), col("embedding").as("v")), d,
        dim = 64, day = "d0", planes = 6, tables = 4)
      Ann.appendToLshIndexSighted(s, d,
        e.filter(col("vec_id") % 16 === 10)
          .select(col("vec_id").as("id"), col("embedding").as("v"))
          .unionByName(e.filter(col("vec_id") % 32 === 9)
            .select((col("vec_id") + 1000000L).as("id"),
              col("embedding").as("v"))),
        day = "d1", tau = 0.4)
      IndexFamily.lsh.retireSeenWindow(s, d, keep = 1)
      ()
    }
    Dedup.cosineDedupAgainstIndex(s, idx,
      e.filter(col("vec_id") % 16 === 11)
        .select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 32 === 10)
          .select((col("vec_id") + 2000000L).as("vec_id"),
            col("embedding"))),
      "vec_id", "embedding", tau = 0.4)
  }

  // Exact repeated-substring spans: every >=30-char run (in normalized
  // text) that appears verbatim at least twice in the corpus.
  private def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
      w = 13, minLen = 30)

  // The transform half: normalized text with every repeated span cut
  // out (Lee et al. delete substrings, not documents).
  private def qRemoveSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedSpans(t(s, dir, "documents"), "doc_id", "text",
      w = 13, minLen = 30)

  // SemDeDup: cluster-bounded semantic dedup (rows-only — the k-means
  // fit has no SQL oracle; DedupSpec pins the selection rule).
  private def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 16, tau = 0.4)

  // SemDeDup at k=1: with one cell and trainCap covering the whole
  // table, the spherical k-means fit degenerates to the direction of
  // sum(v/|v|) — pure SQL — so the FULL selection arithmetic (centroid
  // -similarity priority, lexicographic tie-break, pairwise-cosine star
  // rule, 4dp rounding, zero-norm escape hatch) gets a cross-engine
  // hash-exact oracle instead of only the rows-only check k=16 allows.
  private def qSemDedupK1(s: SparkSession, dir: String): DataFrame = {
    val trainCap = 100000L
    val emb = t(s, dir, "embeddings")
    // ADVICE r11: the k=1 oracle's hash-exactness silently assumes the
    // k-means training SAMPLE covers every non-zero vector (sample mean
    // == population mean) and that >1 non-zero vector exists (ivfFit
    // returns Left otherwise, while the oracle still emits cell 0).
    // Dataset growth past trainCap must be a loud failure here, not a
    // bare hash mismatch in the round report.
    val nonZero = emb
      .filter(V.norm2(col("embedding").cast("array<double>")) > 0).count()
    require(nonZero > 1 && nonZero <= trainCap,
      s"q_sem_dedup_k1 degenerate-oracle contract broken: $nonZero " +
      s"non-zero embeddings (need 1 < n <= trainCap=$trainCap so the " +
      "training sample is the whole population)")
    Dedup.semDedup(emb, "vec_id", "embedding",
      k = 1, tau = 0.4, trainCap = trainCap)
  }

  // Duplicate clusters: verified minhash pairs -> connected components.
  // The pair list is quadratic inside a duplicate cluster; the cluster
  // map is linear — this is the form a 100 TB dedup actually keeps.
  /** The persisted near-dup cluster map, computed once per JVM — the
    * assignment table a real dedup pipeline writes and every consumer
    * (the cluster query, canonical selection) reads ([[buildOnce]],
    * the persisted-index argument). */
  private def clusterMapDir(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_cluster_map_${dirKey(dir)}") {
      d =>
      Dedup.dupClusters(
        Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
          w = 8, numHashes = 12, bands = 4, tau = 0.5, maxDf = Some(100))
        .select("id_a", "id_b"))
        .write.mode("overwrite").parquet(d)
    }

  private def qDedupCluster(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(clusterMapDir(s, dir))
      .select("id", "cluster_id", "cluster_sz")

  // The unverified star-edge variant (linear everywhere, banding-curve
  // precision) — same components as clustering the full bucket graph.
  private def qDedupClusterBand(s: SparkSession, dir: String): DataFrame =
    Dedup.bandClusters(t(s, dir, "documents"), "doc_id", "text",
      w = 8, numHashes = 12, bands = 4, maxDf = Some(100))

  /** Canonical selection over the minhash clusters: each near-dup
    * family keeps its longest member (n_chars as the quality signal,
    * ties → min doc_id); singletons survive untouched. The cluster map
    * is computed once per JVM and persisted — the shape of a real
    * dedup pipeline, which writes the assignment table and feeds every
    * downstream selection from it rather than re-clustering per
    * consumer ([[buildOnce]], the persisted-index argument). */
  private def qDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.keepCanonical(docs, s.read.parquet(clusterMapDir(s, dir)),
        "doc_id", "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** The synthesized crawl URL both engines build identically from
    * doc_id: scheme case, www, host case, trailing slash, query, and
    * fragment all vary on different moduli so every normalization
    * step is exercised, while the normalized key collapses to
    * (source, doc_id % 40) — real duplicate groups. */
  private def synthUrl = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
    when(col("doc_id") % 4 === 0, lit("www."))
      .when(col("doc_id") % 4 === 1, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 8 < 4, col("source")).otherwise(upper(col("source"))),
    lit(".com/page/"), (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit("?utm_source=feed&ref=1"))
      .otherwise(lit("")),
    when(col("doc_id") % 6 === 0, lit("#section-2")).otherwise(lit("")))

  /** v2-pipeline crawl URL: [[synthUrl]]'s cosmetic variation (scheme
    * case, www, host case, trailing slash, query, fragment), but the
    * page path makes one doc in five (doc_id%100 < 20, id ≥ 20) a
    * re-fetch of doc_id-20 — same host by construction (source =
    * src{id%20}) — so URL dedup drops a crawl-realistic ~20% instead
    * of the %40 wrap's 92%. */
  private def synthUrlV2 = {
    val page = when(col("doc_id") % 100 < 20 && col("doc_id") >= 20,
      col("doc_id") - 20).otherwise(col("doc_id"))
    concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(col("doc_id") % 4 === 0, lit("www."))
        .when(col("doc_id") % 4 === 1, lit("WWW.")).otherwise(lit("")),
      when(col("doc_id") % 8 < 4, col("source")).otherwise(upper(col("source"))),
      lit(".com/page/"), page.cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("?utm_source=feed&ref=1"))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit("#section-2")).otherwise(lit("")))
  }

  // URL-level exact dedup: re-fetches of one page under cosmetically
  // different URLs collapse to the min doc_id.
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupByUrl(
      t(s, dir, "documents").withColumn("url", synthUrl),
      "doc_id", "url")
      .select("doc_id", "url_norm")

  // Per-domain cap: each registered domain keeps its 5 longest docs
  // (n_chars as quality), rank-stamped.
  private def qDomainCap(s: SparkSession, dir: String): DataFrame =
    Dedup.capPerDomain(
      t(s, dir, "documents").withColumn("url", synthUrl),
      "doc_id", "url", n = 5, qualityCol = "n_chars")
      .select("doc_id", "domain", "rank")

  // The cap's daily-crawl form: an admission LEDGER spent across 4
  // arrival batches (doc_id % 4), 3 slots per domain, first-come
  // first-admitted — each batch runs the exact micro-batch body the
  // streaming driver uses (judge with own src excluded, append
  // admitted), so the verdict union equals one global per-domain rank
  // over (arrival batch, quality desc, id asc) capped at n.
  private def qDomainCapLedger(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("url", synthUrl)
    val base = java.nio.file.Files
      .createTempDirectory("graft_domcap_").toString
    val led = s"$base/ledger"
    val out = s"$base/out"
    Dedup.initDomainCapLedger(s, led, n = 3)
    (0L to 3L).foreach { b =>
      graft.streaming.StreamIngest.applyDomainCapBatch(
        docs.filter(col("doc_id") % 4 === b), b, led, "doc_id", "url",
        "n_chars", out)
    }
    s.read.parquet(out)
      .select(col("id"), col("domain"), col("admitted"),
        col("admitted_rank"))
  }

  // Rolling-window budget regeneration, oracle-checked: batches 0-3
  // spend under the greedy chain, batch 0's segment retires, and its
  // own docs return as a fresh crawl — admitted iff the domain still
  // has slots after batches 1-3's (immutable) admissions, rank
  // continuing from those survivors' count.
  private def qDomainCapRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").withColumn("url", synthUrl)
    val base = java.nio.file.Files
      .createTempDirectory("graft_domret_").toString
    val led = s"$base/ledger"
    val out = s"$base/out"
    Dedup.initDomainCapLedger(s, led, n = 3)
    (0L to 3L).foreach { b =>
      graft.streaming.StreamIngest.applyDomainCapBatch(
        docs.filter(col("doc_id") % 4 === b), b, led, "doc_id", "url",
        "n_chars", out)
    }
    IndexFamily.domainCap.retireSrcs(s, led, Seq("b0"))
    Dedup.capAgainstLedger(s, led, docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "url", "n_chars")
      .select(col("id"), col("domain"), col("admitted"),
        col("admitted_rank"))
  }

  // ---- training-data curation ---------------------------------------------

  // Benchmark decontamination: docs 0-24 stand in for the held-out eval
  // suite; every other doc sharing a 13-char shingle with them is flagged.
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.contamination(docs.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text", w = 13)
  }

  // The thresholded contamination report: per-doc shingle totals, hits
  // against the eval-suite union, and the overlap fraction.
  private def qContamScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.contaminationScore(docs.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text", w = 13)
  }

  // Mixture re-weighting: deterministic per-language keep fractions.
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    Curate.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 1.0, "de" -> 0.25, "es" -> 0.1), default = 0.0)
      .select("doc_id", "lang")

  // Gopher quality rules: every metric + the composite pass, with a
  // word floor low enough that the synthetic corpus splits both ways.
  private def qGopher(s: SparkSession, dir: String): DataFrame =
    Curate.gopherFilter(t(s, dir, "documents"), "doc_id", "text",
      minWords = 20)

  // C4 cleanup rules over a synthesized multi-line page (the corpus
  // text is single-line word soup, so line structure and every
  // rule-tripping pattern are spliced in deterministically from
  // doc_id — both engines build the identical page, then filter it).
  private def qC4Filter(s: SparkSession, dir: String): DataFrame = {
    val synth = t(s, dir, "documents").select(col("doc_id"), concat(
      substring(col("text"), 1, 60), lit(".\n"),
      substring(col("text"), 61, 40), lit("\n"),
      when(col("doc_id") % 9 === 0,
        lit("please enable javascript to view this page."))
        .otherwise(lit("a perfectly ordinary closing sentence.")),
      lit("\n"),
      when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet."))
        .otherwise(lit("the final line has plenty of words.")),
      lit("\n"),
      when(col("doc_id") % 11 === 0, lit("function() { return 1; }"))
        .otherwise(lit("no braces to see here.")),
      when(col("doc_id") % 13 === 0, lit("\nfrak appears right here."))
        .otherwise(lit(""))).as("text"))
    Curate.c4Filter(synth, "doc_id", "text", minLines = 3,
      badWords = Seq("frak"))
  }

  // Token-budget mixture: fill 20k EN / 15k ZH tokens from the
  // deterministic hash-ordered prefix of each language.
  private def qBudgetSample(s: SparkSession, dir: String): DataFrame =
    Curate.budgetSample(t(s, dir, "documents"), "doc_id", "text", "lang",
      Map("en" -> 20000L, "zh" -> 15000L), buckets = 16)

  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    Curate.packSequences(t(s, dir, "documents"), "doc_id", "text",
      budget = 1024, shards = 32)

  // α=0.5 temperature re-balancing toward an expected-300-doc mixture:
  // up-samples tail languages relative to their natural share without
  // saturating any stratum's keep fraction at 1 on the graded corpus.
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Curate.temperatureMixture(t(s, dir, "documents"), "doc_id", "lang",
      alpha = 0.5, budget = 300)

  // the published form weights by TOKENS: same α, budget as an
  // expected-token mass — strata of few long docs and many short docs
  // now hold equal shares at equal token sums
  private def qTemperatureMixTokens(s: SparkSession, dir: String): DataFrame =
    Curate.temperatureMixtureTokens(t(s, dir, "documents"), "doc_id",
      "lang", "text", alpha = 0.5, budgetTokens = 8000)

  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    Curate.shuffleShards(t(s, dir, "documents"), "doc_id", numShards = 8)

  // CCNet-style terciles over token counts: discrete-quantile CDF
  // thresholds, first label = lowest scores
  private def qScoreBuckets(s: SparkSession, dir: String): DataFrame =
    Curate.scoreBuckets(t(s, dir, "documents"), "doc_id",
      graft.functions.TextFunctions.tokenCount(col("text")),
      cuts = Seq(0.3333, 0.6667), labels = Seq("head", "middle", "tail"))

  // CCNet's deployed shape: the LM trains on a clean reference slice
  // (the EN documents stand in for the paper's Wikipedia) and scores
  // the WHOLE corpus; unseen bigrams fall to the add-k floor
  private def qPerplexityRef(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.perplexityScoreWith(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text")
  }

  // the published CCNet composition: bigram-LM cross-entropy → buckets
  // (head = most fluent under the corpus LM)
  private def qPerplexityBuckets(s: SparkSession, dir: String): DataFrame =
    Curate.scoreBuckets(
      Curate.perplexityScore(t(s, dir, "documents"), "doc_id", "text"),
      "id", col("xent"),
      cuts = Seq(0.3333, 0.6667), labels = Seq("head", "middle", "tail"))

  // BPE trainer surface: step-0 pair distribution and the argmax first
  // merge are hash-exact; the full iterative trainer is rows-only (no
  // SQL form — per-step argmax feeds the next step's counts) with
  // those two as its cross-engine arithmetic anchors.
  private def qBpePairs(s: SparkSession, dir: String): DataFrame =
    Bpe.initialPairs(t(s, dir, "documents"), "text")

  // minFreq=1 matches the oracle's UNCONDITIONAL argmax: with the
  // published default (minFreq=2) a corpus whose best pair is a
  // singleton would train to 0 rows while the oracle still emits its
  // argmax row — a silent rows mismatch instead of a loud contract
  private def qBpeMerge1(s: SparkSession, dir: String): DataFrame =
    Bpe.train(t(s, dir, "documents"), "text", numMerges = 1, minFreq = 1L)

  private val BpeTrainSteps = 12

  private def qBpeTrain(s: SparkSession, dir: String): DataFrame = {
    val out = Bpe.train(t(s, dir, "documents"), "text",
      numMerges = BpeTrainSteps)
    // loud contract guard (the chunk_recursive pattern): the oracle
    // chains exactly BpeTrainSteps merge CTEs and cannot model early
    // stop — a corpus where training goes dry before then must fail
    // loudly here, never hash-mismatch quietly. count() is free: train
    // returns a local relation of already-collected rules.
    val n = out.count()
    require(n == BpeTrainSteps.toLong,
      s"q_bpe_train degenerate-oracle contract broken: trainer stopped " +
      s"after $n merges (< $BpeTrainSteps) — the chained-CTE oracle " +
      "cannot model early stop; lower the step count for this corpus")
    out
  }

  // the trained-encoder path, hash-exact end to end: train 12 rules,
  // encode the corpus vocabulary under them; same early-stop guard as
  // q_bpe_train (shared chain, shared contract)
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.train(docs, "text", numMerges = BpeTrainSteps)
    require(merges.count() == BpeTrainSteps.toLong,
      s"q_bpe_encode degenerate-oracle contract broken: trainer stopped " +
      s"early — the chained-CTE oracle cannot model early stop")
    Bpe.encode(docs, "text", merges)
      .select(col("w"), array_join(col("syms"), " ").as("toks"), col("n"))
  }

  // the tokenizer's deployment surface: per-doc subword streams under
  // the trained 12-rule chain, symbol ids by lexicographic vocabulary
  // numbering (engine-portable; HF ships merge-rank ids — any stable
  // order); same early-stop guard as the chain's other consumers
  private def qBpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.train(docs, "text", numMerges = BpeTrainSteps)
    require(merges.count() == BpeTrainSteps.toLong,
      s"q_bpe_tokenize degenerate-oracle contract broken: trainer " +
      "stopped early — the chained-CTE oracle cannot model early stop")
    Bpe.tokenize(docs, "doc_id", "text", merges)
  }

  // training sequences under the TRAINED tokenizer's subword counts —
  // the artifact a training job memory-maps (a packing budget only
  // means anything in the tokens the job will actually see); docs with
  // no words carry no subwords and stay out of the packing, both
  // engines alike. Same early-stop guard as the chain's consumers.
  private def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.train(docs, "text", numMerges = BpeTrainSteps)
    require(merges.count() == BpeTrainSteps.toLong,
      s"q_pack_bpe degenerate-oracle contract broken: trainer stopped " +
      "early — the chained-CTE oracle cannot model early stop")
    val counts = Bpe.tokenize(docs, "doc_id", "text", merges)
      .groupBy("id").agg(count(lit(1)).as("n_bpe"))
    Curate.packSequencesBy(counts, "id", col("n_bpe"),
      budget = 2048, shards = 16)
  }

  // Tokenizer drift check: rules + vocabulary trained on the EVEN docs
  // only, the whole corpus tokenized under them — odd docs' symbols
  // outside the even vocabulary count as OOV. Same early-stop guard as
  // the chain's other consumers.
  private def qBpeCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val merges = Bpe.train(ref, "text", numMerges = BpeTrainSteps)
    require(merges.count() == BpeTrainSteps.toLong,
      s"q_bpe_coverage degenerate-oracle contract broken: trainer " +
      "stopped early — the chained-CTE oracle cannot model early stop")
    Bpe.coverage(docs, "doc_id", "text", merges, ref, "text")
  }

  // ftfy-lite over a corpus corrupted IN the query: both engines derive
  // the same mojibake (curly-quote wrap + NBSP-artifact spaces) from the
  // shared mojibakeTable, so the fix verifies as a real transform, not a
  // no-op on the clean synthetic corpus
  private def qFixText(s: SparkSession, dir: String): DataFrame = {
    val m = T.mojibakeTable.map(_.swap).toMap
    val corrupt = concat(lit(m("“")),
      replace(col("text"), lit(" "), lit(m(" "))),
      lit(m("”")))
    t(s, dir, "documents").select(col("doc_id"),
      T.fixText(corrupt).as("clean"))
  }

  // the subword vocabulary implied by the trained rules — the symbol
  // table a downstream embedder sizes on; same chain, same guard
  private def qBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = Bpe.train(docs, "text", numMerges = BpeTrainSteps)
    require(merges.count() == BpeTrainSteps.toLong,
      s"q_bpe_vocab degenerate-oracle contract broken: trainer stopped " +
      s"early — the chained-CTE oracle cannot model early stop")
    Bpe.vocabulary(docs, "text", merges)
  }

  // perceptual-hash media dedup over the decode/embed seam: sign-
  // threshold signature on the first 16 dims, banded hamming join —
  // banding is pure pruning, so the all-pairs oracle is exact
  private def qPhashDedup(s: SparkSession, dir: String): DataFrame =
    Multimodal.phashPairs(
      t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("features")),
      "id", "features", dim = 16, maxHam = 2, thresh = 0.0)

  /** The persisted phash history index for q_phash_index: everything
    * but the first five assets is "already ingested"; built once per
    * JVM per data dir (the persisted-index shape). */
  private def phashIdx(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_phash_idx_${dirKey(dir)}") { d =>
      Multimodal.buildPhashIndex(
        t(s, dir, "embeddings").filter(col("vec_id") >= 5)
          .select(col("vec_id").as("id"), col("embedding").as("features")),
        "id", "features", d, dim = 16, maxHam = 2, thresh = 0.0)
    }

  // the media-dedup HISTORY lifecycle: probe the persisted signature
  // index with a "new crawl" batch (the first five assets under fresh
  // ids — re-encodes of known media); banding is pure pruning, so the
  // oracle is the brute batch×history hamming filter
  private def qPhashIndex(s: SparkSession, dir: String): DataFrame = {
    val batch = t(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("id"),
        col("embedding").as("features"))
    Multimodal.dedupPhashAgainstIndex(s, phashIdx(s, dir), batch,
      "id", "features")
  }

  // Rolling-window retirement for the phash media index, oracle-checked
  // with the q_phash_index oracle VERBATIM: an extra day's segment
  // (re-encodes under +2M ids, disjoint from both history and probe)
  // appends and retires, so the probe must answer exactly like the
  // never-appended index.
  private def qPhashRetire(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "embeddings")
    val idx = buildOnce(s"/tmp/graft_phash_ret_${dirKey(dir)}") { d =>
      Multimodal.buildPhashIndex(
        media.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("id"), col("embedding").as("features")),
        "id", "features", d, dim = 16, maxHam = 2, thresh = 0.0)
      Multimodal.appendToPhashIndex(s, d,
        media.filter(col("vec_id") < 5)
          .select((col("vec_id") + 2000000L).as("id"),
            col("embedding").as("features")),
        "id", "features", "s1")
      IndexFamily.phash.retireSrcs(s, d, Seq("s1"))
    }
    val batch = media.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("id"),
        col("embedding").as("features"))
    Multimodal.dedupPhashAgainstIndex(s, idx, batch, "id", "features")
  }

  /** The phash sighting-window lifecycle (the q_minhash_seen_retire
    * construction on media signatures): build sighted on sixteenth
    * slice 1 (d0); d1 = slice 2 + verbatim re-encodes of every
    * %32==1 build asset (hamming 0 — certain rejections whose touch
    * re-sights the originals); d2 = slice 3; retire to the newest two
    * days; probe = slice 4 + copies of %32==3 (guaranteed dup rows).
    * Banding is pure pruning, so the oracle is brute hamming with the
    * admission/touch/aging rules replayed generically. */
  private def qPhashSeenRetire(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "embeddings")
    def slice(r: Int, m: Int = 16, off: Long = 0L) =
      media.filter(col("vec_id") % m === r)
        .select((col("vec_id") + off).as("id"),
          col("embedding").as("features"))
    val idx = buildOnce(s"/tmp/graft_phash_seen_${dirKey(dir)}") { d =>
      Multimodal.buildPhashIndexSighted(slice(1), "id", "features", d,
        dim = 16, day = "d0", maxHam = 2, thresh = 0.0)
      Multimodal.appendToPhashIndexSighted(s, d,
        slice(2).unionByName(slice(1, 32, 1000000L)),
        "id", "features", day = "d1")
      Multimodal.appendToPhashIndexSighted(s, d, slice(3),
        "id", "features", day = "d2")
      IndexFamily.phash.retireSeenWindow(s, d, keep = 2)
      ()
    }
    Multimodal.dedupPhashAgainstIndex(s, idx,
      slice(4).unionByName(slice(3, 32, 2000000L)), "id", "features")
  }

  // media near-dup families end to end (the LAION-style re-encode
  // collapse): sign-threshold signatures → banded hamming pairs →
  // connected components → keep the best member per family (max label
  // as the quality stand-in, ties → min id); singletons survive
  private def qPhashCluster(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("features"),
        col("label"))
    val pairs = Multimodal.phashPairs(media, "id", "features",
      dim = 16, maxHam = 2, thresh = 0.0).select("id_a", "id_b")
    Dedup.keepCanonical(media.select("id", "label"),
        Dedup.dupClusters(pairs), "id", "label")
      .select(col("id"), col("label").cast("long").as("label"))
  }

  /** The flagship end-to-end curation pipeline — the chain a real
    * pretraining-data run executes, stage outputs feeding stage inputs
    * (not the per-operator queries' isolated scans): crawl pages (body
    * + a boilerplate footer repeated twice, the nav/footer shape real
    * crawls have) → within-doc line dedup (collapses the footer) →
    * Gopher quality gate → benchmark decontamination (doc_id < 25
    * stands in for the eval suite; its own rows leave the pool too) →
    * minhash near-dup clusters over the SURVIVORS (df caps and Jaccard
    * computed on the filtered corpus, as a staged pipeline would) →
    * canonical selection by n_chars → token-budget mixture fill.
    * Output is the training-mixture manifest (id, stratum, n_tok,
    * cum_tok). Budgets are sized to bite at sf0.01 (en pool ≫ 4k
    * tokens) so the prefix cut is actually exercised.
    *
    * Scale shape: every stage is one of the §2 operators unchanged —
    * the composition adds joins that are all semi/anti joins on doc_id
    * (AQE broadcasts the small filtered sides) and no new shuffles
    * beyond the stages' own. */
  private def qCurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val footer = "subscribe to our newsletter for updates."
    val pages = docs.select(col("doc_id"), col("lang"), col("n_chars"),
      concat(col("text"), lit("\n" + footer + "\n" + footer)).as("text"))
    // stage 1: within-doc line dedup — the duplicated footer collapses
    val cleaned = Dedup.dedupLinesInDoc(pages, "doc_id", "text")
      .select(col("id").as("doc_id"), col("clean").as("text"))
      .join(docs.select("doc_id", "lang", "n_chars"), Seq("doc_id"))
    // stage 2: Gopher quality gate on the cleaned text
    val quality = cleaned.join(
      Curate.gopherFilter(cleaned, "doc_id", "text", minWords = 20)
        .filter(col("pass")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    // stage 3: benchmark decontamination (bench = raw eval-suite text)
    // w=30: a shared 30-char verbatim run means a real eval-set dupe
    // (w=13 ~ 2 words flags the whole word-soup corpus — measured)
    // the pool is consumed THREE times (minhash shingling, canonical
    // selection, and transitively the budget fill) — without pinning it,
    // each consumer re-executes the whole line-dedup → Gopher →
    // decontaminate chain, and at 100× every redundant pass is a
    // full-corpus scan + shuffle. persist + count (NOT localCheckpoint):
    // the eager count materializes the frame once, and the cached
    // InMemoryRelation reports ACTUAL bytes (843 KB here) where a
    // localCheckpoint preserves the join-chain's multiplicatively
    // inflated estimate (39.7 GB for the same frame) — measured 2.4×
    // slower end-to-end because every downstream broadcast semi-join
    // degraded to a shuffle (mechanism pinned in PlanAuditSpec).
    // Verify/Bench clearCache between queries, so the blocks don't
    // outlive the query.
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val pool = pin(Curate.decontaminate(
      quality.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text", w = 30))
    // stage 4: near-dup clusters over the survivors, keep the longest
    val clusters = Dedup.dupClusters(
      Dedup.minhashLsh(pool, "doc_id", "text", w = 8, numHashes = 12,
        bands = 4, tau = 0.5, maxDf = Some(100)).select("id_a", "id_b"))
    val canonical = pin(Dedup.keepCanonical(pool, clusters, "doc_id", "n_chars"))
    // stage 5: token-budget mixture fill over what survived
    Curate.budgetSample(canonical, "doc_id", "text", "lang",
      Map("en" -> 4000L, "zh" -> 3000L), buckets = 16)
  }

  /** Inter-stage pin for the flagship pipelines: persist + eager count
    * (NOT localCheckpoint — a LogicalRDD has no size stats, so every
    * downstream broadcast semi-join would silently degrade to a
    * shuffle; measured 2.4× on v1, mechanism pinned in PlanAuditSpec).
    * Verify/Bench clearCache between queries, so blocks don't outlive
    * the query. */
  private def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The exact-dedup history index for the v2 pipeline's bloom gate:
    * "yesterday's crawl" = raw docs 0-49, built once per JVM per data
    * dir (the persisted-index shape — a real pipeline probes the same
    * stored index every day, it doesn't rebuild per query). */
  private def v2HistoryIdx(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_v2_exidx_${dirKey(dir)}") { d =>
      Dedup.buildExactIndex(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", d)
    }

  /** The CCNet/RefinedWeb flagship, second generation — the r13/r14
    * operator crop chained as ONE run, stage outputs feeding stage
    * inputs: the crawl arrives mojibaked (space → CP1252 artifact,
    * derived from the shared table IN the query) → fixText repair →
    * URL-normalized re-fetch collapse → Gopher quality gate →
    * exact-history Bloom admission gate (drop anything yesterday's
    * crawl already ingested — docs 0-49 raw, a persisted index) →
    * reference-trained LM scoring (the EN survivors stand in for
    * CCNet's Wikipedia) → head/middle/tail by the pool's own xent CDF
    * → drop the tail, α=0.5 temperature mixture over lang →
    * deterministic epoch shuffle shards. Output is the training-order
    * manifest (id, shard, pos) — membership pins every stage.
    *
    * Scale shape: every stage is its §2 operator unchanged; the
    * composition's joins are all broadcast semi/inner joins on doc_id
    * (inter-stage pins keep real size stats so AQE broadcasts — the
    * v1 lesson), the bloom gate is a codegen'd scalar predicate +
    * DPP-pruned confirm, and the only new shuffles are the stages'
    * own. */
  private def qCurationPipelineV2(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val m = T.mojibakeTable.map(_.swap).toMap
    // stage 0+1: corrupt-then-fix (both engines derive the corruption
    // from the shared table, so the repair verifies as a real
    // transform): every plain space becomes the CP1252 NBSP artifact
    // (m keyed by " ", the table's repaired form)
    val fixed = docs.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"),
      T.fixText(replace(col("text"), lit(" "), lit(m(" ")))).as("text"))
    // stage 2: URL-level re-fetch collapse (min doc_id per normalized
    // URL). synthUrlV2, not synthUrl: the %40 page wrap collapses 92%
    // of the corpus (the right shape for the ISOLATED url-dedup
    // query's oracle, wrong for a pipeline that must feed six more
    // stages) — v2's page path makes one doc in five a re-fetch of
    // doc_id-20 instead, a crawl-realistic ~20% duplication
    val d1 = Dedup.dedupByUrl(fixed.withColumn("url", synthUrlV2),
      "doc_id", "url").drop("url", "url_norm")
    // stage 3: Gopher quality gate
    val d2 = pinned(d1.join(
      Curate.gopherFilter(d1, "doc_id", "text", minWords = 20)
        .filter(col("pass")).select(col("id").as("doc_id")),
      Seq("doc_id"), "left_semi"))
    // stage 4: exact-history bloom admission gate
    val novel = Dedup.dedupExactAgainstIndex(s, v2HistoryIdx(s, dir),
        d2, "doc_id", "text")
      .filter(!col("is_dup")).select(col("id").as("doc_id"))
    val pool = pinned(d2.join(novel, Seq("doc_id"), "left_semi"))
    // stage 5: reference-LM scoring (EN survivors = the clean reference)
    val scored = pinned(Curate.perplexityScoreWith(pool,
      pool.filter(col("lang") === "en"), "doc_id", "text"))
    // stage 6: CCNet buckets over the pool's own CDF
    val bucketed = Curate.scoreBuckets(scored, "id", col("xent"),
      cuts = Seq(0.3333, 0.6667), labels = Seq("head", "middle", "tail"))
    // stage 7: drop the tail, α-temperature mixture over lang
    val keptLang = pinned(bucketed.filter(col("bucket") =!= "tail")
      .join(pool.select(col("doc_id").as("id"), col("lang")), Seq("id")))
    val mixed = Curate.temperatureMixture(keptLang, "id", "lang",
      alpha = 0.5, budget = 60)
    // stage 8: deterministic epoch shuffle
    Curate.shuffleShards(mixed, "id", numShards = 8)
  }

  // span-precision contamination: the exact char ranges of each corpus
  // doc that verbatim-overlap the doc_id<25 benchmark split
  private def qContamSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.contaminatedSpans(docs.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text")
  }

  // surgical decontamination: those spans cut out, every doc surviving
  private def qDecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.removeContaminatedSpans(docs.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text")
  }

  // Semantic contamination: vectors 0-4 stand in for the eval suite's
  // embeddings; every other vector reports its nearest benchmark mate.
  private def qSemContam(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Curate.semanticContamination(e.filter(col("vec_id") >= 5),
      e.filter(col("vec_id") < 5), "vec_id", "embedding")
  }

  // The clean side: corpus vectors whose nearest benchmark cosine stays
  // under tau (paraphrase-level leakage the n-gram screen can't see).
  private def qDecontaminateSem(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Curate.decontaminateSemantic(e.filter(col("vec_id") >= 5),
      e.filter(col("vec_id") < 5), "vec_id", "embedding", tau = 0.35)
      .select(col("vec_id"), col("label").cast("int").as("label"))
  }

  // CCNet-style quality signal: bigram cross-entropy of every doc under
  // a model trained on the corpus itself (the head/middle/tail bucketer).
  private def qPerplexity(s: SparkSession, dir: String): DataFrame =
    Curate.perplexityScore(t(s, dir, "documents"), "doc_id", "text", k = 1.0)

  // DSIR importance weights: docs 0-24 stand in for the quality/domain
  // target (the same split decontamination uses); every other doc is
  // scored by target-vs-raw hashed n-gram log-likelihood ratio.
  private def qDsirWeight(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.importanceWeight(docs.filter(col("doc_id") >= 25),
      docs.filter(col("doc_id") < 25), "doc_id", "text",
      buckets = 1 << 14, k = 1.0)
  }

  // Split on source (the group key) so near-dups within a source can't
  // straddle train/test.
  private def qHoldoutSplit(s: SparkSession, dir: String): DataFrame =
    Curate.holdoutSplit(t(s, dir, "documents"), "source", testFrac = 0.2)
      .select("doc_id", "source", "split")

  // Snapshot mutation shared by the incremental-crawl queries: new =
  // old minus every 7th doc, every 5th doc's text touched, 100 fresh
  // ids added.
  private def mutatedSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 1000000L))

  // Snapshot diff — the incremental-crawl triage's primitive.
  private def qCorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Curate.corpusDiff(docs, mutatedSnapshot(docs), "doc_id", "text")
  }

  // Token-distribution drift across the same mutation — the monitoring
  // twin of the diff (what did the crawl re-weight?).
  private def qTokenDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Stats.tokenDrift(docs, mutatedSnapshot(docs), "text", k = 20)
  }

  // Per-doc n-gram novelty across the same mutation: the appended
  // ' updated' suffix contributes only a handful of fresh shingles, so
  // changed docs score low while nothing scores for unchanged... every
  // doc reports (copies of old docs score 0).
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    Stats.noveltyScore(mutatedSnapshot(docs), docs, "doc_id", "text")
  }

  /** The embedding snapshot mutation behind both drift queries: drop
    * every 7th vector, double-weight the first 50 — a re-crawl that
    * re-mixes sources without touching any component values, so the
    * drift is pure re-weighting (the oracle mirrors the set algebra,
    * no float arithmetic crosses engines). */
  private def mutatedVecs(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 7 =!= 0)
      .unionByName(e.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 1000000L))

  // Embedding-space drift across the vector-side mutation — the
  // semantic monitor next to q_token_drift's lexical one.
  private def qEmbedDrift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    Stats.embeddingDrift(e, mutatedVecs(e), "embedding")
  }

  private def qEmbedDriftSummary(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    Stats.embeddingDriftSummary(e, mutatedVecs(e), "embedding")
  }

  // The drill-down: the same mutation localized per label stratum —
  // "THIS source drifted", not just "the corpus drifted".
  private def qEmbedDriftBy(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding", "label")
    Stats.embeddingDriftBy(e, mutatedVecs(e), "embedding", "label")
  }

  // The diff's consumer: same old/new mutation as q_corpus_diff PLUS
  // two twin replicas per low doc (same fresh text, different ids) so
  // every action fires: the +1M adds collide with history
  // (skip_duplicate), the +2M/+3M twins collide with each other
  // (smallest id upserts, the other skips), changed docs upsert or
  // fail quality, removed docs delete.
  private def qCrawlTriage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val twins = docs.filter(col("doc_id") < 30)
      .withColumn("text", concat(col("text"), lit(" fresh twin")))
    val newSnap = mutatedSnapshot(docs)
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 2000000L))
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 3000000L))
    Curate.crawlTriage(docs, newSnap, "doc_id", "text", minWords = 20)
  }

  // The mixture TABLE (per-lang tokens -> alpha-weights -> epochs)
  // rather than the mixture FILTER — alpha 0.5, 2M-token budget, so
  // small langs upsample past 1 epoch and big ones subsample.
  private def qEpochPlan(s: SparkSession, dir: String): DataFrame =
    Curate.epochPlan(t(s, dir, "documents"), "lang", "text",
      alpha = 0.5, budgetTokens = 2000000L)

  // The plan materialized: one row per pass of each doc — whole epochs
  // plus the hash-admitted fractional pass.
  private def qEpochApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curate.applyEpochPlan(docs, "doc_id", "lang",
      Curate.epochPlan(docs, "lang", "text", alpha = 0.5,
        budgetTokens = 2000000L))
  }

  private def qCorpusStats(s: SparkSession, dir: String): DataFrame =
    Stats.corpusStatsExact(t(s, dir, "documents"), "lang", "text")

  private def qTopTokens(s: SparkSession, dir: String): DataFrame =
    Stats.topTokens(t(s, dir, "documents"), "lang", "text", k = 20)

  // ---- similarity search -------------------------------------------------

  private def corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("v"))

  private def queriesSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def qAnnTopk(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10, metric = "cosine")
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  private def qAnnIp(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10, metric = "ip")
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  // l2 scores are NEGATED distances (uniform "higher is better" rank
  // order); the oracle mirrors with -list_distance
  private def qAnnL2(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10, metric = "l2")
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(corpus(s, dir), queriesSet(s, dir), k = 10, dim = 64,
        planes = 6, tables = 4)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** Recall@k of the LSH index vs exact brute force — the index-tuning
    * report, hash-exact because BOTH sides are: the plane components
    * are md5-derived driver literals the oracle reproduces (the
    * q_ann_lsh CTEs) and brute force is the q_ann_topk scan. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    Ann.recallAtK(
      Ann.lshTopK(corpus(s, dir), queriesSet(s, dir), k = 10, dim = 64,
        planes = 6, tables = 4),
      Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10),
      k = 10)

  /** MRR of the LSH index vs exact brute force — recallAtK's
    * order-sensitive sibling over the same hash-exact sides. */
  private def qAnnMrr(s: SparkSession, dir: String): DataFrame =
    Ann.mrrAtK(
      Ann.lshTopK(corpus(s, dir), queriesSet(s, dir), k = 10, dim = 64,
        planes = 6, tables = 4),
      Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10),
      k = 10)

  /** The OR-construction tuning sweep at the graded plane count:
    * tables 1 → 2 → 4 vs mean recall@10 against brute force, stopping
    * at the first step over 0.15 (chosen to stop MID-ladder on the
    * graded corpus, so the early-stop rule itself is oracle-checked).
    * Hash-exact: every step's both sides are the q_ann_recall
    * mechanisms (lshSigCtes planes, brute-force scan), and the oracle
    * replays the stop rule with a window filter — generic in sf. */
  private def qAnnTuneLsh(s: SparkSession, dir: String): DataFrame =
    Ann.tuneLshTables(corpus(s, dir), queriesSet(s, dir), k = 10,
        dim = 64, planes = 6, targetRecall = 0.15, maxTables = 4)
      .select(col("tables").cast("long").as("tables"), col("mean_recall"),
        col("meets_target"))

  /** The retrain-decision ARITHMETIC over hash-exact ingredients: the
    * q_ann_recall frame (LSH vs brute) feeds the recall arm, the
    * q_embed_drift_summary slices (full table vs the %7-masked+head
    * union) feed the drift arm — so the floors, the 4dp mean, and the
    * OR decision rule are all cross-engine checked. The IVF-backed
    * q_retrain_advisor is this mechanism pointed at a live index. */
  private def qRetrainReport(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Ann.advisorReport(
      Ann.recallAtK(
        Ann.lshTopK(corpus(s, dir), queriesSet(s, dir), k = 10, dim = 64,
          planes = 6, tables = 4),
        Ann.bruteForceTopK(corpus(s, dir), queriesSet(s, dir), k = 10),
        k = 10),
      Stats.embeddingDriftSummary(e,
        e.filter(col("vec_id") % 7 =!= 0)
          .unionByName(e.filter(col("vec_id") < 50)),
        "embedding"),
      recallFloor = 0.9, driftFloor = 0.999)
  }

  /** The packaged retrain decision over the shared persisted IVF index
    * (rows-only: the partial-probe recall is k-means-dependent; the
    * decision arithmetic is the hash-exact q_retrain_report, and the
    * drifted-append/retrain lifecycle is pinned in AnnSpec): fresh =
    * the odd embedding half against the index's own train_stats
    * record, recall at the production nprobe vs full probe. */
  private def qRetrainAdvisor(s: SparkSession, dir: String): DataFrame =
    Ann.retrainAdvisor(s, hybIvfIdx(s, dir),
      t(s, dir, "embeddings").filter(col("vec_id") % 2 === 1)
        .select(col("embedding").as("v")),
      queriesSet(s, dir), k = 10, recallFloor = 0.9, driftFloor = 0.999,
      nprobe = 4)

  /** [[qRetrainAdvisor]] for the CODE families (rows-only like it —
    * the decision arithmetic is the hash-exact q_retrain_report, the
    * quiet/fires/quiet lifecycle triple is AnnSpec's): the IVF_SQ8
    * advisor rides the SHARED persisted SQ8 index; PQ builds its own
    * (codebook drift is the damaging kind there — codes decode through
    * the trained codebooks, so ADC scores degrade silently). Fresh =
    * the odd embedding half against each index's train_stats record. */
  private def qRetrainAdvisorSq8(s: SparkSession, dir: String): DataFrame =
    Ann.retrainAdvisorIvfSq8(s, ivfSq8Idx(s, dir),
      t(s, dir, "embeddings").filter(col("vec_id") % 2 === 1)
        .select(col("embedding").as("v")),
      queriesSet(s, dir), k = 10, recallFloor = 0.9, driftFloor = 0.999,
      nprobe = 4)

  /** Eighth-corpus slices (r19, the q_retrain_advisor_pq bench-billing
    * item): unlike the SQ8 advisor (which rides the SHARED persisted
    * SQ8 index), the PQ advisor owns a private build, and a
    * full-corpus IVF-PQ fit billed 10-43 s to this one rows-only
    * query. The advisor arithmetic (train_stats drift vs the fresh
    * frame, recall at the production nprobe) is slice-size-invariant,
    * so the build takes id %8==0 and the fresh frame the matching
    * vec_id %8==1 eighth. */
  private def qRetrainAdvisorPq(s: SparkSession, dir: String): DataFrame =
    Ann.retrainAdvisorIvfPq(s,
      buildOnce(s"/tmp/graft_ivfpq8_idx_${dirKey(dir)}") {
        d => Ann.buildIvfPqIndex(corpus(s, dir).filter(col("id") % 8 === 0),
          d, nlist = 16, m = 8, ksub = 16)
      },
      t(s, dir, "embeddings").filter(col("vec_id") % 8 === 1)
        .select(col("embedding").as("v")),
      queriesSet(s, dir), k = 10, recallFloor = 0.9, driftFloor = 0.999,
      nprobe = 4)

  /** DPR-style hard negatives: the 10 nearest corpus vectors per
    * anchor that stay BELOW the near-dup bar (0.35 on this corpus —
    * just under the q_dedup_cosine tau, so "hard" here means the
    * near-miss band that teaches a bi-encoder the most). */
  private def qMineNegatives(s: SparkSession, dir: String): DataFrame =
    Ann.mineHardNegatives(corpus(s, dir), queriesSet(s, dir), k = 10,
      dupThreshold = 0.35)
      .select(col("qid"), col("id"), col("score"), col("neg_rank"))

  /** Contrastive triplets over the first 20 vectors as anchors: the
    * nearest neighbor >= 0.35 is the positive (most but NOT all
    * anchors have one — the drop rule is exercised on this corpus),
    * the 5 nearest below it are the negatives. */
  private def qTriplets(s: SparkSession, dir: String): DataFrame =
    Ann.contrastiveTriplets(corpus(s, dir),
      t(s, dir, "embeddings").filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      negK = 5, posThreshold = 0.35, negThreshold = 0.35)

  /** The multi-positive (InfoNCE-batch) triplet form: posK=2 — every
    * anchor's two nearest positives each pair with its 3 negatives. */
  private def qTripletsMulti(s: SparkSession, dir: String): DataFrame =
    Ann.contrastiveTriplets(corpus(s, dir),
      t(s, dir, "embeddings").filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      negK = 3, posThreshold = 0.35, negThreshold = 0.35, posK = 2)

  /** The packaged tuning loop over the persisted full-corpus IVF
    * index: sweep nprobe 1,2,4,… until mean recall@10 vs the index's
    * own full probe clears 0.95. Rows-only (the sweep's recall values
    * are k-means-dependent); the recall arithmetic is the hash-exact
    * q_ann_recall mechanism, and the sweep's invariants (doubling
    * steps, monotone recall, stop-at-first-clear, full probe = 1.0)
    * are spec-pinned in AnnSpec. */
  private def qAnnTune(s: SparkSession, dir: String): DataFrame =
    Ann.tuneNprobe(s, hybIvfIdx(s, dir), queriesSet(s, dir), k = 10,
      targetRecall = 0.95)

  /** Flagship composition: the engine GENERATES the contrastive
    * training set for its own embedder — the feedback loop a real
    * embedding pipeline closes (the reference SERVES embedding
    * models; this is where their next version's data comes from).
    * Chain: embed every doc through the reference's embedding seam
    * (the deterministic fakeDenseEmbed stub, dim 16) → mine triplets
    * over the embedded corpus (anchors = first 20 docs; nearest
    * neighbor >= 0.65 is the positive, 3 nearest below are the
    * negatives; no-positive anchors drop) → attach the three training
    * texts (the tiny triplet set broadcasts against the corpus — the
    * text table is never shuffled) → deterministic shard/pos for the
    * training reader (the shuffle_shards recipe keyed by the
    * qid:neg_id row identity). Hash-exact end to end: every stage is
    * SQL-mirrored. */
  private def qContrastivePipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = docs.select(col("doc_id").as("id"),
      V.fakeDenseEmbed(col("text"), 16).as("v"))
    val anchors = emb.filter(col("id") < 20)
      .select(col("id").as("qid"), col("v").as("qv"))
    val trip = Ann.contrastiveTriplets(emb, anchors, negK = 3,
      posThreshold = 0.65, negThreshold = 0.65)
    val shards = Curate.shuffleShards(
      trip.select(concat_ws(":", col("qid"), col("neg_id")).as("row_id")),
      "row_id", numShards = 4)
      .select(split(col("id"), ":").getItem(0).cast("long").as("qid"),
        split(col("id"), ":").getItem(1).cast("long").as("neg_id"),
        col("shard").cast("long"), col("pos"))
    Ann.attachTripletTexts(
        trip.join(broadcast(shards), Seq("qid", "neg_id")), docs)
      .select(col("qid"), col("pos_id"), col("neg_id"), col("neg_rank"),
        col("anchor_text"), col("pos_text"), col("neg_text"),
        col("shard"), col("pos"))
  }

  /** The 100 TB mining path: hard negatives via the PERSISTED IVF
    * index at full probe with a covering window — hash-exact against
    * the SAME oracle as q_mine_negatives (the q_rerank_index pattern:
    * the scale path must answer exactly like the in-memory form).
    * window=40 covers: the graded corpus averages ~1 in-window
    * positive per anchor, so 40 slots hold 10 negatives many times
    * over. */
  private def qMineNegativesIvf(s: SparkSession, dir: String): DataFrame =
    Ann.mineHardNegativesIndex(s, hybIvfIdx(s, dir), queriesSet(s, dir),
      k = 10, dupThreshold = 0.35, window = 40, nprobe = 16)

  private def qAnnIvf(s: SparkSession, dir: String): DataFrame =
    Ann.ivfTopK(corpus(s, dir), queriesSet(s, dir), k = 10, nlist = 16, nprobe = 4)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** IVF probing EVERY cell: the partition loses nothing, so the result
    * is hash-exact against the brute-force oracle — the cross-engine
    * proof that cell assignment + probe ranking is sound. */
  private def qAnnIvfFull(s: SparkSession, dir: String): DataFrame =
    Ann.ivfTopK(corpus(s, dir), queriesSet(s, dir), k = 10, nlist = 16, nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** IVF-PQ residual ADC (rows-only: quantization error has no SQL
    * oracle; recall and determinism are pinned in AnnSpec). */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame =
    Ann.ivfPqTopK(corpus(s, dir), queriesSet(s, dir), k = 10,
        nlist = 16, nprobe = 4, m = 8, ksub = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** IVFADC at nlist=1 + ksub=1: the coarse centroid degenerates to the
    * spherical mean (direction of Σ v/‖v‖ over the non-zero corpus —
    * the q_sem_dedup_k1 centroid), every vector lands in cell 0, the
    * residual codebooks degenerate to the mean residual per subspace,
    * and the per-cell l2 LUT collapses to
    * 2·(qres·r̄) − ‖r̄‖² − ‖qres‖² with qres = q − centroid — pure SQL.
    * Cross-engine-verifies the residual computation, residual-codebook
    * training, and per-cell LUT scoring that the real IVFADC composes
    * (zero-norm vectors are excluded by ivfFit, as the oracle mirrors). */
  private def qAnnIvfPqK1(s: SparkSession, dir: String): DataFrame = {
    val trainCap = 100000L
    val nonZero = corpus(s, dir)
      .filter(V.norm2(col("v").cast("array<double>")) > 0).count()
    requireCapCovers("q_ann_ivf_pq_k1", nonZero, trainCap)
    Ann.ivfPqTopK(corpus(s, dir), queriesSet(s, dir), k = 10,
        nlist = 1, nprobe = 1, m = 8, ksub = 1, trainCap = trainCap)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  private def qAnnSq8(s: SparkSession, dir: String): DataFrame =
    Ann.sq8TopK(corpus(s, dir), queriesSet(s, dir), k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** The PERSISTED IVF_SQ8 index at full probe — the Milvus index
    * family between IVF_FLAT and IVF_PQ, end to end: cells store SQ8
    * codes at rest (4× smaller), the search dequantizes in codegen.
    * Full probe loses nothing, so the result is hash-exact against the
    * q_ann_sq8 oracle — the cross-engine proof that quantize-at-build
    * + cell partitioning + dequantized scoring ports exactly. */
  private def qAnnIvfSq8(s: SparkSession, dir: String): DataFrame =
    Ann.searchIvfSq8Index(s, ivfSq8Idx(s, dir), queriesSet(s, dir), k = 10,
        nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** The shared persisted IVF_SQ8 index — one build behind q_ann_ivf_sq8
    * and the SQ8 retrain advisor. */
  private def ivfSq8Idx(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_ivfsq8_idx_${dirKey(dir)}") {
      d => Ann.buildIvfSq8Index(corpus(s, dir), d, nlist = 16)
    }

  /** Product-quantization ADC search (rows-only: quantization error has
    * no SQL oracle; recall and determinism are pinned in AnnSpec). */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame =
    Ann.pqTopK(corpus(s, dir), queriesSet(s, dir), k = 10, m = 8, ksub = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** Where q_ann_pq_adc dumps the trained PQ codebooks for the oracle —
    * the [[W2vAvgVectorsBase]] hand-off pattern: the k-means fit has no
    * SQL form, but given the trained (sub, code, d, val) table both
    * engines can read, the encode argmin and the LUT-sum ADC scoring
    * ARE SQL — so full-ksub ADC arithmetic gets a hash-exact check
    * (q_ann_pq's k=1 degenerate covered only the collapsed form). Keyed
    * per corpus (count + id sum, re-derived by the SQL) under a per-JVM
    * base; same concurrency story as the w2v dump. */
  private val PqAdcCodebooksBase = new java.io.File(
    sys.props("java.io.tmpdir"),
    s"graft_pq_adc_codebooks_${java.util.UUID.randomUUID.toString.take(8)}")
    .getAbsolutePath

  private def qAnnPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val keyRow = emb.agg(count(lit(1)),
      coalesce(sum(col("vec_id")), lit(0L))).head()
    val key = s"${keyRow.getLong(0)}_${keyRow.getLong(1)}"
    val (topk, cbOpt) = Ann.pqTopKWithCodebooks(corpus(s, dir),
      queriesSet(s, dir), k = 10, m = 8, ksub = 16, metric = "ip")
    val cb = cbOpt.getOrElse(throw new IllegalStateException(
      "q_ann_pq_adc degenerate-oracle contract broken: the corpus no " +
        "longer exceeds one codebook and PQ fell back to brute force — " +
        "the ADC oracle cannot model that"))
    cb.withColumn("corpus_key", lit(key))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$PqAdcCodebooksBase/$key")
    topk.select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** The trainCap-covers-everything contract every k=1 degenerate oracle
    * rests on: the k-means "sample" must BE the population (sample mean
    * == population mean, which is what the SQL side computes) and hold
    * more than one vector (the trainers bail to brute force otherwise).
    * Dataset growth past the cap must fail loudly here, not surface as
    * a bare hash mismatch in the round report. */
  private def requireCapCovers(name: String, n: Long, trainCap: Long): Unit =
    require(n > 1 && n <= trainCap,
      s"$name degenerate-oracle contract broken: $n vectors (need " +
      s"1 < n <= trainCap=$trainCap so the training sample is the " +
      "whole population)")

  /** PQ at ksub=1: each subspace codebook degenerates to the subspace
    * MEAN of the training sample (k-means with one centroid converges
    * in one step), every code is 0, and the l2 ADC score collapses to
    * −‖q − mean‖² expanded per subspace — pure SQL. The full
    * trainPq → encode → LUT → ADC-sum → rank path (the arithmetic the
    * 32-128× compression claim rides on) gets a cross-engine hash-exact
    * check that the ksub=16 recall spec can't give. trainCap covers the
    * corpus so the sample mean is the population mean. */
  private def qAnnPqK1(s: SparkSession, dir: String): DataFrame = {
    val trainCap = 100000L
    requireCapCovers("q_ann_pq_k1", corpus(s, dir).count(), trainCap)
    Ann.pqTopK(corpus(s, dir), queriesSet(s, dir), k = 10, m = 8, ksub = 1,
        metric = "l2", trainCap = trainCap)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** C4-style segment dedup over synthesized two-paragraph docs:
    * paragraph 1 is the doc's own text slice (unique per doc),
    * paragraph 2 an md5 string shared by each (2k, 2k+1) doc pair — so
    * the shared paragraph must survive only in the even doc. Both
    * engines derive the same synthetic corpus, so the oracle is
    * hash-exact. */
  private def qDedupSegments(s: SparkSession, dir: String): DataFrame = {
    val pdocs = t(s, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 100), lit("\n"),
        md5(floor(col("doc_id") / 2).cast("string"))).as("text"))
    Dedup.dedupSegments(pdocs, "doc_id", "text")
      .select(col("id").as("doc_id"), col("text"))
  }

  // Within-doc line dedup: both engines synthesize a 3-segment doc
  // whose third segment duplicates its first; only the first survives.
  private def qDedupLines(s: SparkSession, dir: String): DataFrame = {
    val pdocs = t(s, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 80), lit("\n"),
        md5(col("doc_id").cast("string")), lit("\n"),
        substring(col("text"), 1, 80)).as("text"))
    Dedup.dedupLinesInDoc(pdocs, "doc_id", "text")
  }

  /** The synthesized 3-line document both line-corpus queries (and
    * their oracles) agree on — the q_dedup_lines trick, since the
    * corpus has no natural newlines: line 1 is the doc's first 60
    * chars (hot exactly when docs share prefixes, i.e. the near-dup
    * families), line 2 alternates a corpus-wide boilerplate footer
    * (df ≈ half the corpus → always dropped) with a per-doc md5
    * (df = 1 → always kept), line 3 is chars 61-120. */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(substring(col("text"), 1, 60), lit("\n"),
        when(col("doc_id") % 2 === 0, lit("boilerplate footer line"))
          .otherwise(md5(col("doc_id").cast("string"))), lit("\n"),
        substring(col("text"), 61, 60)).as("text"))

  private def qDedupLinesCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLinesAcrossDocs(linedDocs(s, dir), "doc_id", "text", minDf = 2)

  // The persisted line-df index path over the SAME synthesized 3-line
  // text: odd docs are the crawl history, even docs the arriving batch.
  // The batch verdict counts history df + within-batch df, so it equals
  // the whole-corpus batch operator restricted to even ids — which is
  // exactly the oracle (the q_dedup_lines_corpus SQL + a parity filter).
  private def qDedupLinesIndex(s: SparkSession, dir: String): DataFrame = {
    val pdocs = linedDocs(s, dir)
    val idx = buildOnce(s"/tmp/graft_linedf_idx_${dirKey(dir)}") { d =>
      Dedup.buildLineDfIndex(pdocs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", d)
    }
    Dedup.lineDfAgainstIndex(s, idx,
      pdocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", minDf = 2)
  }

  // Rolling-window retirement, oracle-checked with the index oracle
  // VERBATIM: build on odds, append evens as s1, retire s1 — the probe
  // must then answer exactly like the never-appended index.
  private def qDedupLinesRetire(s: SparkSession, dir: String): DataFrame = {
    val pdocs = linedDocs(s, dir)
    val idx = buildOnce(s"/tmp/graft_linedf_ret_${dirKey(dir)}") { d =>
      Dedup.buildLineDfIndex(pdocs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", d)
      Dedup.appendToLineDfIndex(s, d,
        pdocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "s1")
      IndexFamily.linedf.retireSrcs(s, d, Seq("s1"))
    }
    Dedup.lineDfAgainstIndex(s, idx,
      pdocs.filter(col("doc_id") % 2 === 0), "doc_id", "text", minDf = 2)
  }

  // Takedown, oracle-checked: the full corpus is history, every 3rd
  // doc's TEXT is tombstoned, then id-offset copies of every doc
  // probe — dups only against the surviving fingerprints.
  private def qExactTakedown(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val idx = buildOnce(s"/tmp/graft_exdel_idx_${dirKey(dir)}") { d =>
      Dedup.buildExactIndex(docs, "doc_id", "text", d)
      Dedup.deleteFromExactIndex(s, d,
        docs.filter(col("doc_id") % 3 === 0).select("text"), "text")
    }
    Dedup.dedupExactAgainstIndex(s, idx,
      docs.withColumn("doc_id", col("doc_id") + 500000L),
      "doc_id", "text")
  }

  // Milvus range search: radius < score <= range_filter, capped at limit
  private def qAnnRange(s: SparkSession, dir: String): DataFrame =
    Ann.rangeSearch(corpus(s, dir), queriesSet(s, dir), radius = 0.1,
        rangeFilter = 0.999, limit = 20)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  // Milvus grouping search: top-3 label groups per query, 2 hits each
  private def qAnnGrouped(s: SparkSession, dir: String): DataFrame =
    Ann.groupedTopK(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("v"), col("label")),
        queriesSet(s, dir), k = 3, groupCol = "label", groupSize = 2)
      .select(col("qid"), col("id"), col("label").cast("long"), col("score"),
        col("grp_rank").cast("long"), col("grp_order").cast("long"))

  // Milvus search pagination: offset 10, limit 10 -> ranks 11..20
  private def qAnnPage(s: SparkSession, dir: String): DataFrame =
    Ann.pagedTopK(corpus(s, dir), queriesSet(s, dir), k = 10, offset = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  /** Milvus search_iterator: the second page of a cursor-paged search —
    * page 1's last hits become the per-query cursors, so the page-2
    * values must equal absolute ranks 11..20 computed by the oracle's
    * window. Exercises the tail-filter path (strictly-after-cursor in
    * (score desc, id asc) order), not [[Ann.pagedTopK]]'s offset path. */
  private def qSearchIterator(s: SparkSession, dir: String): DataFrame = {
    val p1 = Ann.searchIteratorPage(corpus(s, dir), queriesSet(s, dir),
      pageSize = 10)
    val cursors = p1.filter(col("rank") === 10)
      .select(col("qid"), col("score").as("cur_score"), col("id").as("cur_id"))
    Ann.searchIteratorPage(corpus(s, dir), queriesSet(s, dir),
        pageSize = 10, cursors = Some(cursors))
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  // Milvus filtered search (search expr): scalar predicate ahead of scoring
  private def qAnnFiltered(s: SparkSession, dir: String): DataFrame =
    Ann.filteredTopK(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("v"), col("label")),
        queriesSet(s, dir), k = 10, predicate = "label = 1")
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  // Binary-quantized Hamming top-k (BIN_FLAT): sign bits, XOR+popcount
  private def qAnnBinary(s: SparkSession, dir: String): DataFrame =
    Ann.binaryTopK(corpus(s, dir), queriesSet(s, dir), k = 10, dim = 64)
      .select(col("qid"), col("id"), col("hamming"), col("rank").cast("long"))

  /** BIN_FLAT through the PERSISTED index: corpus packed to sign-bit
    * words at rest (scratch dir keyed by the sf dir, overwrite-mode
    * rebuild per call), then searched off the packed words. Hash-exact
    * against the q_ann_binary oracle — the proof that pack-at-build
    * loses nothing vs pack-per-search. */
  private def qAnnBinaryIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = s"/tmp/graft_bin_idx_${dirKey(dir)}"
    Ann.buildBinaryIndex(corpus(s, dir), idx, dim = 64)
    Ann.searchBinaryIndex(s, idx, queriesSet(s, dir), k = 10)
      .select(col("qid"), col("id"), col("hamming"), col("rank").cast("long"))
  }

  // Two-stage refine: SQ8 coarse top-30 -> exact cosine rescore top-10
  private def qAnnRefine(s: SparkSession, dir: String): DataFrame =
    Ann.refineTopK(corpus(s, dir), queriesSet(s, dir), k = 10, factor = 3)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))

  // BM25 retrieval over the documents' hashed-token postings — the
  // Milvus sparse BM25 function surface
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    val postings = Ingest.sparseTerms(t(s, dir, "documents"), Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("tf"))
    val qterms = postings.filter(col("id") < 5)
      .select(col("id").as("qid"), col("term")).distinct()
    Ann.bm25TopK(postings, qterms, k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** Dirs whose index build already ran in this JVM. The persisted
    * indexes are built once and searched many times (that asymmetry is
    * their entire reason to exist), so the three sparse-index queries
    * share ONE build of the identical postings instead of paying it
    * three times per Verify/Bench run. Memoized per-JVM, not per-disk:
    * a fresh JVM always rebuilds (overwrite mode), so a stale dir from
    * an older format can never be searched. One FutureTask per dir, so
    * INDEPENDENT builds can run concurrently (r20 — the old global
    * `synchronized` serialized them) while two callers of the SAME dir
    * still build exactly once and both see it finished. */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.FutureTask[Unit]]()

  /** Collision-resistant scratch-path key for a data dir. String.hashCode
    * collisions between two dirs in one JVM would silently serve one
    * corpus's scratch index for the other (and the per-JVM memo would
    * pin the mistake), so scratch paths key on the md5 of the absolute
    * path instead. */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def buildOnce(idx: String)(build: String => Unit): String = {
    val task = new java.util.concurrent.FutureTask[Unit](() => build(idx))
    val prev = builtIndexes.putIfAbsent(idx, task)
    val winner = if (prev == null) { task.run(); task } else prev
    try winner.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        // a failed build stays un-memoized (the old semantics): a later
        // caller may retry instead of inheriting the cached failure
        builtIndexes.remove(idx, winner)
        throw e.getCause
    }
    idx
  }

  /** Run independent build thunks CONCURRENTLY and wait for all —
    * guide §2.6 "overlap independent jobs": Spark's FIFO scheduler
    * back-fills the tail of one build's stages with the next build's
    * tasks, so a sequence of small-stage builds stops paying its
    * scheduling valleys serially. Scale-safe by construction: each
    * thunk is a whole index build on its OWN directory (no shared
    * mutable state), job descriptions are thread-local, and there is
    * one thread per thunk (≤ a handful). Failures propagate loudly
    * after all thunks settle ([[graft.operators.IndexFiles.settleAll]])
    * — same end state as the old sequential loop (every build either
    * completed or its memo entry was cleared), with the FIRST failure
    * rethrown. */
  private def runBuilds(thunks: Seq[() => Any]): Unit = {
    graft.operators.IndexFiles.settleAll(thunks); ()
  }

  /** Force every memoized build that MULTIPLE registered queries share
    * (the full-corpus IVF net, the bucketed sparse postings, the SQ8
    * index, the tune-sweep ground truth, the near-dup cluster map) —
    * so a full bench can bill them to one explicit `_shared_builds`
    * entry instead of whichever consumer alphabetically runs first
    * (q_alias was absorbing the IVF build: an alias lookup reading as
    * a 20 s query). Single-consumer builds stay inside their own
    * query's bill. Idempotent ([[buildOnce]]); Verify runs don't call
    * this, so correctness outputs are untouched. The five builds are
    * mutually independent (distinct scratch dirs, no shared state), so
    * they run CONCURRENTLY ([[runBuilds]]) — the wall is the slowest
    * build instead of the sum (r20; guide §2.6). */
  def warmSharedBuilds(s: SparkSession, dir: String): Unit = {
    runBuilds(Seq(
      () => hybIvfIdx(s, dir),
      () => sparseIdx(s, dir),
      () => ivfSq8Idx(s, dir),
      () => tuneGroundTruth(s, dir).count(),
      () => clusterMapDir(s, dir)))
  }

  /** The shared bucketed sparse index over the documents' hashed-token
    * postings — the one build behind q_sparse_index, q_bm25_index, and
    * q_hybrid_index's sparse branch (identical postings, identical
    * bucket count). */
  private def sparseIdx(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_sparse_idx_${dirKey(dir)}") { idx =>
      val postings = Ingest.sparseTerms(t(s, dir, "documents"), Seq("doc_id"), "text")
        .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
      Ann.buildSparseIndex(postings, idx, buckets = 32)
    }

  /** Weight-sum search through the PERSISTED sparse inverted index —
    * the reference's own sparse index type (milvus_connector.py:65-73)
    * end to end: build bucketed postings, statically prune to the
    * query terms' buckets, score Σ w·qw. Hash-exact vs a full-postings
    * DuckDB oracle — the cross-engine proof that bucket pruning drops
    * only rows that could never score. */
  private def qSparseIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qterms = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    Ann.searchSparseIndex(s, sparseIdx(s, dir), qterms, k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  // Rolling-window retirement over the sparse text index, oracle-checked
  // with the never-appended weight-sum: build on the even half's
  // postings, append the odd half as segment d1, retire d1 — the
  // bucket-pruned search must answer exactly like an index that never
  // held the segment (ids sidecar rebuilt, BM25 stats re-derived).
  private def qSparseRetire(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def postsOf(d: DataFrame) = Ingest.sparseTerms(d, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
    val idx = buildOnce(s"/tmp/graft_sparse_ret_${dirKey(dir)}") { d =>
      Ann.buildSparseIndex(postsOf(docs.filter(col("doc_id") % 2 === 0)), d,
        buckets = 32)
      Ann.appendToSparseIndex(s, d,
        postsOf(docs.filter(col("doc_id") % 2 === 1)), "d1")
      IndexFamily.sparse.retireSrcs(s, d, Seq("d1"))
    }
    val qterms = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    Ann.searchSparseIndex(s, idx, qterms, k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** BM25 through the PERSISTED sparse index ([[sparseIdx]], shared
    * build), searched BM25-scored off the doclens/stats sidecars.
    * Hash-exact against the q_bm25 oracle — the cross-engine proof
    * that bucket-local df + persisted stats lose nothing vs the
    * full-postings formula. */
  private def qBm25Index(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qterms = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term")).distinct()
    Ann.searchSparseIndexBm25(s, sparseIdx(s, dir), qterms, k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  // Hybrid dense+sparse search: dense vectors from the embeddings table,
  // sparse postings from the documents' hashed-token terms (the two
  // embedding columns of the reference's Hybrid collection), fused RRF
  private def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val postings = Ingest.sparseTerms(docs, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
    val qpost = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    Ann.hybridTopK(corpus(s, dir), queriesSet(s, dir), postings, qpost, k = 10)
      .select(col("qid"), col("id"), col("rrf"), col("rank").cast("long"))
  }

  /** Cross-encoder rerank over hybrid-retrieval survivors — the
    * reference's /rerank endpoint as the final ordering stage
    * (m3_server_v2.py:283): first stage is q_hybrid_search's exact RRF
    * top-10 (dense brute + sparse postings), second stage rescores
    * those q×10 pairs with the stub M3 cross-encoder (deterministic
    * md5 per mode, default [0.4, 0.2, 0.4] dense/sparse/colbert
    * weights) against the documents' text and re-ranks to 5. The
    * oracle reproduces BOTH stages — fusion candidates and the fused
    * weighted-mean rerank — bit-for-bit. */
  private def qRerank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val postings = Ingest.sparseTerms(docs, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
    val qpost = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    val cand = Ann.hybridTopK(corpus(s, dir), queriesSet(s, dir), postings, qpost, k = 10)
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val passages = docs.select(col("doc_id").as("id"), col("text").as("ptext"))
    Ann.rerankTopK(cand, queries, passages, k = 5)
      .select(col("qid"), col("id"), col("ce_score"), col("rank").cast("long"))
  }

  /** [[qRerank]] in its PRODUCTION form — first stage through the
    * PERSISTED hybrid indexes (IVF at full probe + bucket-pruned
    * sparse, both exact: the q_hybrid_index argument), second stage
    * the same stub cross-encoder rerank. Shares q_rerank's oracle
    * verbatim: the two queries must produce the identical frame, which
    * can only happen if the whole persisted composition loses
    * nothing. */
  private def qRerankIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qpost = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    val cand = Ann.searchHybridIndex(s, hybIvfIdx(s, dir), sparseIdx(s, dir),
      queriesSet(s, dir), qpost, k = 10, nprobe = 16)
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val passages = docs.select(col("doc_id").as("id"), col("text").as("ptext"))
    Ann.rerankTopK(cand, queries, passages, k = 5)
      .select(col("qid"), col("id"), col("ce_score"), col("rank").cast("long"))
  }

  // Weighted-fusion hybrid (Milvus WeightedRanker): same branches as
  // q_hybrid_search, scores normalized and weight-summed instead of RRF
  private def qHybridWeighted(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val postings = Ingest.sparseTerms(docs, Seq("doc_id"), "text")
      .select(col("doc_id").as("id"), col("term"), col("weight").as("w"))
    val qpost = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    Ann.hybridTopKWeighted(corpus(s, dir), queriesSet(s, dir), postings, qpost,
        k = 10, wDense = 0.7, wSparse = 0.3)
      .select(col("qid"), col("id"), col("wscore"), col("rank").cast("long"))
  }

  /** Hybrid search over PERSISTED indexes — the production form of
    * q_hybrid_search (Milvus hybrid_search against a stored
    * collection): dense branch through a persisted IVF index probing
    * EVERY cell (exact — the q_ann_ivf_full argument), sparse branch
    * through the bucketed sparse index (exact — the q_sparse_index
    * argument), RRF fusion. Hash-exact against the q_hybrid_search
    * oracle: the cross-engine proof that the whole persisted
    * composition loses nothing. */
  /** The shared persisted IVF index over the embeddings — one build
    * behind both hybrid-index queries. */
  private def hybIvfIdx(s: SparkSession, dir: String): String =
    buildOnce(s"/tmp/graft_hyb_ivf_idx_${dirKey(dir)}") {
      idx => Ann.buildIvfIndex(corpus(s, dir), idx, nlist = 16)
    }

  /** Cluster-balanced downsample through the shared persisted IVF
    * index (rows-only: cells come from the k-means fit; the per-cell
    * cap, determinism, and prune shape are pinned in AnnSpec and the
    * k1 companion is hash-exact). */
  private def qClusterSample(s: SparkSession, dir: String): DataFrame =
    Ann.clusterBalancedSample(s, hybIvfIdx(s, dir), perCell = 10)

  /** nlist=1 degenerate: every non-zero-norm vector lands in cell 0,
    * so the sample is exactly the md5-rank top-perCell over the
    * non-zero corpus — pure SQL. Cross-engine-verifies the membership
    * rule (zero-norm excluded at fit), the hash ranking, and the
    * per-cell cap that the real nlist composes. */
  private def qClusterSampleK1(s: SparkSession, dir: String): DataFrame = {
    val idx = buildOnce(s"/tmp/graft_ivf1_idx_${dirKey(dir)}") { d =>
      Ann.buildIvfIndex(corpus(s, dir), d, nlist = 1)
    }
    Ann.clusterBalancedSample(s, idx, perCell = 40)
  }

  private def qHybridIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qpost = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term"), col("weight").as("qw"))
    Ann.searchHybridIndex(s, hybIvfIdx(s, dir), sparseIdx(s, dir),
        queriesSet(s, dir), qpost, k = 10, nprobe = 16)
      .select(col("qid"), col("id"), col("rrf"), col("rank").cast("long"))
  }

  /** BM25-scored hybrid over the SAME persisted indexes — the standard
    * RAG retrieval shape (Milvus hybrid_search with a BM25 sparse
    * function, the highest-traffic configuration): dense IVF at full
    * probe (exact), sparse branch scored by searchSparseIndexBm25 off
    * the doclens/stats sidecars, RRF fusion. Hash-exact against a
    * composed dense + BM25 + RRF oracle. */
  private def qHybridBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val qterms = Ingest.sparseTerms(docs.filter(col("doc_id") < 5), Seq("doc_id"), "text")
      .select(col("doc_id").as("qid"), col("term")).distinct()
    Ann.searchHybridIndex(s, hybIvfIdx(s, dir), sparseIdx(s, dir),
        queriesSet(s, dir), qterms, k = 10, nprobe = 16, bm25 = true)
      .select(col("qid"), col("id"), col("rrf"), col("rank").cast("long"))
  }

  /** Search restricted to named partitions (Milvus partition_names):
    * the embeddings are laid out as a label-partitioned collection once
    * per JVM, then searched over partitions {0, 1} only — the scan's
    * PartitionFilters keep every other label's files unopened. */
  private def qAnnPartitions(s: SparkSession, dir: String): DataFrame = {
    val coll = buildOnce(
      s"/tmp/graft_part_coll_${dirKey(dir)}") { d =>
      Collections.writePartitioned(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("v"), col("label")), d, "label")
    }
    Collections.searchPartitions(s, coll, "label", Seq(0, 1),
        queriesSet(s, dir), k = 10)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** Pre-filtered search through the persisted IVF index at full probe:
    * allowed ids = odd vec_ids (a stand-in for any scalar predicate
    * evaluated on the caller's collection table). Hash-exact vs a
    * filtered brute-force oracle — the proof the restriction applies
    * before ranking. */
  private def qAnnIvfFiltered(s: SparkSession, dir: String): DataFrame = {
    val allowed = t(s, dir, "embeddings")
      .filter(col("vec_id") % 2 === 1).select(col("vec_id").as("id"))
    Ann.searchIvfIndexFiltered(s, hybIvfIdx(s, dir), queriesSet(s, dir),
        k = 10, allowed, nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** Rolling-window retirement over the persisted IVF index, oracle-
    * checked against the never-appended brute force VERBATIM: build on
    * one quarter, append the next quarter as segment d1, retire d1 —
    * the full-probe search must then answer exactly like an index that
    * never saw the segment (the q_dedup_minhash_retire pattern on the
    * vector store: a crawl day ages out of the embedding index in
    * O(segment), with the ids sidecar and tombstones following).
    * Quarter slices, the q_exact_retire precedent: the whole
    * build+append+retire lifecycle bills to this one bench query and
    * half-corpus slices double the bill for no extra evidence. */
  private def qAnnIvfRetire(s: SparkSession, dir: String): DataFrame = {
    val idx = buildOnce(s"/tmp/graft_ivf_ret_${dirKey(dir)}") { d =>
      Ann.buildIvfIndex(corpus(s, dir).filter(col("id") % 4 === 0), d,
        nlist = 16)
      Ann.appendToIvfIndex(s, d,
        corpus(s, dir).filter(col("id") % 4 === 1), "d1")
      IndexFamily.ivf.retireSrcs(s, d, Seq("d1"))
    }
    Ann.searchIvfIndex(s, idx, queriesSet(s, dir), k = 10, nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  /** Collection aliases end to end — the Milvus blue-green swap
    * (Aliases.scala): build a STALE half-corpus "blue" IVF index and a
    * full-corpus "green" one, point `prod` at blue, then alterAlias to
    * green and search through resolveAlias at full probe. Hash-exact
    * against the brute-force oracle over the WHOLE corpus — which can
    * only match if the swap actually repointed the search away from the
    * half-sized blue index. */
  private def qAlias(s: SparkSession, dir: String): DataFrame = {
    // green IS the shared full-corpus IVF index (identical build
    // parameters) — aliases only route, never mutate their target, so
    // building a private duplicate paid a full IVF fit for nothing
    // (r18: ~15 s off this query's bench bill); blue is registered and
    // switched away without ever being searched, so an eighth-corpus
    // build exercises the create → alter swap at an eighth the cost
    val green = hybIvfIdx(s, dir)
    val root = buildOnce(s"/tmp/graft_alias_${dirKey(dir)}") { r =>
      // createAlias refuses an existing name by design — drop the
      // registry a previous JVM's run left behind so the fresh rebuild
      // exercises the full create → alter swap
      val reg = new org.apache.hadoop.fs.Path(s"$r/registry")
      val fs = reg.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(reg)) fs.delete(reg, true)
      Ann.buildIvfIndex(corpus(s, dir).filter(col("id") % 8 === 0),
        s"$r/blue", nlist = 16)
      Aliases.createAlias(s, s"$r/registry", "prod", s"$r/blue")
      Aliases.alterAlias(s, s"$r/registry", "prod", green)
    }
    Ann.searchIvfIndex(s,
        Aliases.resolveAlias(s, s"$root/registry", "prod"),
        queriesSet(s, dir), k = 10, nprobe = 16)
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"))
  }

  // Milvus search surface with output_fields (milvus_connector.py:167-178)
  private def qAnnFields(s: SparkSession, dir: String): DataFrame =
    Ann.searchWithFields(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("embedding").as("v"), col("label")),
        queriesSet(s, dir), k = 10, outputFields = Seq("label"))
      .select(col("qid"), col("id"), col("score"), col("rank").cast("long"),
        col("label").cast("long"))

  // MySQL get_files_by_knowledge analog (mysql_connector.py:58-86):
  // "knowledge base" = source, "file id" = doc_id on the testdata tables
  private def qFilesByKnowledge(s: SparkSession, dir: String): DataFrame =
    Ingest.filesByKnowledge(t(s, dir, "documents"), "source", lit("src1"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))

  // Milvus query-by-expr reverse lookup (milvus_connector.py:160-166)
  private def qQueryExpr(s: SparkSession, dir: String): DataFrame =
    Ingest.queryByExpr(t(s, dir, "documents"),
      "doc_id % 7 = 0 AND lang = 'en'", Seq("doc_id", "source", "n_chars"))

  // Milvus query_iterator: the second page of a cursor-paged expr scan
  // (cursor doc_id > 100 carried from a first page of 20)
  private def qQueryIterator(s: SparkSession, dir: String): DataFrame =
    Ingest.queryPage(t(s, dir, "documents"), "lang = 'en'", "doc_id",
      pageSize = 20, afterId = Some(100L),
      outputFields = Seq("doc_id", "source", "n_chars"))

  // delete-by-key + insert, the reference's re-ingest (upsert) flow
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang"))
    val updates = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("updated").as("source"), col("lang"))
    Ingest.upsert(base, updates, "doc_id")
  }

  // ---- events ------------------------------------------------------------

  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Events.sessionizeBatch(t(s, dir, "events"))
      .select(col("user_id"), col("session_seq").cast("long"),
        col("session_start_ms"), col("session_end_ms"), col("n_events"), col("total_value"))

  private def qEventWindow(s: SparkSession, dir: String): DataFrame =
    Events.windowAggBatch(t(s, dir, "events"))

  // Streaming drains: the state-store paths — flatMapGroupsWithState
  // sessionization and watermarked window aggregation — replayed over
  // the whole events table through a real MemoryStream → state store →
  // sink pipeline, so a state-size or emission regression moves a
  // benched number instead of hiding in spec-scale inputs. The
  // event-time-ordered feed keeps every event inside the watermark, so
  // the drained result EQUALS the batch form (pinned in StreamingSpec)
  // — which means the batch DuckDB oracles apply and the state-store
  // paths get hash-exact rows, same as q_stream_asof. session_seq is
  // reconstructed post-drain: closed sessions of a user are disjoint
  // in time (next start > prev end + gap), so ranking by start time
  // reproduces the batch ordinal exactly. total_value rounds once at
  // emission (2 dp), the same single rounding point as the batch form.
  private def qStreamSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("session_start_ms")
    graft.streaming.StreamDrain.sessionizeDrained(t(s, dir, "events"))
      .withColumn("session_seq", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_seq"), col("session_start_ms"),
        col("session_end_ms"), col("n_events"),
        round(col("total_value"), 2).as("total_value"))
  }

  // The `window` struct(start,end) collapses to the batch form's bucket
  // ordinal (tumbling windows are epoch-aligned: start_ms = bucket ·
  // 300000), so the drain reuses q_event_window's oracle verbatim — and
  // the pandas checker gets a sortable scalar instead of a struct.
  private def qStreamWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamDrain.windowAggDrained(t(s, dir, "events"))
      .select((unix_millis(col("window.start")) / 300000L).cast("long").as("bucket"),
        col("event_type"), col("n"), col("total_value"))

  // as-of drain: the join-shaped state path (right-version pruning +
  // buffered-left finality) — same sides as the batch q_asof_join, so
  // the drained rows equal that query's (equivalence spec'd)
  private def qStreamAsof(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamDrain.asofJoinDrained(t(s, dir, "events"))
      .select(col("key").as("user_id"), col("event_id"), col("ts_ms"),
        col("value").as("upd_value"))

  // range join: every event lands back in exactly its own session's
  // [start, end] range — a self-consistency check with a BETWEEN oracle
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Events.withMs(t(s, dir, "events"))
    val sessions = Events.sessionizeBatch(t(s, dir, "events"))
      .select(col("user_id"), col("session_seq").cast("long"),
        col("session_start_ms"), col("session_end_ms"))
    Events.rangeJoin(
        e.select(col("user_id"), col("event_id"), col("ts_ms")),
        sessions, "user_id", "ts_ms", "session_start_ms", "session_end_ms",
        bucketMs = 3600000L)
      .select(col("user_id"), col("event_id"), col("session_seq"))
  }

  // as-of join: every event picks up the latest prior "profile update"
  // (every 10th event) of its user — DuckDB's native ASOF JOIN is the oracle
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Events.withMs(t(s, dir, "events"))
    val updates = e.filter(col("event_id") % 10 === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(round(col("value"), 2)).as("upd_value"))
      .withColumnRenamed("ts_ms", "rts")
    Events.asofJoin(
        e.select(col("user_id"), col("event_id"), col("ts_ms")),
        updates, "user_id", "ts_ms", "rts", Seq("upd_value"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("upd_value"))
  }

  // -------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_lineitem_agg" -> (q1 _),
    "q3_top_orders" -> (q3 _),
    "q5_region_revenue" -> (q5 _),
    "q_window_running" -> (qWindowRunning _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_clean_title" -> (qCleanTitle _),
    "q_reformat" -> (qReformat _),
    "q_chunk_fixed" -> (qChunkFixed _),
    "q_chunk_recursive" -> (qChunkRecursive _),
    "q_chunk_semantic" -> (qChunkSemantic _),
    "q_tokens" -> (qTokens _),
    "q_langid" -> (qLangid _),
    "q_quality" -> (qQuality _),
    "q_redact_pii" -> (qRedactPii _),
    "q_repetition" -> (qRepetition _),
    "q_corpus_profile" -> (qCorpusProfile _),
    "q_corpus_profile_exact" -> (qCorpusProfileExact _),
    "q_llm_tag" -> (qLlmTag _),
    "q_llm_chat" -> (qLlmChat _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_frame_sample" -> (qFrameSample _),
    "q_fingerprint" -> (qFingerprint _),
    "q_embed_dense" -> (qEmbedDense _),
    "q_embed_tfidf" -> (qEmbedTfidf _),
    "q_embed_tfidf_k1" -> (qEmbedTfidfK1 _),
    "q_embed_w2v" -> (qEmbedW2v _),
    "q_embed_w2v_avg" -> (qEmbedW2vAvg _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_quality_classifier_score" -> (qQualityClassifierScore _),
    "q_sparse_embed" -> (qSparseEmbed _),
    "q_id_lookup" -> (qIdLookup _),
    "q_ingest_exists" -> (qIngestExists _),
    "q_delete_expr" -> (qDeleteExpr _),
    "q_jsonl_source" -> (qJsonlSource _),
    "q_files_by_knowledge" -> (qFilesByKnowledge _),
    "q_query_expr" -> (qQueryExpr _),
    "q_query_iterator" -> (qQueryIterator _),
    "q_search_iterator" -> (qSearchIterator _),
    "q_upsert" -> (qUpsert _),
    "q_pipeline_blocks" -> (qPipelineBlocks _),
    "q_pipeline_full" -> (qPipelineFull _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_bloom" -> (qDedupBloom _),
    "q_exact_retire" -> (qExactRetire _),
    "q_exact_seen_retire" -> (qExactSeenRetire _),
    "q_containment_seen_retire" -> (qContainmentSeenRetire _),
    "q_maintenance" -> (qMaintenance _),
    "q_maintenance_sighted" -> (qMaintenanceSighted _),
    "q_compaction" -> (qCompaction _),
    "q_index_snapshot" -> (qIndexSnapshot _),
    "q_store_report" -> (qStoreReport _),
    "q_maintenance_pipeline" -> (qMaintenancePipeline _),
    "q_exact_takedown" -> (qExactTakedown _),
    "q_dedup_segments" -> (qDedupSegments _),
    "q_dedup_lines" -> (qDedupLines _),
    "q_dedup_lines_corpus" -> (qDedupLinesCorpus _),
    "q_dedup_lines_index" -> (qDedupLinesIndex _),
    "q_dedup_lines_retire" -> (qDedupLinesRetire _),
    "q_dedup_ngram" -> (qDedupNgram _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_drop_contained" -> (qDedupDropContained _),
    "q_dedup_contained_index" -> (qDedupContainedIndex _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_recall" -> (qDedupRecall _),
    "q_dedup_tune_bands" -> (qDedupTuneBands _),
    "q_dedup_tune_ham" -> (qDedupTuneHam _),
    "q_dedup_minhash_index" -> (qDedupMinhashIndex _),
    "q_dedup_minhash_retire" -> (qDedupMinhashRetire _),
    "q_minhash_seen_retire" -> (qMinhashSeenRetire _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_cosine" -> (qDedupCosine _),
    "q_dedup_cosine_lsh" -> (qDedupCosineLsh _),
    "q_dedup_cosine_index" -> (qDedupCosineIndex _),
    "q_cosine_seen_retire" -> (qCosineSeenRetire _),
    "q_sem_dedup" -> (qSemDedup _),
    "q_sem_dedup_k1" -> (qSemDedupK1 _),
    "q_repeated_spans" -> (qRepeatedSpans _),
    "q_remove_spans" -> (qRemoveSpans _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_dedup_cluster_band" -> (qDedupClusterBand _),
    "q_dedup_canonical" -> (qDedupCanonical _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_contam_score" -> (qContamScore _),
    "q_contam_spans" -> (qContamSpans _),
    "q_decontaminate_spans" -> (qDecontaminateSpans _),
    "q_sem_contam" -> (qSemContam _),
    "q_decontaminate_sem" -> (qDecontaminateSem _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_temperature_mix" -> (qTemperatureMix _),
    "q_temperature_mix_tokens" -> (qTemperatureMixTokens _),
    "q_shuffle_shards" -> (qShuffleShards _),
    "q_score_buckets" -> (qScoreBuckets _),
    "q_perplexity_buckets" -> (qPerplexityBuckets _),
    "q_perplexity_ref" -> (qPerplexityRef _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_bpe_merge1" -> (qBpeMerge1 _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_vocab" -> (qBpeVocab _),
    "q_bpe_tokenize" -> (qBpeTokenize _),
    "q_pack_bpe" -> (qPackBpe _),
    "q_bpe_coverage" -> (qBpeCoverage _),
    "q_fix_text" -> (qFixText _),
    "q_phash_dedup" -> (qPhashDedup _),
    "q_phash_cluster" -> (qPhashCluster _),
    "q_phash_index" -> (qPhashIndex _),
    "q_phash_retire" -> (qPhashRetire _),
    "q_phash_seen_retire" -> (qPhashSeenRetire _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_perplexity" -> (qPerplexity _),
    "q_dsir_weight" -> (qDsirWeight _),
    "q_budget_sample" -> (qBudgetSample _),
    "q_curation_pipeline" -> (qCurationPipeline _),
    "q_curation_pipeline_v2" -> (qCurationPipelineV2 _),
    "q_gopher" -> (qGopher _),
    "q_c4_filter" -> (qC4Filter _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_domain_cap" -> (qDomainCap _),
    "q_domain_cap_ledger" -> (qDomainCapLedger _),
    "q_domain_cap_retire" -> (qDomainCapRetire _),
    "q_holdout_split" -> (qHoldoutSplit _),
    "q_corpus_diff" -> (qCorpusDiff _),
    "q_crawl_triage" -> (qCrawlTriage _),
    "q_token_drift" -> (qTokenDrift _),
    "q_novelty" -> (qNovelty _),
    "q_embed_drift" -> (qEmbedDrift _),
    "q_embed_drift_summary" -> (qEmbedDriftSummary _),
    "q_embed_drift_by" -> (qEmbedDriftBy _),
    "q_epoch_plan" -> (qEpochPlan _),
    "q_epoch_apply" -> (qEpochApply _),
    "q_corpus_stats" -> (qCorpusStats _),
    "q_top_tokens" -> (qTopTokens _),
    "q_ann_topk" -> (qAnnTopk _),
    "q_ann_ip" -> (qAnnIp _),
    "q_ann_l2" -> (qAnnL2 _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_mrr" -> (qAnnMrr _),
    "q_ann_tune_lsh" -> (qAnnTuneLsh _),
    "q_retrain_report" -> (qRetrainReport _),
    "q_retrain_advisor" -> (qRetrainAdvisor _),
    "q_retrain_advisor_pq" -> (qRetrainAdvisorPq _),
    "q_retrain_advisor_sq8" -> (qRetrainAdvisorSq8 _),
    "q_ann_tune" -> (qAnnTune _),
    "q_mine_negatives" -> (qMineNegatives _),
    "q_contrastive_pipeline" -> (qContrastivePipeline _),
    "q_mine_negatives_ivf" -> (qMineNegativesIvf _),
    "q_triplets" -> (qTriplets _),
    "q_triplets_multi" -> (qTripletsMulti _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_ivf_full" -> (qAnnIvfFull _),
    "q_cluster_sample" -> (qClusterSample _),
    "q_cluster_sample_k1" -> (qClusterSampleK1 _),
    "q_ann_ivf_pq" -> (qAnnIvfPq _),
    "q_ann_sq8" -> (qAnnSq8 _),
    "q_ann_ivf_sq8" -> (qAnnIvfSq8 _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_pq_adc" -> (qAnnPqAdc _),
    "q_ann_pq_k1" -> (qAnnPqK1 _),
    "q_ann_ivf_pq_k1" -> (qAnnIvfPqK1 _),
    "q_ann_range" -> (qAnnRange _),
    "q_ann_grouped" -> (qAnnGrouped _),
    "q_ann_page" -> (qAnnPage _),
    "q_ann_filtered" -> (qAnnFiltered _),
    "q_ann_partitions" -> (qAnnPartitions _),
    "q_ann_ivf_filtered" -> (qAnnIvfFiltered _),
    "q_ann_ivf_retire" -> (qAnnIvfRetire _),
    "q_alias" -> (qAlias _),
    "q_ann_binary" -> (qAnnBinary _),
    "q_ann_binary_index" -> (qAnnBinaryIndex _),
    "q_ann_refine" -> (qAnnRefine _),
    "q_bm25" -> (qBm25 _),
    "q_bm25_index" -> (qBm25Index _),
    "q_sparse_index" -> (qSparseIndex _),
    "q_sparse_retire" -> (qSparseRetire _),
    "q_ann_fields" -> (qAnnFields _),
    "q_hybrid_search" -> (qHybridSearch _),
    "q_rerank" -> (qRerank _),
    "q_rerank_index" -> (qRerankIndex _),
    "q_hybrid_weighted" -> (qHybridWeighted _),
    "q_hybrid_index" -> (qHybridIndex _),
    "q_hybrid_bm25" -> (qHybridBm25 _),
    "q_sessionize" -> (qSessionize _),
    "q_event_window" -> (qEventWindow _),
    "q_stream_sessionize" -> (qStreamSessionize _),
    "q_stream_window" -> (qStreamWindow _),
    "q_stream_asof" -> (qStreamAsof _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_join" -> (qRangeJoin _))

  // Shared SQL fragments for the DuckDB oracles.
  // (doc_id, n_chars, url_norm): the synthesized crawl URL (mirror of
  // synthUrl) pushed through the normalizeUrl steps — strip fragment,
  // query, scheme, one leading www.; lowercase the host; strip
  // trailing slashes. Plain string (no s-interp): single backslashes
  // survive into the SQL.
  private val urlNormDoc =
    """SELECT doc_id, n_chars,
      |  regexp_replace(lower(regexp_extract(s4, '^([^/]*)', 1)) ||
      |    regexp_extract(s4, '^[^/]*(.*)$', 1), '/+$', '') AS url_norm
      |FROM (SELECT doc_id, n_chars,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN 'www.'
      |         WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END ||
      |    CASE WHEN doc_id % 8 < 4 THEN source ELSE upper(source) END ||
      |    '.com/page/' || CAST(doc_id % 40 AS VARCHAR) ||
      |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=1' ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END,
      |    '#.*$', ''), '\?.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
      |    '(?i)^www\.', '') AS s4
      | FROM documents)""".stripMargin
  private val normDoc =
    "SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents"
  /** line-df corpus filter + parity cut — shared VERBATIM by the index
    * probe and the retire probe (retiring the appended segment must
    * restore exactly the never-appended index's answers). */
  private val linesIndexOracle =
    """WITH d AS (SELECT doc_id, substr(text, 1, 60) || chr(10) ||
      |  CASE WHEN doc_id % 2 = 0 THEN 'boilerplate footer line' ELSE md5(CAST(doc_id AS VARCHAR)) END
      |  || chr(10) || substr(text, 61, 60) AS t FROM documents),
      |e AS (SELECT doc_id, i, segs[i] AS line
      |      FROM (SELECT doc_id, segs, unnest(generate_series(1, len(segs))) AS i
      |            FROM (SELECT doc_id, string_split(t, chr(10)) AS segs FROM d))),
      |hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM e) GROUP BY line HAVING count(*) >= 2),
      |kept AS (SELECT doc_id, i, line FROM e WHERE line NOT IN (SELECT line FROM hot)),
      |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean FROM kept GROUP BY doc_id)
      |SELECT d.doc_id AS id, coalesce(r.clean, '') AS clean
      |FROM d LEFT JOIN r ON r.doc_id = d.doc_id
      |WHERE d.doc_id % 2 = 0""".stripMargin
  // (doc_id, tok) exploded whitespace tokens over normalized text — the
  // cross-engine tokenizer contract (mirrors TextFunctions.wsTokens over
  // normText); ONE definition for every oracle that tokenizes.
  private val tokDoc =
    s"SELECT doc_id, unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS tok FROM ($normDoc)"
  /** The full iterative BPE-trainer oracle: [[BpeTrainSteps]] chained
    * merge rounds, generated mechanically. Each word's symbol sequence
    * is a «sym»«sym»… wrapped string — '«' only ever precedes a symbol
    * start, so replace('«a»«b»', '«ab»') is the published greedy
    * left-to-right merge with no cross-boundary false matches, and
    * DuckDB's non-overlapping scan reproduces the overlap rule ("aaa"
    * under (a,a) → "aa","a") exactly. MATERIALIZED pins each round's
    * vocabulary — inlined CTEs would re-evaluate the whole chain per
    * reference. The Spark query carries a loud guard: the chain cannot
    * model early stop, so a corpus that goes dry before the last step
    * fails the contract instead of hash-mismatching. */
  private def bpeChain(steps: Int, src: String = normDoc): String = {
    val init =
      s"""w0 AS MATERIALIZED (SELECT w, '\u00ab' || regexp_replace(w, '(.)', '\\1\u00bb\u00ab', 'g') || '</w>\u00bb' AS s, n
         |  FROM (SELECT w, COUNT(*) AS n FROM (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS w FROM ($src)) GROUP BY w))""".stripMargin
    val rounds = (1 to steps).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(n) AS BIGINT) AS freq FROM (
         |    SELECT n, sy[i] AS l, sy[i+1] AS r FROM (
         |      SELECT n, sy, unnest(generate_series(1, len(sy) - 1)) AS i
         |      FROM (SELECT regexp_extract_all(s, '\u00ab([^\u00bb]*)\u00bb', 1) AS sy, n FROM w${k - 1})))
         |  GROUP BY l, r ORDER BY freq DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (SELECT w, replace(s, '\u00ab' || m.l || '\u00bb\u00ab' || m.r || '\u00bb', '\u00ab' || m.l || m.r || '\u00bb') AS s, n FROM w${k - 1}, m$k m)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  private def bpeTrainSql(steps: Int): String = {
    val out = (1 to steps)
      .map(k => s"""SELECT $k AS step, l AS "left", r AS "right", l || r AS merged, freq FROM m$k""")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeChain(steps)}\n$out"
  }

  /** Encode oracle: the chain's final word table IS encode's output —
    * unwrap «sym»«sym» to space-joined symbols (symbols draw from
    * [A-Za-z0-9] plus the </w> marker; none contain spaces or the
    * wrapping delimiters, so the unwrap is unambiguous). */
  private def bpeEncodeSql(steps: Int): String =
    s"""WITH ${bpeChain(steps)}
       |SELECT w, trim(replace(s, '\u00bb\u00ab', ' '), '\u00ab\u00bb') AS toks, n FROM w$steps""".stripMargin

  /** Tokenize oracle: the chain's final word forms exploded back onto
    * each document's word stream (document order, 0-based positions),
    * symbol ids by lexicographic vocabulary numbering — the same
    * deterministic assignment the Spark side makes. */
  private def bpeTokenizeSql(steps: Int): String =
    s"""WITH ${bpeChain(steps)},
       |enc AS (SELECT w, regexp_extract_all(s, '«([^»]*)»', 1) AS sy FROM w$steps),
       |vid AS (SELECT symbol, CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT) AS sym_id
       |        FROM (SELECT DISTINCT unnest(sy) AS symbol FROM enc)),
       |dw AS (SELECT doc_id AS id, CAST(i - 1 AS BIGINT) AS wpos, wl[i] AS w
       |       FROM (SELECT doc_id, wl, unnest(generate_series(1, len(wl))) AS i
       |             FROM (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS wl FROM ($normDoc)))),
       |ds AS (SELECT id, wpos, CAST(j - 1 AS BIGINT) AS spos, sy[j] AS symbol
       |       FROM (SELECT dw.id, dw.wpos, e.sy, unnest(generate_series(1, len(e.sy))) AS j
       |             FROM dw JOIN enc e USING (w)))
       |SELECT ds.id, ds.wpos, ds.spos, ds.symbol, vid.sym_id
       |FROM ds JOIN vid USING (symbol)""".stripMargin

  /** Coverage oracle: the TRAIN chain runs over the even docs only
    * (w_k / m_k — [[bpeChain]] with a filtered source), a parallel
    * APPLY chain replays each round's winning rule over the WHOLE
    * corpus's distinct words (a_k — same replace mechanics the
    * tokenize oracle uses), vocabulary = the trained chain's final
    * symbol set, OOV = applied symbols outside it. */
  private def bpeCoverageSql(steps: Int): String = {
    val applyRounds = (1 to steps).map { k =>
      s"a$k AS MATERIALIZED (SELECT w, replace(s, '\u00ab' || m.l || '\u00bb\u00ab' || m.r || '\u00bb', '\u00ab' || m.l || m.r || '\u00bb') AS s FROM a${k - 1}, m$k m)"
    }.mkString(",\n")
    s"""WITH ${bpeChain(steps, s"$normDoc WHERE doc_id % 2 = 0")},
       |a0 AS MATERIALIZED (SELECT DISTINCT w, '\u00ab' || regexp_replace(w, '(.)', '\\1\u00bb\u00ab', 'g') || '</w>\u00bb' AS s
       |  FROM (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS w FROM ($normDoc))),
       |$applyRounds,
       |vocab AS (SELECT DISTINCT unnest(regexp_extract_all(s, '\u00ab([^\u00bb]*)\u00bb', 1)) AS symbol FROM w$steps),
       |enc AS (SELECT w, unnest(regexp_extract_all(s, '\u00ab([^\u00bb]*)\u00bb', 1)) AS symbol FROM a$steps),
       |dw AS (SELECT doc_id AS id, wl[i] AS w
       |       FROM (SELECT doc_id, wl, unnest(generate_series(1, len(wl))) AS i
       |             FROM (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS wl FROM ($normDoc)))),
       |ds AS (SELECT dw.id, enc.symbol FROM dw JOIN enc USING (w)),
       |cov AS (SELECT ds.id, count(*) AS n_sub,
       |          sum(CASE WHEN v.symbol IS NULL THEN 1 ELSE 0 END) AS n_oov
       |        FROM ds LEFT JOIN vocab v USING (symbol) GROUP BY ds.id)
       |SELECT id, CAST(n_sub AS BIGINT) AS n_subwords,
       |  CAST(n_oov AS BIGINT) AS n_oov,
       |  round(CAST(n_oov AS DOUBLE) / n_sub, 4) AS oov_rate FROM cov""".stripMargin
  }

  /** fixText oracle expression over SQL fragment `x` — generated from
    * the SAME mojibakeTable / pattern constants the Spark expression
    * uses (one definition, two engines; the patterns are written in
    * the Java∩RE2 dialect — \xhh escapes and literal code points). */
  private def fixTextSql(x: String): String = {
    val chain = T.mojibakeTable.foldLeft(x) { case (acc, (bad, good)) =>
      s"replace($acc, '$bad', '$good')"
    }
    s"regexp_replace(regexp_replace($chain, '${T.controlCharPattern}', '', 'g'), '${T.oddWhitespacePattern}', ' ', 'g')"
  }

  /** Vocabulary oracle: symbol occurrence counts over the chain's
    * final word forms, weighted by word frequency. */
  private def bpeVocabSql(steps: Int): String =
    s"""WITH ${bpeChain(steps)}
       |SELECT symbol, CAST(SUM(n) AS BIGINT) AS n FROM (
       |  SELECT unnest(regexp_extract_all(s, '\u00ab([^\u00bb]*)\u00bb', 1)) AS symbol, n FROM w$steps)
       |GROUP BY symbol""".stripMargin

  // the add-1 bigram LM scorer — ONE definition shared by q_perplexity
  // and the CCNet bucketing composition q_perplexity_buckets
  private val perplexitySql =
    s"""WITH tl AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l FROM ($normDoc)),
       |tk AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS tok
       |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tl)),
       |db AS (SELECT doc_id, prev, tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY 1, 2, 3),
       |cb AS (SELECT prev, tok, sum(c) AS cb FROM db GROUP BY 1, 2),
       |cu AS (SELECT prev, sum(c) AS cu FROM db GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM db)
       |SELECT doc_id AS id, CAST(sum(c) AS BIGINT) AS n_tok,
       | round(sum(c * -ln((cb + 1.0) / (cu + 1.0 * v))) / sum(c), 4) AS xent
       |FROM db JOIN cb USING (prev, tok) JOIN cu USING (prev) CROSS JOIN v
       |GROUP BY doc_id""".stripMargin
  // RRF hybrid fusion oracle — one definition for q_hybrid_search
  // (in-memory branches) and q_hybrid_index (persisted IVF full-probe +
  // bucket-pruned sparse index branches): both are exact, so the two
  // registered queries must produce the identical frame.
  private lazy val hybridRrfSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |ds AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e),
       |dr AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank_d FROM ds),
       |dtop AS (SELECT * FROM dr WHERE rank_d <= 10),
       |post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
       |         CAST(count(*) AS DOUBLE) AS w
       |         FROM ($tokDoc)
       |         GROUP BY doc_id, term),
       |qpost AS (SELECT doc_id AS qid, term, w AS qw FROM post WHERE doc_id < 5),
       |ss AS (SELECT qpost.qid, post.doc_id AS id, round(sum(post.w * qpost.qw), 4) AS score
       |       FROM post JOIN qpost ON post.term = qpost.term GROUP BY 1, 2),
       |sr AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank_s FROM ss),
       |stop AS (SELECT * FROM sr WHERE rank_s <= 10),
       |f AS (SELECT qid, id,
       |      round(coalesce(1.0/(60+rank_d), 0) + coalesce(1.0/(60+rank_s), 0), 6) AS rrf
       |      FROM dtop FULL JOIN stop USING (qid, id))
       |SELECT qid, id, rrf, rank FROM (
       | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id ASC) AS BIGINT) AS rank FROM f)
       |WHERE rank <= 10""".stripMargin

  // Both rerank stages in SQL: candidates are the full hybrid RRF
  // fusion (the q_hybrid_search chain as a subquery), then the stub
  // cross-encoder's three md5 mode scores over query ␟ passage and
  // the [0.4, 0.2, 0.4]-weighted mean — the m3 rerank formula.
  private lazy val rerankSql =
    s"""WITH cand AS (SELECT qid, id FROM ($hybridRrfSql)),
       |qd AS (SELECT doc_id AS qid, text AS qt FROM documents WHERE doc_id < 5),
       |pd AS (SELECT doc_id AS id, text AS pt FROM documents),
       |pairs AS (SELECT c.qid, c.id, qd.qt || chr(31) || pd.pt AS pair
       |          FROM cand c JOIN qd USING (qid) JOIN pd USING (id)),
       |modes AS (SELECT qid, id,
       |  ('0x' || substr(md5('d#' || pair), 1, 8))::BIGINT % 1000001 / 1000000.0 AS sd,
       |  ('0x' || substr(md5('s#' || pair), 1, 8))::BIGINT % 1000001 / 1000000.0 AS ss,
       |  ('0x' || substr(md5('c#' || pair), 1, 8))::BIGINT % 1000001 / 1000000.0 AS sc
       |  FROM pairs),
       |scored AS (SELECT qid, id,
       |  round((0.4 * sd + 0.2 * ss + 0.4 * sc) / (0.4 + 0.2 + 0.4), 6) AS ce_score
       |  FROM modes)
       |SELECT qid, id, ce_score, rank FROM (
       | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY ce_score DESC, id ASC) AS BIGINT) AS rank FROM scored)
       |WHERE rank <= 5""".stripMargin

  private val shingle8 =
    s"""SELECT DISTINCT doc_id, substr(t, i, 8) AS sh
       |FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM ($normDoc))""".stripMargin
  // Hot-shingle cap (mirrors Dedup maxDf=100): drop shingles present in
  // more than 100 docs before any pair math.
  private val shingle8Capped =
    s"""SELECT s.doc_id, s.sh FROM ($shingle8) s
       |JOIN (SELECT sh FROM ($shingle8) GROUP BY sh HAVING count(*) <= 100) k ON s.sh = k.sh""".stripMargin
  // Shingle sets in the 32-bit md5 hash space (mirrors Dedup.shingleHashSet:
  // distinct/cap/size/intersect all on h, so both engines agree bit-for-bit)
  private val shingleHash8 =
    s"""SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
       |FROM (SELECT doc_id, substr(t, i, 8) AS sh
       |      FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM ($normDoc)))""".stripMargin
  private val shingleHash8Capped =
    s"""SELECT s.doc_id, s.h FROM ($shingleHash8) s
       |JOIN (SELECT h FROM ($shingleHash8) GROUP BY h HAVING count(*) <= 100) k ON s.h = k.h""".stripMargin
  // MinHash signature chain shared by q_dedup_minhash and both cluster
  // oracles — ONE definition, because the signature layout and the
  // seed//3 band id are cross-engine contracts (a stale copy of this
  // chain is exactly how the CAST-rounds band bug hid in r2).
  private def minhashSigCtesFrom(shSql: String) =
    s"""sh AS ($shSql),
       |mh AS (SELECT doc_id, seed, min((h * (seed*2 + 3) + (seed*7 + 1)) % 4294967291) AS mh
       |       FROM sh, (SELECT unnest(generate_series(0, 11)) AS seed) GROUP BY doc_id, seed),
       |sig AS (SELECT doc_id, CAST(seed // 3 AS INT) AS band,
       |        string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig FROM mh GROUP BY doc_id, band)""".stripMargin
  private val minhashSigCtes = minhashSigCtesFrom(shingleHash8Capped)
  // The persisted-index probe oracle: the SAME signature chain, but
  // UNCAPPED (maxDf = None is the exactness condition of
  // dedupAgainstIndex) and with candidates restricted cross-parity —
  // even docs (the batch) against odd docs (the stored history).
  // Shared VERBATIM by q_dedup_minhash_index and q_dedup_minhash_retire:
  // retiring the appended segment must leave the index answering
  // exactly like one that never saw it.
  private val minhashIndexOracle =
    s"""WITH ${minhashSigCtesFrom(shingleHash8)},
       |cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
       |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
       |         WHERE a.doc_id % 4 = 2 AND b.doc_id % 4 = 1),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_new, c.id_old, count(*) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.id_new JOIN sh b ON b.doc_id = c.id_old AND a.h = b.h
       |          GROUP BY 1, 2)
       |SELECT c.id_new, c.id_old, round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) AS jaccard
       |FROM cand c LEFT JOIN inter i ON i.id_new = c.id_new AND i.id_old = c.id_old
       | JOIN sz sa ON sa.doc_id = c.id_new JOIN sz sb ON sb.doc_id = c.id_old
       |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5""".stripMargin
  // ... plus banded candidates and their exact-Jaccard ingredients.
  private val minhashCandCtes =
    s"""$minhashSigCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
       |          FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b AND a.h = b.h
       |          GROUP BY 1, 2)""".stripMargin
  // Connected components: min id reachable in the symmetric edge graph
  // `e`, with cluster sizes — shared tail of both cluster oracles.
  private val reachClusterSql =
    """reach AS (SELECT a AS id, a AS r FROM e
      |          UNION SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r)
      |SELECT id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_sz
      |FROM (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin
  // one definition for q_phash_index and q_phash_retire (see above)
  private val phashIndexOracle =
    """WITH sig AS (
      |  SELECT vec_id AS id,
      |    (SELECT CAST(SUM(CASE WHEN embedding[j+1] >= 0.0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
      |     FROM generate_series(0, 15) AS t(j)) AS sig
      |  FROM embeddings),
      |h AS (SELECT id, sig FROM sig WHERE id >= 5),
      |b AS (SELECT id + 1000000 AS id_new, sig FROM sig WHERE id < 5)
      |SELECT b.id_new, h.id AS id_old, bit_count(xor(b.sig, h.sig)) AS hamming
      |FROM b JOIN h ON bit_count(xor(b.sig, h.sig)) <= 2""".stripMargin
  private val reformatSql =
    "'[标题]:' || substr(text, 1, 40) || chr(10) || '[时间]:2025-08-12' || chr(10) || '[来源]:' || source || chr(10) || chr(10) || text"
  private val cleanTitleSql =
    """CASE WHEN length(substr(regexp_replace(trim(substr(text,1,40)), '[^\x{4e00}-\x{9fa5}a-zA-Z0-9]', '', 'g'), 1, 50)) = 0
      |THEN 'untitled' ELSE substr(regexp_replace(trim(substr(text,1,40)), '[^\x{4e00}-\x{9fa5}a-zA-Z0-9]', '', 'g'), 1, 50) END""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,

    "q_window_running" ->
      """SELECT o_orderkey,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q_topk_per_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        | SELECT p_brand, p_partkey, p_retailprice,
        |  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS BIGINT) AS rn
        | FROM part) WHERE rn <= 3""".stripMargin,

    "q_clean_title" ->
      s"SELECT doc_id, $cleanTitleSql AS title FROM documents"
        .replace("substr(text,1,40)", "substr(text,1,60)"),

    "q_reformat" ->
      s"SELECT doc_id, $reformatSql AS doc FROM documents",

    "q_chunk_fixed" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS block_id, substr(text, i*100 + 1, 120) AS content
        |FROM (SELECT doc_id, text, unnest(generate_series(0, CAST(floor((length(text)-1)/100) AS BIGINT))) AS i
        |      FROM documents WHERE length(text) > 0)""".stripMargin,

    // Recursive splitter on the graded corpus (guarded in the query):
    // the only separator present is " ", so the recursion reduces to
    // greedy word-wrap at 120 joined by single spaces — a recursive CTE
    // carrying (chunk_no, cur_len) one word at a time. Docs at or under
    // 120 chars pass through whole; empty docs produce no chunk.
    "q_chunk_recursive" ->
      """WITH RECURSIVE d AS (SELECT doc_id, text FROM documents),
        |short AS (SELECT doc_id, 0 AS block_id, text AS content FROM d
        |          WHERE length(text) <= 120 AND length(text) > 0),
        |words AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS wi,
        |                 unnest(string_split(text, ' ')) AS w
        |          FROM d WHERE length(text) > 120),
        |rec AS (
        |  SELECT doc_id, wi, 1 AS chunk_no, length(w) AS cur_len
        |  FROM words WHERE wi = 1
        |  UNION ALL
        |  SELECT w.doc_id, w.wi,
        |    CASE WHEN r.cur_len + 1 + length(w.w) <= 120 THEN r.chunk_no ELSE r.chunk_no + 1 END,
        |    CASE WHEN r.cur_len + 1 + length(w.w) <= 120 THEN r.cur_len + 1 + length(w.w) ELSE length(w.w) END
        |  FROM rec r JOIN words w ON w.doc_id = r.doc_id AND w.wi = r.wi + 1
        |),
        |long_chunks AS (
        |  SELECT r.doc_id, r.chunk_no - 1 AS block_id, string_agg(w.w, ' ' ORDER BY w.wi) AS content
        |  FROM rec r JOIN words w ON w.doc_id = r.doc_id AND w.wi = r.wi
        |  GROUP BY r.doc_id, r.chunk_no
        |)
        |SELECT doc_id, CAST(block_id AS BIGINT) AS block_id, content
        |FROM (SELECT * FROM short UNION ALL SELECT * FROM long_chunks)""".stripMargin,

    "q_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,

    "q_langid" ->
      """WITH s AS (SELECT doc_id,
        | len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS s_en,
        | len(regexp_extract_all(lower(text), '\b(el|la|de|que|los|las|una|por)\b')) AS s_es,
        | len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein|mit|von|zu)\b')) AS s_de,
        | len(regexp_extract_all(lower(text), '\b(le|la|les|des|une|est|dans|pour)\b')) AS s_fr,
        | len(regexp_extract_all(text, '[\x{4e00}-\x{9fa5}]')) AS s_zh
        |FROM documents)
        |SELECT doc_id, CASE
        | WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
        | WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
        | WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
        | WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
        | WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
        | ELSE 'zh' END AS pred_lang FROM s""".stripMargin,

    "q_quality" ->
      """WITH f AS (SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS toks,
        | CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|it)\b')) AS BIGINT) AS stops,
        | CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct
        |FROM documents)
        |SELECT doc_id,
        | least(toks * 10, 1000) * 4
        | + least(CAST(floor(stops * 10000 / (toks + 1)) AS BIGINT), 1000) * 3
        | + (1000 - least(CAST(floor(punct * 5000 / (toks + 1)) AS BIGINT), 1000)) * 3 AS quality
        |FROM f""".stripMargin,

    // chat assembly serialized with chr(31)/chr(30) separators exactly as
    // Tag.chatDigestInput, then the same signed-byte label rule as
    // q_llm_tag — the whole request (system default, history pair, query)
    // is inside the digest
    "q_llm_chat" ->
      """WITH m AS (SELECT doc_id,
        |  'system' || chr(31) || '你是一个数据处理打标专家。' || chr(30) ||
        |  'user' || chr(31) || source || chr(30) ||
        |  'assistant' || chr(31) || lang || chr(30) ||
        |  'user' || chr(31) || text || chr(30) AS prompt
        |  FROM documents),
        |b AS (SELECT doc_id, ('0x' || substr(md5(prompt), 1, 2))::INT AS ub FROM m),
        |s AS (SELECT doc_id, CASE WHEN ub > 127 THEN ub - 256 ELSE ub END AS sb FROM b)
        |SELECT doc_id, CASE ((sb % 5) + 5) % 5
        | WHEN 0 THEN 'news' WHEN 1 THEN 'tech' WHEN 2 THEN 'finance'
        | WHEN 3 THEN 'sports' ELSE 'other' END AS label FROM s""".stripMargin,

    "q_llm_tag" ->
      """WITH b AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 2))::INT AS ub FROM documents),
        |s AS (SELECT doc_id, CASE WHEN ub > 127 THEN ub - 256 ELSE ub END AS sb FROM b)
        |SELECT doc_id, CASE ((sb % 5) + 5) % 5
        | WHEN 0 THEN 'news' WHEN 1 THEN 'tech' WHEN 2 THEN 'finance'
        | WHEN 3 THEN 'sports' ELSE 'other' END AS label
        |FROM s""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        | md5(text) AS checksum,
        | CAST(('0x' || substr(md5(text), 1, 4))::INT % 1920 + 1 AS BIGINT) AS width,
        | CAST(('0x' || substr(md5(text), 5, 4))::INT % 1080 + 1 AS BIGINT) AS height,
        | ('0x' || substr(md5(text), 9, 6))::BIGINT % 600000 AS duration_ms
        |FROM documents""".stripMargin,

    "q_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  ('0x' || substr(md5(text), 9, 6))::BIGINT % 600000 AS dur FROM documents)
        |SELECT media_id, CAST(f AS BIGINT) AS frame_idx, CAST(f * 60000 AS BIGINT) AS ts_ms
        |FROM (SELECT media_id,
        |      unnest(generate_series(0, CAST(greatest(floor(dur / 60000), 0) AS BIGINT))) AS f
        |      FROM m)""".stripMargin,

    "q_redact_pii" ->
      """SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(
        |  substr(text, 1, 80) || ' contact user' || CAST(doc_id AS VARCHAR)
        |   || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |   || ' phone +1 555 123 4567 end',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |  '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_repetition" ->
      """SELECT doc_id,
        | round(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
        |  / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0), 4) AS mean_word_len,
        | round((len(str_split_regex(text, '\. ')) - len(list_distinct(str_split_regex(text, '\. '))))
        |  / greatest(CAST(len(str_split_regex(text, '\. ')) AS DOUBLE), 1.0), 4) AS dup_sent_frac,
        | round(len(regexp_extract_all(text, '\b[0-9]+\b'))
        |  / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0), 4) AS numeric_word_frac
        |FROM documents""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT n.doc_id, md5(n.t) AS fp, m.min_sh
         |FROM ($normDoc) n JOIN (
         | SELECT doc_id, min(('0x' || substr(md5('0#' || sh), 1, 8))::BIGINT) AS min_sh
         | FROM (SELECT doc_id, substr(t, i, 8) AS sh
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM ($normDoc)))
         | GROUP BY doc_id) m ON n.doc_id = m.doc_id""".stripMargin,

    "q_embed_dense" ->
      """SELECT doc_id, CAST(j AS BIGINT) AS dim,
        | (('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || text), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0 AS val
        |FROM (SELECT doc_id, text, unnest(generate_series(0, 15)) AS j FROM documents)""".stripMargin,

    // the full semantic-chunker recipe in SQL: sentence split → ±1-
    // neighbour context → stub embedding (same md5 formula as
    // q_embed_dense) → consecutive cosine distance → per-doc 95th-
    // percentile threshold → cumulative break groups. The strict
    // sig > thr compare is cross-engine safe: the interpolated
    // percentile can only coincide with a sig value when the rank index
    // is integral, and then thr IS that value — each engine compares a
    // double against its own copy, so ulp noise cannot flip the branch.
    "q_chunk_semantic" ->
      """WITH doc AS (SELECT doc_id, text || '. ' || text AS t FROM documents),
        |sraw AS (SELECT doc_id,
        |  unnest(regexp_extract_all(t, '[^。.!?！？；]+[。.!?！？；]?')) AS sentence,
        |  generate_subscripts(regexp_extract_all(t, '[^。.!?！？；]+[。.!?！？；]?'), 1) AS sent_id
        | FROM doc),
        |sents AS (SELECT doc_id, sentence, sent_id FROM sraw WHERE length(trim(sentence)) > 0),
        |ctx AS (SELECT doc_id, sent_id, sentence,
        |  concat_ws(' ', lag(sentence) OVER w, sentence, lead(sentence) OVER w) AS c
        | FROM sents WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)),
        |emb AS (SELECT doc_id, sent_id, sentence,
        |  list_transform(range(0, 16), j ->
        |    (('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || c), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0) AS e
        | FROM ctx),
        |pair AS (SELECT doc_id, sent_id, sentence, e, lag(e) OVER w AS pe
        | FROM emb WINDOW w AS (PARTITION BY doc_id ORDER BY sent_id)),
        |dist AS (SELECT doc_id, sent_id, sentence,
        |  CASE WHEN pe IS NULL THEN 0.0
        |       ELSE 1.0 - list_inner_product(e, pe) /
        |            (sqrt(list_inner_product(e, e)) * sqrt(list_inner_product(pe, pe)))
        |  END AS sig
        | FROM pair),
        |thr AS (SELECT doc_id, quantile_cont(sig, 0.95) AS thr FROM dist GROUP BY doc_id),
        |brk AS (SELECT d.doc_id, d.sent_id, d.sentence,
        |  CASE WHEN d.sig > t.thr THEN 1 ELSE 0 END AS b
        | FROM dist d JOIN thr t ON d.doc_id = t.doc_id),
        |grp AS (SELECT doc_id, sent_id, sentence,
        |  CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY sent_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS block_id
        | FROM brk)
        |SELECT doc_id, block_id, string_agg(sentence, ' ' ORDER BY sent_id) AS content,
        | count(*) AS n_sentences
        |FROM grp GROUP BY doc_id, block_id""".stripMargin,

    "q_sparse_embed" ->
      s"""SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         | CAST(count(*) AS DOUBLE) AS weight
         |FROM ($tokDoc)
         |GROUP BY doc_id, term""".stripMargin,

    "q_id_lookup" ->
      """SELECT d.doc_id, m.source_id
        |FROM documents d JOIN (SELECT source, min(doc_id) AS source_id FROM documents GROUP BY source) m
        | ON d.source = m.source""".stripMargin,

    "q_ingest_exists" ->
      """SELECT doc_id, source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id AND e.label < 3)""".stripMargin,

    "q_delete_expr" ->
      "SELECT doc_id, source FROM documents WHERE NOT (source = 'src0' AND lang = 'en')",

    "q_jsonl_source" ->
      s"""SELECT doc_id + 1 AS row_num,
         | ${cleanTitleSql} || '_' || CAST(doc_id + 1 AS VARCHAR) || '.pdf' AS file_name,
         | n_chars AS nc
         |FROM documents WHERE doc_id + 1 BETWEEN 10 AND 99""".stripMargin,

    "q_files_by_knowledge" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE source = 'src1' ORDER BY doc_id ASC""".stripMargin,

    "q_query_expr" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 7 = 0 AND lang = 'en'",

    "q_query_iterator" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id > 100 ORDER BY doc_id LIMIT 20""".stripMargin,

    "q_upsert" ->
      """SELECT doc_id, source, lang FROM documents WHERE doc_id % 10 <> 0
        |UNION ALL
        |SELECT doc_id, 'updated' AS source, lang FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    "q_pipeline_full" ->
      s"""WITH docs AS (
         | SELECT doc_id AS file_id, source,
         |  $cleanTitleSql || '_' || CAST(doc_id AS VARCHAR) || '.pdf' AS file_name,
         |  $reformatSql AS doc
         | FROM documents d
         | WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id AND e.label < 3)),
         |chunks AS (
         | SELECT file_id, file_name, source, CAST(i AS BIGINT) AS block_id,
         |  substr(doc, i*160 + 1, 200) AS content
         | FROM (SELECT file_id, file_name, source, doc,
         |       unnest(generate_series(0, CAST(floor((length(doc)-1)/160) AS BIGINT))) AS i
         |       FROM docs WHERE length(doc) > 0)),
         |sparse AS (
         | SELECT file_id, block_id, CAST(count(*) AS BIGINT) AS n_sparse,
         |  CAST(sum(b) AS BIGINT) AS sparse_keysum
         | FROM (SELECT DISTINCT file_id, block_id,
         |       ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS b
         |       FROM (SELECT file_id, block_id,
         |             unnest(regexp_extract_all(trim(regexp_replace(lower(content), '\\s+', ' ', 'g')), '[A-Za-z0-9]+')) AS tok
         |             FROM chunks))
         | GROUP BY file_id, block_id)
         |SELECT c.file_id, c.block_id, c.file_name, c.content, c.source,
         | CAST(0 AS BIGINT) AS qa_id, '' AS question, '' AS answer, '0' AS flag,
         | coalesce(s.n_sparse, CAST(0 AS BIGINT)) AS n_sparse,
         | coalesce(s.sparse_keysum, CAST(0 AS BIGINT)) AS sparse_keysum,
         | CAST(j AS BIGINT) AS dim,
         | (('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || c.content), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0 AS val
         |FROM chunks c
         |LEFT JOIN sparse s ON s.file_id = c.file_id AND s.block_id = c.block_id
         |CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)""".stripMargin,

    "q_pipeline_blocks" ->
      s"""WITH docs AS (SELECT doc_id AS file_id,
         | $cleanTitleSql || '_' || CAST(doc_id AS VARCHAR) || '.pdf' AS file_name,
         | $reformatSql AS doc FROM documents)
         |SELECT file_id, CAST(i AS BIGINT) AS block_id, file_name,
         | substr(doc, i*160 + 1, 200) AS content,
         | CAST(len(regexp_extract_all(substr(doc, i*160 + 1, 200), '[A-Za-z0-9]+')) AS BIGINT) AS n_tokens
         |FROM (SELECT file_id, file_name, doc, unnest(generate_series(0, CAST(floor((length(doc)-1)/160) AS BIGINT))) AS i
         |      FROM docs WHERE length(doc) > 0)""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT md5(t) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM ($normDoc) GROUP BY fp""".stripMargin,

    // the bloom is pure pruning — the oracle is the plain history join
    "q_dedup_bloom" ->
      s"""WITH n AS ($normDoc),
         |h AS (SELECT md5(t) AS fp, min(doc_id) AS first_id FROM n
         |      WHERE doc_id % 2 = 0 GROUP BY 1),
         |b AS (SELECT doc_id AS id, t FROM n WHERE doc_id % 2 = 1
         |      UNION ALL
         |      SELECT doc_id + 1000000 AS id, t FROM n WHERE doc_id % 10 = 0)
         |SELECT b.id, h.first_id, h.first_id IS NOT NULL AS is_dup
         |FROM b LEFT JOIN h ON md5(b.t) = h.fp""".stripMargin,

    // the nightly driver's audit report is fully determined by the
    // static segment tags and windows — a literal table is the oracle
    "q_maintenance" ->
      """SELECT * FROM (VALUES ('linedf', 1, 'd20'), ('ivf', 1, 'd1'))
        |AS t(family, keep, tag)""".stripMargin,

    // the sighted nightly's audit report: day tags and windows are
    // static (keep=2 over three sighting days always retires exactly
    // d0, the build day), so a literal table is the oracle — the
    // survivor semantics behind each retire are the hash-exact
    // q_exact_seen_retire / q_minhash_seen_retire queries
    "q_maintenance_sighted" ->
      """SELECT * FROM (VALUES ('exact_seen', 2, 'd0'),
        |  ('minhash_seen', 2, 'd0')) AS t(family, keep, tag)""".stripMargin,

    // compaction audit: IVF fraction is the 16/64 literal; the exact
    // side's is recomputed from the documents table (distinct
    // normalized-text fps, the q_dedup_exact identity)
    "q_compaction" ->
      s"""WITH n AS ($normDoc),
         |ex AS (SELECT round(
         |  CAST((SELECT count(DISTINCT md5(t)) FROM n WHERE doc_id < 10) AS DOUBLE) /
         |       (SELECT count(DISTINCT md5(t)) FROM n WHERE doc_id < 40), 4) AS f)
         |SELECT phase, family, fraction, compacted FROM (
         | SELECT 'below' AS phase, 'ivf' AS family, 0.25 AS fraction, false AS compacted
         | UNION ALL SELECT 'below', 'exact', (SELECT f FROM ex), false
         | UNION ALL SELECT 'due', 'ivf', 0.25, true
         | UNION ALL SELECT 'due', 'exact', (SELECT f FROM ex), true
         | UNION ALL SELECT 'after', 'ivf', 0.0, false
         | UNION ALL SELECT 'after', 'exact', 0.0, false)""".stripMargin,

    // the composed nightly's dashboards: segment sets are construction
    // literals, live counts recomputed from the embeddings table
    // (%8==0 base, %16 in (1,3) appends; zero-norm excluded on build
    // AND append), and post == pre row for row — the backup provably
    // undoes retention + compaction
    "q_maintenance_pipeline" ->
      """WITH nz AS (SELECT vec_id FROM embeddings
        |  WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) > 0),
        |pre AS (SELECT count(*) AS l FROM nz WHERE vec_id % 16 = 0 OR vec_id % 32 IN (1, 3)),
        |-- mid: d1 retired AND the 8 tombstoned base ids (%16==0, <128)
        |-- physically purged by the compaction
        |mid AS (SELECT count(*) AS l FROM nz
        |  WHERE (vec_id % 16 = 0 AND vec_id >= 128) OR vec_id % 32 = 3),
        |iv AS (
        | SELECT 'pre' AS phase, CAST(l AS BIGINT) AS live, CAST(3 AS BIGINT) AS segments,
        |        'd3' AS newest, CAST(8 AS BIGINT) AS tombstones,
        |        round(8.0 / l, 4) AS fraction FROM pre
        | UNION ALL
        | SELECT 'mid', CAST(l AS BIGINT), CAST(2 AS BIGINT), 'd3', CAST(0 AS BIGINT), 0.0 FROM mid
        | UNION ALL
        | SELECT 'post', CAST(l AS BIGINT), CAST(3 AS BIGINT), 'd3', CAST(8 AS BIGINT),
        |        round(8.0 / l, 4) FROM pre),
        |ln AS (
        | SELECT 'pre' AS phase, CAST(3 AS BIGINT) AS segments
        | UNION ALL SELECT 'mid', CAST(2 AS BIGINT)
        | UNION ALL SELECT 'post', CAST(3 AS BIGINT))
        |SELECT phase, family, live, segments, oldest, newest, tombstones, fraction FROM (
        | SELECT phase, 'ivf' AS family, live, segments, 'base' AS oldest, newest,
        |        tombstones, fraction FROM iv
        | UNION ALL
        | SELECT phase, 'linedf', NULL, segments, 'base', 'd40', CAST(0 AS BIGINT), NULL FROM ln)""".stripMargin,

    // the health dashboard: live identity counts, segment tags, and
    // tombstone fractions recomputed from the source tables; the
    // ' fresh-segment' suffix guarantees the appended fps are novel
    // (ltrim mirrors the normalize-after-concat of an empty base text)
    "q_store_report" ->
      s"""WITH n AS ($normDoc),
         |a AS (SELECT count(DISTINCT md5(t)) AS a FROM n WHERE doc_id < 40),
         |b AS (SELECT count(DISTINCT md5(ltrim(t || ' fresh-segment'))) AS b FROM n WHERE doc_id < 10),
         |d AS (SELECT count(DISTINCT md5(t)) AS d FROM n WHERE doc_id < 10),
         |e20 AS (SELECT count(DISTINCT md5(t)) AS e FROM n WHERE doc_id < 20),
         |iv AS (SELECT count(*) AS ivlive FROM embeddings
         |  WHERE vec_id < 64
         |    AND sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) > 0)
         |SELECT family, live, segments, oldest, newest, tombstones, fraction,
         |       seen_days, oldest_seen, newest_seen FROM (
         | SELECT 'exact' AS family, CAST(a + b AS BIGINT) AS live,
         |        CAST(2 AS BIGINT) AS segments, 'base' AS oldest, 'd1' AS newest,
         |        CAST(d AS BIGINT) AS tombstones,
         |        round(CAST(d AS DOUBLE) / (a + b), 4) AS fraction,
         |        CAST(NULL AS BIGINT) AS seen_days,
         |        CAST(NULL AS VARCHAR) AS oldest_seen,
         |        CAST(NULL AS VARCHAR) AS newest_seen
         | FROM a, b, d
         | UNION ALL
         | SELECT 'ivf', CAST(ivlive AS BIGINT), CAST(1 AS BIGINT), 'base', 'base',
         |        CAST(16 AS BIGINT), round(16.0 / ivlive, 4),
         |        CAST(NULL AS BIGINT), NULL, NULL FROM iv
         | UNION ALL
         | SELECT 'linedf', NULL, CAST(2 AS BIGINT), 'base', 'd20',
         |        CAST(0 AS BIGINT), NULL, CAST(NULL AS BIGINT), NULL, NULL
         | UNION ALL
         | SELECT 'exact', CAST(e AS BIGINT), CAST(2 AS BIGINT), 'base', 'd1',
         |        CAST(0 AS BIGINT), 0.0, CAST(2 AS BIGINT), 'd0', 'd1'
         | FROM e20)""".stripMargin,

    // the sighting-window retire: live fps = texts SEEN in the kept
    // days (d1, d2) — d0-first texts survive iff re-seen (the %32
    // replays), under their ORIGINAL d0 first ids; d0-only texts are
    // forgotten. The d1/d2 branches rely on the corpus's no-cross-slice
    // exact-dup property (the q_exact_retire assumption).
    "q_exact_seen_retire" ->
      s"""WITH n AS ($normDoc),
         |h AS (SELECT md5(t) AS fp, min(doc_id) AS first_id FROM n
         |      WHERE doc_id % 16 = 0 GROUP BY 1),
         |seen1 AS (SELECT DISTINCT md5(t) AS fp FROM n WHERE doc_id % 32 = 0),
         |live AS (
         |  SELECT fp, first_id FROM h WHERE fp IN (SELECT fp FROM seen1)
         |  UNION ALL
         |  SELECT md5(t), min(doc_id) FROM n WHERE doc_id % 16 = 1 GROUP BY 1
         |  UNION ALL
         |  SELECT md5(t), min(doc_id) FROM n WHERE doc_id % 16 = 2 GROUP BY 1),
         |b AS (SELECT doc_id + 2000000 AS id, t FROM n
         |      WHERE doc_id % 16 IN (0, 1))
         |SELECT b.id, live.first_id, live.first_id IS NOT NULL AS is_dup
         |FROM b LEFT JOIN live ON md5(b.t) = live.fp""".stripMargin,

    // the retire witness: appending the batch as segment d1 then
    // retiring d1 must leave the history answering exactly like one
    // that never saw it — the q_dedup_bloom oracle shape on quarters
    "q_exact_retire" ->
      s"""WITH n AS ($normDoc),
         |h AS (SELECT md5(t) AS fp, min(doc_id) AS first_id FROM n
         |      WHERE doc_id % 4 = 0 GROUP BY 1),
         |b AS (SELECT doc_id AS id, t FROM n WHERE doc_id % 4 = 1
         |      UNION ALL
         |      SELECT doc_id + 1000000 AS id, t FROM n WHERE doc_id % 20 = 0)
         |SELECT b.id, h.first_id, h.first_id IS NOT NULL AS is_dup
         |FROM b LEFT JOIN h ON md5(b.t) = h.fp""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH sh AS ($shingle8Capped),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) AS jaccard
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 4) >= 0.5""".stripMargin,

    // containment: the quadratic all-ordered-pairs definition verbatim —
    // the Spark side's prefix filter + exact verify must reproduce it
    "q_dedup_containment" ->
      s"""WITH sh AS ($shingle8Capped),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(CAST(i AS DOUBLE) / sa.sz, 4) AS containment
         |FROM inter JOIN sz sa ON sa.doc_id = id_a
         |WHERE round(CAST(i AS DOUBLE) / sa.sz, 4) >= 0.4""".stripMargin,

    // survivors of the greedy keep-the-container decision: dropped =
    // tau-contained in a strictly larger set (ties keep the min id)
    "q_dedup_drop_contained" ->
      s"""WITH sh AS ($shingle8Capped),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT id_a FROM inter
         |  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |  WHERE round(CAST(i AS DOUBLE) / sa.sz, 4) >= 0.8
         |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND id_b < id_a)))
         |SELECT doc_id AS id FROM documents
         |WHERE doc_id NOT IN (SELECT id_a FROM dropped)""".stripMargin,

    // daily-crawl containment admission: history = evens (slice-capped
    // shingles, the index's build-time cap), batch = odds (batch-local
    // cap). History containers win ties (arrival order); batch
    // containers follow dropContained's strict-or-min-id rule. The
    // winning container is the largest, ties min id, pooled across both.
    "q_dedup_contained_index" ->
      s"""WITH nd AS ($normDoc),
         |hist AS (SELECT doc_id, t FROM nd WHERE doc_id % 2 = 0),
         |bat AS (SELECT doc_id, t FROM nd WHERE doc_id % 2 = 1),
         |shh0 AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS sh
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM hist)),
         |shh AS (SELECT s.doc_id, s.sh FROM shh0 s
         |  JOIN (SELECT sh FROM shh0 GROUP BY sh HAVING count(*) <= 100) k ON s.sh = k.sh),
         |shb0 AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS sh
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM bat)),
         |shb AS (SELECT s.doc_id, s.sh FROM shb0 s
         |  JOIN (SELECT sh FROM shb0 GROUP BY sh HAVING count(*) <= 100) k ON s.sh = k.sh),
         |szh AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |szb AS (SELECT doc_id, count(*) AS sz FROM shb GROUP BY doc_id),
         |interH AS (SELECT b.doc_id AS id_a, h.doc_id AS id_b, count(*) AS i
         |  FROM shb b JOIN shh h ON b.sh = h.sh GROUP BY 1, 2),
         |interB AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM shb a JOIN shb b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2),
         |drops AS (
         |  SELECT i.id_a, i.id_b, sb.sz AS sz_b FROM interH i
         |    JOIN szb sa ON sa.doc_id = i.id_a JOIN szh sb ON sb.doc_id = i.id_b
         |    WHERE round(CAST(i.i AS DOUBLE) / sa.sz, 4) >= 0.8 AND sb.sz >= sa.sz
         |  UNION ALL
         |  SELECT i.id_a, i.id_b, sb.sz FROM interB i
         |    JOIN szb sa ON sa.doc_id = i.id_a JOIN szb sb ON sb.doc_id = i.id_b
         |    WHERE round(CAST(i.i AS DOUBLE) / sa.sz, 4) >= 0.8
         |      AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND i.id_b < i.id_a))),
         |best AS (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a ORDER BY sz_b DESC, id_b ASC) AS rn
         |  FROM drops) WHERE rn = 1)
         |SELECT b.doc_id AS id, (best.id_b IS NOT NULL) AS is_contained,
         |  best.id_b AS container_id
         |FROM bat b LEFT JOIN best ON best.id_a = b.doc_id""".stripMargin,

    // the containment sighting-window retire, replayed generically:
    // day-1 admission takes the FULL dropContainedAgainstIndex verdict
    // (history drops at sz_b >= sz_a, within-batch drops under the
    // strict-or-min-id rule), touched = every history container a
    // rejected doc tau-matched, live after retiring d0 = touched ∪
    // admitted; the probe then re-runs the same verdict against the
    // survivors. Uncapped shingle sets — one shared CTE for all three
    // sides (the maxDf=None design of the Spark query).
    "q_containment_seen_retire" ->
      s"""WITH nd AS ($normDoc),
         |u AS (
         |  SELECT doc_id AS id, t, 'h' AS grp FROM nd WHERE doc_id % 16 = 5
         |  UNION ALL SELECT doc_id, t, 'b1' FROM nd WHERE doc_id % 16 = 6
         |  UNION ALL SELECT doc_id + 1000000, t, 'b1' FROM nd WHERE doc_id % 32 = 5
         |  UNION ALL SELECT doc_id, t, 'p' FROM nd WHERE doc_id % 16 = 12
         |  UNION ALL SELECT doc_id + 2000000, t, 'p' FROM nd WHERE doc_id % 32 = 6),
         |g AS (SELECT id, grp FROM u),
         |sh AS (SELECT DISTINCT id, substr(t, i, 8) AS sh
         |       FROM (SELECT id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM u)),
         |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id <> b.id GROUP BY 1, 2),
         |c AS (SELECT i.id_a, i.id_b, sa.sz AS sz_a, sb.sz AS sz_b
         |  FROM inter i JOIN sz sa ON sa.id = i.id_a JOIN sz sb ON sb.id = i.id_b
         |  WHERE round(CAST(i.i AS DOUBLE) / sa.sz, 4) >= 0.8),
         |h1 AS (SELECT c.* FROM c JOIN g a ON a.id = c.id_a JOIN g b ON b.id = c.id_b
         |  WHERE a.grp = 'b1' AND b.grp = 'h' AND c.sz_b >= c.sz_a),
         |bb1 AS (SELECT c.* FROM c JOIN g a ON a.id = c.id_a JOIN g b ON b.id = c.id_b
         |  WHERE a.grp = 'b1' AND b.grp = 'b1'
         |    AND (c.sz_b > c.sz_a OR (c.sz_b = c.sz_a AND c.id_b < c.id_a))),
         |rej1 AS (SELECT id_a AS id FROM h1 UNION SELECT id_a FROM bb1),
         |adm1 AS (SELECT id FROM g WHERE grp = 'b1'
         |  AND id NOT IN (SELECT id FROM rej1)),
         |live AS (SELECT id FROM g WHERE grp = 'h'
         |  AND id IN (SELECT DISTINCT id_b FROM h1)
         |  UNION SELECT id FROM adm1),
         |drops AS (
         |  SELECT c.id_a, c.id_b, c.sz_b FROM c JOIN g a ON a.id = c.id_a
         |    WHERE a.grp = 'p' AND c.id_b IN (SELECT id FROM live)
         |      AND c.sz_b >= c.sz_a
         |  UNION ALL
         |  SELECT c.id_a, c.id_b, c.sz_b FROM c JOIN g a ON a.id = c.id_a
         |    JOIN g b ON b.id = c.id_b
         |    WHERE a.grp = 'p' AND b.grp = 'p'
         |      AND (c.sz_b > c.sz_a OR (c.sz_b = c.sz_a AND c.id_b < c.id_a))),
         |best AS (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (
         |    PARTITION BY id_a ORDER BY sz_b DESC, id_b ASC) AS rn
         |  FROM drops) WHERE rn = 1)
         |SELECT p.id, best.id_b IS NOT NULL AS is_contained,
         |  best.id_b AS container_id
         |FROM (SELECT id FROM g WHERE grp = 'p') p
         |LEFT JOIN best ON best.id_a = p.id""".stripMargin,

    "q_dedup_minhash_index" -> minhashIndexOracle,
    "q_dedup_minhash_retire" -> minhashIndexOracle,

    // the minhash sighting-window retire, replayed generically: day-1
    // admissions/touches against the build slice, day-2 against the
    // then-live set, retire = build docs no kept day re-saw, probe =
    // slice 4 vs the survivors. Same uncapped signature chain as the
    // index oracle; replays (id >= 1000000) are day-1 arrivals.
    "q_minhash_seen_retire" ->
      s"""WITH nd AS ($normDoc),
         |u AS (SELECT doc_id AS id, t FROM nd WHERE doc_id % 16 IN (1, 2, 4)
         |      UNION ALL
         |      SELECT doc_id + 1000000 AS id, t FROM nd WHERE doc_id % 32 = 1
         |      UNION ALL
         |      SELECT doc_id + 2000000 AS id, t FROM nd WHERE doc_id % 32 = 2),
         |sh AS (SELECT DISTINCT id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
         |       FROM (SELECT id, substr(t, i, 8) AS sh
         |             FROM (SELECT id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM u))),
         |mh AS (SELECT id, seed, min((h * (seed*2 + 3) + (seed*7 + 1)) % 4294967291) AS mh
         |       FROM sh, (SELECT unnest(generate_series(0, 11)) AS seed) GROUP BY id, seed),
         |sig AS (SELECT id, CAST(seed // 3 AS INT) AS band,
         |        string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig FROM mh GROUP BY id, band),
         |sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |g AS (SELECT id, CASE WHEN id >= 2000000 THEN 'p'
         |                      WHEN id >= 1000000 THEN 'b1'
         |                      WHEN id % 16 = 1 THEN 'h'
         |                      WHEN id % 16 = 2 THEN 'b1'
         |                      ELSE 'p' END AS grp FROM sz),
         |cand AS (SELECT DISTINCT a.id AS id_new, b.id AS id_old
         |         FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.id <> b.id),
         |jac AS (SELECT c.id_new, c.id_old,
         |          round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 4) AS jaccard
         |        FROM cand c
         |        JOIN (SELECT c2.id_new, c2.id_old, count(*) AS i
         |              FROM cand c2 JOIN sh a ON a.id = c2.id_new
         |              JOIN sh b ON b.id = c2.id_old AND a.h = b.h
         |              GROUP BY 1, 2) i ON i.id_new = c.id_new AND i.id_old = c.id_old
         |        JOIN sz sa ON sa.id = c.id_new JOIN sz sb ON sb.id = c.id_old
         |        WHERE round(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i), 4) >= 0.5),
         |dup1 AS (SELECT j.* FROM jac j JOIN g a ON a.id = j.id_new JOIN g b ON b.id = j.id_old
         |         WHERE a.grp = 'b1' AND b.grp = 'h'),
         |adm1 AS (SELECT id FROM g WHERE grp = 'b1'
         |         AND id NOT IN (SELECT id_new FROM dup1)),
         |live AS (SELECT id FROM g WHERE grp = 'h'
         |         AND id IN (SELECT id_old FROM dup1)
         |         UNION SELECT id FROM adm1)
         |SELECT j.id_new, j.id_old, j.jaccard FROM jac j
         |JOIN g a ON a.id = j.id_new
         |WHERE a.grp = 'p' AND j.id_old IN (SELECT id FROM live)""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $minhashCandCtes
         |SELECT c.id_a, c.id_b, round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         | JOIN sz sa ON sa.doc_id = c.id_a JOIN sz sb ON sb.doc_id = c.id_b
         |WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5""".stripMargin,

    // banding recall: found = the q_dedup_minhash result (banded
    // candidates, exact-verified); exact = ALL pairs >= tau in the
    // same capped hash space (the q_dedup_ngram result re-expressed
    // over the minhash CTEs' hashed shingles)
    "q_dedup_recall" ->
      s"""WITH $minhashCandCtes,
         |found AS (SELECT c.id_a, c.id_b
         | FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         | JOIN sz sa ON sa.doc_id = c.id_a JOIN sz sb ON sb.doc_id = c.id_b
         | WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5),
         |interall AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         | FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |exact AS (SELECT ia.id_a, ia.id_b FROM interall ia
         | JOIN sz sa ON sa.doc_id = ia.id_a JOIN sz sb ON sb.doc_id = ia.id_b
         | WHERE round(CAST(ia.i AS DOUBLE) / (sa.sz + sb.sz - ia.i), 4) >= 0.5)
         |SELECT CAST(count(e.id_a) AS BIGINT) AS n_exact,
         | CAST(count(f.id_a) AS BIGINT) AS n_found,
         | CAST(sum(CASE WHEN e.id_a IS NOT NULL AND f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         | round(CAST(sum(CASE WHEN e.id_a IS NOT NULL AND f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(f.id_a), 4) AS precision,
         | round(CAST(sum(CASE WHEN e.id_a IS NOT NULL AND f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(e.id_a), 4) AS recall
         |FROM exact e FULL JOIN found f ON e.id_a = f.id_a AND e.id_b = f.id_b""".stripMargin,

    // the banding sweep: per-step found sets from ONE generalized band
    // CTE (band id = seed // (12/bands), the minhashSigCtes rule), pair
    // recall vs the exact same-space ground truth, early stop replayed
    // with a window filter — generic in sf. Slices and cap mirror the
    // Spark side (even half, slice-local maxDf=100).
    "q_dedup_tune_bands" ->
      s"""WITH sh0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, substr(t, i, 8) AS sh
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i
         |              FROM ($normDoc WHERE doc_id % 2 = 0)))),
         |sh AS (SELECT s.doc_id, s.h FROM sh0 s
         |  JOIN (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 100) k ON s.h = k.h),
         |mh AS (SELECT doc_id, seed, min((h * (seed*2 + 3) + (seed*7 + 1)) % 4294967291) AS mh
         |       FROM sh, (SELECT unnest(generate_series(0, 11)) AS seed) GROUP BY doc_id, seed),
         |steps AS (SELECT unnest([2, 4, 6]) AS bands),
         |sigb AS (SELECT st.bands AS bands, doc_id, CAST(seed // (12 // st.bands) AS INT) AS band,
         |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig
         |         FROM mh CROSS JOIN steps st GROUP BY st.bands, doc_id, band),
         |cand AS (SELECT DISTINCT a.bands, a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM sigb a JOIN sigb b ON a.bands = b.bands AND a.band = b.band
         |           AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.bands, c.id_a, c.id_b, count(*) AS i
         |          FROM cand c JOIN sh a ON a.doc_id = c.id_a
         |            JOIN sh b ON b.doc_id = c.id_b AND a.h = b.h
         |          GROUP BY 1, 2, 3),
         |found AS (SELECT c.bands, c.id_a, c.id_b
         |  FROM cand c LEFT JOIN inter i ON i.bands = c.bands AND i.id_a = c.id_a AND i.id_b = c.id_b
         |  JOIN sz sa ON sa.doc_id = c.id_a JOIN sz sb ON sb.doc_id = c.id_b
         |  WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5),
         |interall AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |exact AS (SELECT ia.id_a, ia.id_b FROM interall ia
         |  JOIN sz sa ON sa.doc_id = ia.id_a JOIN sz sb ON sb.doc_id = ia.id_b
         |  WHERE round(CAST(ia.i AS DOUBLE) / (sa.sz + sb.sz - ia.i), 4) >= 0.5),
         |ne AS (SELECT count(*) AS n FROM exact),
         |hits AS (SELECT f.bands, count(*) AS hit FROM found f
         |  JOIN exact e2 ON f.id_a = e2.id_a AND f.id_b = e2.id_b GROUP BY f.bands),
         |rec AS (SELECT st.bands, round(CAST(coalesce(hits.hit, 0) AS DOUBLE) / ne.n, 4) AS recall
         |        FROM steps st CROSS JOIN ne LEFT JOIN hits ON hits.bands = st.bands)
         |SELECT CAST(bands AS BIGINT) AS bands, recall, recall >= 0.95 AS meets_target
         |FROM rec WHERE bands <= coalesce(
         |  (SELECT min(bands) FROM rec WHERE recall >= 0.95), 6)""".stripMargin,

    // the simhash-threshold sweep: one all-pairs hamming CTE over the
    // even half (the q_dedup_simhash arithmetic, sliced), per-step
    // found sets by threshold filter, precision+recall vs the
    // q_dedup_tune_bands exact side, early stop as a window filter
    "q_dedup_tune_ham" ->
      s"""WITH shc0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, substr(t, i, 8) AS sh
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i
         |              FROM ($normDoc WHERE doc_id % 2 = 0)))),
         |shc AS (SELECT s.doc_id, s.h FROM shc0 s
         |  JOIN (SELECT h FROM shc0 GROUP BY h HAVING count(*) <= 100) k ON s.h = k.h),
         |sz AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
         |interall AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |exact AS (SELECT ia.id_a, ia.id_b FROM interall ia
         |  JOIN sz sa ON sa.doc_id = ia.id_a JOIN sz sb ON sb.doc_id = ia.id_b
         |  WHERE round(CAST(ia.i AS DOUBLE) / (sa.sz + sb.sz - ia.i), 4) >= 0.5),
         |ne AS (SELECT count(*) AS n FROM exact),
         |tok AS (SELECT doc_id, tok, count(*) AS tf FROM (
         |  SELECT doc_id, unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS tok
         |  FROM ($normDoc WHERE doc_id % 2 = 0)) GROUP BY doc_id, tok),
         |hh AS (SELECT doc_id, ('0x' || substr(md5('7#' || tok), 1, 15))::BIGINT AS h, tf FROM tok),
         |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS sgn
         |  FROM hh, (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id, sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id),
         |allp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS ham
         |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id),
         |steps AS (SELECT unnest([1, 2, 3]) AS mh),
         |f AS (SELECT st.mh, id_a, id_b FROM allp, steps st WHERE allp.ham <= st.mh),
         |stats AS (SELECT st.mh,
         |  (SELECT count(*) FROM f WHERE f.mh = st.mh) AS found,
         |  (SELECT count(*) FROM f JOIN exact e ON f.id_a = e.id_a AND f.id_b = e.id_b WHERE f.mh = st.mh) AS hit
         |  FROM steps st),
         |rec AS (SELECT mh,
         |  CASE WHEN found > 0 THEN round(CAST(hit AS DOUBLE) / found, 4) END AS precision,
         |  round(CAST(hit AS DOUBLE) / ne.n, 4) AS recall
         |  FROM stats, ne)
         |SELECT CAST(mh AS BIGINT) AS max_ham, precision, recall,
         |  recall >= 0.55 AS meets_target
         |FROM rec WHERE mh <= coalesce(
         |  (SELECT min(mh) FROM rec WHERE recall >= 0.55), 3)""".stripMargin,

    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, tok, count(*) AS tf
         |  FROM ($tokDoc)
         |  GROUP BY doc_id, tok),
         |h AS (SELECT doc_id, ('0x' || substr(md5('7#' || tok), 1, 15))::BIGINT AS h, tf FROM tok),
         |bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS sgn
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) GROUP BY doc_id, b),
         |sim AS (SELECT doc_id, sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) <= 3""".stripMargin,

    "q_dedup_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4""".stripMargin,

    "q_dedup_cosine_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT p, list(comp ORDER BY j) AS pv FROM (
        |  SELECT pp.p AS p, jj.j AS j,
        |   (('0x' || substr(md5(CAST(jj.j AS VARCHAR) || '#plane-' || CAST(pp.p AS VARCHAR)), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0 AS comp
        |  FROM (SELECT unnest(generate_series(0, 3)) AS p) pp,
        |       (SELECT unnest(generate_series(0, 63)) AS j) jj)
        | GROUP BY p),
        |sig AS (SELECT vec_id,
        |  CAST(sum(CASE WHEN list_inner_product(v, pv) >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        | FROM e, pl GROUP BY vec_id)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(ea.v, eb.v), 4) AS cos
        |FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
        |JOIN e ea ON ea.vec_id = a.vec_id
        |JOIN e eb ON eb.vec_id = b.vec_id
        |WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= 0.4""".stripMargin,

    // embedding near-dup admission via the stored LSH net: the first
    // quarter is the history (lshSigCtes — the ONE plane/sig recipe,
    // shared with annLshOracleSql), each second-quarter probe keeps its
    // best same-bucket stored neighbor at >= tau
    "q_dedup_cosine_index" ->
      s"""WITH $lshSigCtes,
        |cand AS (SELECT s.vec_id AS qid, c.vec_id AS cid,
        |  max(round(list_cosine_similarity(qe.v, ce.v), 4)) AS score
        | FROM sig c JOIN sig s ON c.t = s.t AND c.sig = s.sig
        | JOIN e ce ON ce.vec_id = c.vec_id
        | JOIN e qe ON qe.vec_id = s.vec_id
        | WHERE s.vec_id % 4 = 1 AND c.vec_id % 4 = 0 GROUP BY 1, 2),
        |best AS (SELECT qid, cid, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn FROM cand)
        | WHERE rn = 1 AND score >= 0.4)
        |SELECT b.vec_id AS id, best.cid AS dup_of, best.score AS cos,
        |  best.cid IS NOT NULL AS is_dup
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 4 = 1) b
        |LEFT JOIN best ON best.qid = b.vec_id""".stripMargin,

    // the cosine sighting-window retire, replayed generically over the
    // lshSigCtes plane recipe with OFFSET ids: day-1 arrivals reject
    // against the build slice when their best same-bucket stored
    // neighbor rounds to >= tau (k=1, ties id asc — the
    // cosineDedupAgainstIndex verdict), touched = those best-neighbor
    // ids, live after retiring d0 = touched ∪ admitted, and the probe
    // re-runs the same verdict against the survivors.
    "q_cosine_seen_retire" ->
      """WITH u AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v, 'h' AS grp
        |    FROM embeddings WHERE vec_id % 16 = 9
        |  UNION ALL SELECT vec_id, CAST(embedding AS DOUBLE[]), 'b1'
        |    FROM embeddings WHERE vec_id % 16 = 10
        |  UNION ALL SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]), 'b1'
        |    FROM embeddings WHERE vec_id % 32 = 9
        |  UNION ALL SELECT vec_id, CAST(embedding AS DOUBLE[]), 'p'
        |    FROM embeddings WHERE vec_id % 16 = 11
        |  UNION ALL SELECT vec_id + 2000000, CAST(embedding AS DOUBLE[]), 'p'
        |    FROM embeddings WHERE vec_id % 32 = 10),
        |pl AS (SELECT t, p, list(comp ORDER BY j) AS pv FROM (
        |  SELECT tt.t AS t, pp.p AS p, jj.j AS j,
        |   (('0x' || substr(md5(CAST(jj.j AS VARCHAR) || '#' ||
        |      CASE WHEN tt.t = 0 THEN 'plane-' ELSE 'plane-t' || CAST(tt.t AS VARCHAR) || '-' END
        |      || CAST(pp.p AS VARCHAR)), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0 AS comp
        |  FROM (SELECT unnest(generate_series(0, 3)) AS t) tt,
        |       (SELECT unnest(generate_series(0, 5)) AS p) pp,
        |       (SELECT unnest(generate_series(0, 63)) AS j) jj)
        | GROUP BY t, p),
        |sig AS (SELECT id, grp, t,
        |  CAST(sum(CASE WHEN list_inner_product(v, pv) >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        | FROM u, pl GROUP BY id, grp, t),
        |cand1 AS (SELECT a.id AS id_new, b.id AS id_old,
        |  max(round(list_cosine_similarity(ae.v, be.v), 4)) AS score
        | FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig
        | JOIN u ae ON ae.id = a.id JOIN u be ON be.id = b.id
        | WHERE a.grp = 'b1' AND b.grp = 'h' GROUP BY 1, 2),
        |best1 AS (SELECT id_new, id_old FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY score DESC, id_old ASC) AS rn
        |  FROM cand1) WHERE rn = 1 AND score >= 0.4),
        |adm1 AS (SELECT id FROM u WHERE grp = 'b1'
        |  AND id NOT IN (SELECT id_new FROM best1)),
        |live AS (SELECT id FROM u WHERE grp = 'h'
        |  AND id IN (SELECT id_old FROM best1)
        |  UNION SELECT id FROM adm1),
        |cand2 AS (SELECT a.id AS id_new, b.id AS id_old,
        |  max(round(list_cosine_similarity(ae.v, be.v), 4)) AS score
        | FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig
        | JOIN u ae ON ae.id = a.id JOIN u be ON be.id = b.id
        | WHERE a.grp = 'p' AND b.id IN (SELECT id FROM live)
        | GROUP BY 1, 2),
        |best2 AS (SELECT id_new, id_old, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY id_new ORDER BY score DESC, id_old ASC) AS rn
        |  FROM cand2) WHERE rn = 1 AND score >= 0.4)
        |SELECT p.id, best2.id_old AS dup_of, best2.score AS cos,
        |  best2.id_old IS NOT NULL AS is_dup
        |FROM (SELECT id FROM u WHERE grp = 'p') p
        |LEFT JOIN best2 ON best2.id_new = p.id""".stripMargin,

    // k=1 SemDeDup: centroid = direction of sum(v/|v|) over the non-zero
    // corpus (cosine is scale-invariant, so the raw sum works unnormalized);
    // drop rule = exists a strictly-higher-priority mate at >= tau.
    // `+ 0` on csim: DuckDB's round preserves IEEE -0.0 where Spark's
    // BigDecimal round normalizes it to 0.0 — adding zero makes them agree.
    "q_sem_dedup_k1" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
        |clean AS (SELECT id, v FROM n WHERE nrm > 0),
        |comp AS (SELECT generate_subscripts(v, 1) AS i, unnest(v) / nrm AS x
        |  FROM n WHERE nrm > 0),
        |dims AS (SELECT i, sum(x) AS s FROM comp GROUP BY i),
        |cent AS (SELECT list(s ORDER BY i) AS c FROM dims),
        |scored AS (SELECT cl.id, cl.v, list_cosine_similarity(cl.v, ct.c) AS csim
        |  FROM clean cl CROSS JOIN cent ct),
        |dropped AS (SELECT DISTINCT d.id FROM scored d JOIN scored o
        |  ON (o.csim < d.csim OR (o.csim = d.csim AND o.id < d.id))
        |  WHERE round(list_cosine_similarity(d.v, o.v), 4) >= 0.4)
        |SELECT s.id, 0 AS cell, round(s.csim, 4) + 0 AS csim FROM scored s
        |WHERE s.id NOT IN (SELECT id FROM dropped)
        |UNION ALL
        |SELECT id, -1 AS cell, CAST(NULL AS DOUBLE) AS csim FROM n WHERE nrm <= 0""".stripMargin,

    // numFeatures=1 TF-IDF collapse: tf = token count ([A-Za-z0-9]+
    // matches — RegexTokenizer's pattern), idf = ln((N+1)/(df+1)) with
    // df over the %7-masked side frame; a zero product is NULL (MLlib's
    // toSparse drops zeros), never 0.0
    "q_embed_tfidf_k1" ->
      """WITH tok AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 0
        |       ELSE len(regexp_extract_all(text, '[A-Za-z0-9]+')) END AS tf
        |  FROM documents),
        |stats AS (SELECT count(*) AS n,
        |  sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df FROM tok)
        |SELECT t.doc_id,
        |  CASE WHEN t.tf > 0 AND s.df <> s.n
        |       THEN round(t.tf * ln((s.n + 1.0) / (s.df + 1.0)), 4) END AS tfidf_w
        |FROM tok t CROSS JOIN stats s""".stripMargin,

    // the averaging half of Word2Vec over the dumped fit vectors (same
    // table the Spark side just wrote, selected by the corpus key this
    // query re-derives from its own documents view — the fit has no
    // SQL form, the average does): avg = sum(vec(token)) / n_tokens
    // with an ALL-token denominator (RegexTokenizer lowercases, then
    // [a-z0-9]+); 0-token docs embed to the zero vector. `+ 0` folds
    // DuckDB's -0.0 to 0.0 (Spark's BigDecimal round never emits -0.0
    // — the sem_dedup trick)
    "q_embed_w2v_avg" ->
      s"""WITH wv AS (SELECT word, dim, val
        |           FROM '$W2vAvgVectorsBase/*/*.parquet'
        |           WHERE corpus_key = (
        |             SELECT CAST(COUNT(*) AS VARCHAR) || '_' ||
        |                    CAST(COALESCE(SUM(length(text)), 0) AS VARCHAR)
        |             FROM documents)),
        |dims AS (SELECT unnest(generate_series(0, ${W2vAvgDim - 1})) AS dim),
        |n AS (SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
        |  FROM documents),
        |tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |  FROM documents),
        |s AS (SELECT t.doc_id, w.dim, SUM(w.val) AS sv
        |      FROM tok t JOIN wv w USING (word) GROUP BY 1, 2)
        |SELECT n.doc_id, d.dim,
        |  CASE WHEN n.n_tok = 0 THEN 0.0
        |       ELSE round(COALESCE(s.sv, 0) / n.n_tok, 4) + 0 END AS val
        |FROM n CROSS JOIN dims d
        |LEFT JOIN s ON s.doc_id = n.doc_id AND s.dim = d.dim""".stripMargin,

    // the classifier's scoring half (fit stays rows-only): margin =
    // intercept + Σ count(word)·coef(word) over the dumped per-word
    // coefficient table — the per-word sum equals MLlib's per-bucket
    // sparse dot exactly (bucket-sharing words share a coefficient).
    // Same tokens as RegexTokenizer (lower, [a-z0-9]+); docs with zero
    // tokens score the bare intercept via the LEFT JOIN.
    "q_quality_classifier_score" ->
      s"""WITH cf AS (SELECT word, coef
         |           FROM '$QcCoefBase/*/*.parquet'
         |           WHERE corpus_key = (
         |             SELECT CAST(COUNT(*) AS VARCHAR) || '_' ||
         |                    CAST(COALESCE(SUM(length(text)), 0) AS VARCHAR)
         |             FROM documents)),
         |ic AS (SELECT coef AS b0 FROM cf WHERE word = '__intercept__'),
         |tok AS (SELECT doc_id,
         |  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |  FROM documents),
         |tc AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS c
         |       FROM tok GROUP BY 1, 2),
         |m AS (SELECT t.doc_id, SUM(t.c * cf.coef) AS dot
         |      FROM tc t JOIN cf ON t.word = cf.word GROUP BY 1)
         |SELECT d.doc_id,
         |  round((SELECT b0 FROM ic) + COALESCE(m.dot, 0), 4) AS margin
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,

    "q_ann_fields" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score, label FROM q, e)
        |SELECT qid, id, score, rank, CAST(label AS BIGINT) AS label FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // shared by q_hybrid_search and q_hybrid_index: the persisted form
    // probes every IVF cell and every query-term bucket, so both
    // branches are exact and the fused result is the same frame
    "q_hybrid_search" -> hybridRrfSql,
    "q_hybrid_index" -> hybridRrfSql,

    // both rerank stages in SQL — shared by q_rerank (in-memory first
    // stage) and q_rerank_index (persisted full-probe first stage):
    // both are exact, so the two registered queries must produce the
    // identical frame (the q_hybrid_search/q_hybrid_index precedent)
    "q_rerank" -> rerankSql,
    "q_rerank_index" -> rerankSql,

    // RRF of the dense branch with a BM25-scored sparse branch — the
    // same dense/fusion CTEs as hybridRrfSql, sparse swapped for the
    // q_bm25 formula
    "q_hybrid_bm25" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
         |ds AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e),
         |dr AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank_d FROM ds),
         |dtop AS (SELECT * FROM dr WHERE rank_d <= 10),
         |post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         |         CAST(count(*) AS DOUBLE) AS tf
         |         FROM ($tokDoc)
         |         GROUP BY doc_id, term),
         |qt AS (SELECT DISTINCT doc_id AS qid, term FROM post WHERE doc_id < 5),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
         |dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |        FROM post WHERE term IN (SELECT term FROM qt) GROUP BY term),
         |ss AS (SELECT qt.qid, post.doc_id AS id,
         |      round(sum(ln(1 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) *
         |                (post.tf * 2.2) /
         |                (post.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 4) AS score
         |      FROM post JOIN qt USING (term) JOIN dft USING (term)
         |      JOIN dl ON dl.doc_id = post.doc_id, st
         |      GROUP BY 1, 2),
         |sr AS (SELECT qid, id, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank_s FROM ss),
         |stop AS (SELECT * FROM sr WHERE rank_s <= 10),
         |f AS (SELECT qid, id,
         |      round(coalesce(1.0/(60+rank_d), 0) + coalesce(1.0/(60+rank_s), 0), 6) AS rrf
         |      FROM dtop FULL JOIN stop USING (qid, id))
         |SELECT qid, id, rrf, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id ASC) AS BIGINT) AS rank FROM f)
         |WHERE rank <= 10""".stripMargin,

    // WeightedRanker fusion: dense (1+cos)/2, sparse s/(1+s), 0.7/0.3
    // weights — same branch CTEs as q_hybrid_search
    "q_hybrid_weighted" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
         |ds AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e),
         |dr AS (SELECT qid, id, (1.0 + score) / 2 AS nd,
         |       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank_d FROM ds),
         |dtop AS (SELECT qid, id, nd FROM dr WHERE rank_d <= 10),
         |post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         |         CAST(count(*) AS DOUBLE) AS w
         |         FROM ($tokDoc)
         |         GROUP BY doc_id, term),
         |qpost AS (SELECT doc_id AS qid, term, w AS qw FROM post WHERE doc_id < 5),
         |ss AS (SELECT qpost.qid, post.doc_id AS id, round(sum(post.w * qpost.qw), 4) AS score
         |       FROM post JOIN qpost ON post.term = qpost.term GROUP BY 1, 2),
         |sr AS (SELECT qid, id, greatest(score, 0) / (1.0 + greatest(score, 0)) AS ns,
         |       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank_s FROM ss),
         |stop AS (SELECT qid, id, ns FROM sr WHERE rank_s <= 10),
         |f AS (SELECT qid, id,
         |      round(coalesce(nd, 0) * 0.7 + coalesce(ns, 0) * 0.3, 6) AS wscore
         |      FROM dtop FULL JOIN stop USING (qid, id))
         |SELECT qid, id, wscore, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY wscore DESC, id ASC) AS BIGINT) AS rank FROM f)
         |WHERE rank <= 10""".stripMargin,

    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    "q_ann_ip" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_inner_product(qv, v), 4) AS score FROM q, e)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    "q_ann_l2" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(-list_distance(qv, v), 4) + 0.0 AS score FROM q, e)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // PQ at ksub=1: every subspace codebook is the subspace mean of the
    // (cap-covered) corpus, codes are all zero, and the summed l2 ADC
    // LUT collapses to 2·(q·μ) − ‖μ‖² − ‖q‖² = −‖q − μ‖² — the exact
    // per-subspace expansion Spark evaluates, just re-associated over
    // the full vector. Scores tie across ids, so rank is the id order —
    // the score VALUE carries the cross-engine arithmetic check.
    // full-ksub ADC through the dumped-codebook hand-off: the fit has
    // no SQL form, but given the trained (sub, code, d, val) table the
    // encode (argmin c2 − 2·dot, ties → smaller code) and the LUT-sum
    // ip scoring are recomputed here from scratch — m=8 subspaces,
    // dsub = dim/8, both rounded/ranked exactly as the Spark side
    "q_ann_pq_adc" ->
      s"""WITH cb AS (SELECT sub, code, d, val
         |  FROM '$PqAdcCodebooksBase/*/*.parquet'
         |  WHERE corpus_key = (
         |    SELECT CAST(COUNT(*) AS VARCHAR) || '_' ||
         |           CAST(COALESCE(SUM(vec_id), 0) AS VARCHAR)
         |    FROM embeddings)),
         |cd AS (SELECT e.vec_id AS id, cb.sub, cb.code,
         |         sum(cb.val * cb.val) AS c2,
         |         sum(cb.val * e.embedding[cb.sub * (len(e.embedding) // 8) + cb.d + 1]) AS dt
         |       FROM embeddings e CROSS JOIN cb
         |       GROUP BY 1, 2, 3),
         |codes AS (SELECT id, sub, code FROM (
         |    SELECT id, sub, code, row_number() OVER (
         |      PARTITION BY id, sub ORDER BY c2 - 2*dt ASC, code ASC) AS rn
         |    FROM cd) WHERE rn = 1),
         |lut AS (SELECT e.vec_id AS qid, cb.sub, cb.code,
         |         sum(cb.val * e.embedding[cb.sub * (len(e.embedding) // 8) + cb.d + 1]) AS dt
         |       FROM embeddings e CROSS JOIN cb WHERE e.vec_id < 5
         |       GROUP BY 1, 2, 3),
         |sc AS (SELECT l.qid, c.id, round(sum(l.dt), 4) + 0 AS score
         |       FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
         |       GROUP BY 1, 2)
         |SELECT qid, id, score, rank FROM (
         |  SELECT qid, id, score, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank
         |  FROM sc)
         |WHERE rank <= 10""".stripMargin,

    "q_ann_pq_k1" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e),
        |dims AS (SELECT i, avg(x) AS mu FROM comp GROUP BY i),
        |cent AS (SELECT list(mu ORDER BY i) AS c FROM dims),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id,
        | round(2*list_inner_product(qv, ct.c) - list_inner_product(ct.c, ct.c)
        |       - list_inner_product(qv, qv), 4) + 0 AS score
        | FROM q, e, cent ct)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // IVFADC at nlist=1 + ksub=1: coarse centroid = direction of
    // Σ v/‖v‖ over the non-zero corpus (the q_sem_dedup_k1 centroid),
    // residual codebook = mean residual r̄, and the per-cell l2 LUT sums
    // to 2·(qres·r̄) − ‖r̄‖² − ‖qres‖² with qres = q − centroid.
    // Zero-norm vectors are excluded (ivfFit drops them), mirrored here.
    "q_ann_ivf_pq_k1" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
        |clean AS (SELECT id, v FROM n WHERE nrm > 0),
        |comp AS (SELECT generate_subscripts(v, 1) AS i, unnest(v) / nrm AS x
        |  FROM n WHERE nrm > 0),
        |dims AS (SELECT i, sum(x) AS s FROM comp GROUP BY i),
        |cn AS (SELECT sqrt(sum(s*s)) AS m FROM dims),
        |cent AS (SELECT list(s / cn.m ORDER BY i) AS c FROM dims, cn),
        |rcomp AS (SELECT generate_subscripts(cl.v, 1) AS i, unnest(cl.v) AS x FROM clean cl),
        |rdims AS (SELECT i, avg(x - ct.c[i]) AS mu FROM rcomp, cent ct GROUP BY i),
        |rbar AS (SELECT list(mu ORDER BY i) AS r FROM rdims),
        |q AS (SELECT id AS qid, list_transform(list_zip(v, ct.c), z -> z[1] - z[2]) AS qres
        |  FROM e, cent ct WHERE id < 5),
        |s AS (SELECT qid, cl.id,
        | round(2*list_inner_product(qres, rb.r) - list_inner_product(rb.r, rb.r)
        |       - list_inner_product(qres, qres), 4) + 0 AS score
        | FROM q, clean cl, rbar rb)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // verified minhash pairs (same CTE chain as q_dedup_minhash) fed
    // into reachability: cluster_id = min id reachable in the pair graph
    "q_dedup_cluster" ->
      s"""WITH RECURSIVE $minhashCandCtes,
         |vp AS (SELECT c.id_a, c.id_b
         |       FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |        JOIN sz sa ON sa.doc_id = c.id_a JOIN sz sb ON sb.doc_id = c.id_b
         |       WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
         |$reachClusterSql""".stripMargin,

    // star edges per band bucket (hub = bucket min) instead of verified
    // pairs; components identical to the full bucket graph's
    "q_dedup_cluster_band" ->
      s"""WITH RECURSIVE $minhashSigCtes,
         |hub AS (SELECT band, sig, min(doc_id) AS hub FROM sig GROUP BY band, sig),
         |e0 AS (SELECT DISTINCT h.hub AS a, s.doc_id AS b
         |       FROM sig s JOIN hub h ON s.band = h.band AND s.sig = h.sig WHERE h.hub <> s.doc_id),
         |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |$reachClusterSql""".stripMargin,

    // canonical selection: same verified-pair components as
    // q_dedup_cluster, then per cluster keep (n_chars desc, doc_id asc);
    // unclustered docs are singletons (own id as label)
    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $minhashCandCtes,
         |vp AS (SELECT c.id_a, c.id_b
         |       FROM cand c LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |        JOIN sz sa ON sa.doc_id = c.id_a JOIN sz sb ON sb.doc_id = c.id_b
         |       WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5),
         |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
         |reach AS (SELECT a AS id, a AS r FROM e
         |          UNION SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
         |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |asg AS (SELECT d.doc_id, d.lang, d.n_chars,
         |               coalesce(cl.cluster_id, d.doc_id) AS c
         |        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
         |SELECT doc_id, lang, n_chars FROM (
         | SELECT *, row_number() OVER (PARTITION BY c ORDER BY n_chars DESC, doc_id ASC) AS rn FROM asg)
         |WHERE rn = 1""".stripMargin,

    // 13-char shingles in the md5-slice 32-bit hash space on BOTH
    // engines — hit counts agree bit-for-bit even under collisions
    "q_decontaminate" ->
      s"""WITH s AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, substr(t, i, 13) AS sh
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-12, 1))) AS i FROM ($normDoc)))),
         |b AS (SELECT DISTINCT h FROM s WHERE doc_id < 25)
         |SELECT s.doc_id AS id, count(*) AS hits
         |FROM s JOIN b USING (h) WHERE s.doc_id >= 25 GROUP BY 1""".stripMargin,

    // span-precision contamination: corpus positions whose 13-char
    // shingle hash appears in the benchmark split, islanded — the
    // q_repeated_spans machinery with the duplicate set swapped for
    // the benchmark's shingle set
    "q_contam_spans" ->
      s"""WITH sh AS (SELECT doc_id, i, ('0x' || substr(md5(substr(t, CAST(i AS INT), 13)), 1, 8))::BIGINT AS h
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 12)) AS i FROM ($normDoc) WHERE length(t) >= 13)),
         |bs AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
         |cov AS (SELECT s.doc_id, s.i FROM sh s JOIN bs USING (h) WHERE s.doc_id >= 25),
         |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g FROM cov)
         |SELECT doc_id AS id, CAST(min(i) AS BIGINT) AS span_start,
         | CAST(max(i) + 12 AS BIGINT) AS span_end,
         | CAST(max(i) - min(i) + 13 AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, g
         |HAVING max(i) - min(i) + 13 >= 13""".stripMargin,

    // the surgical removal: every corpus doc survives minus the spans
    // (the q_remove_spans splice, contamination-flagged)
    "q_decontaminate_spans" ->
      s"""WITH sh AS (SELECT doc_id, i, ('0x' || substr(md5(substr(t, CAST(i AS INT), 13)), 1, 8))::BIGINT AS h
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 12)) AS i FROM ($normDoc) WHERE length(t) >= 13)),
         |bs AS (SELECT DISTINCT h FROM sh WHERE doc_id < 25),
         |cov AS (SELECT s.doc_id, s.i FROM sh s JOIN bs USING (h) WHERE s.doc_id >= 25),
         |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g FROM cov),
         |sp AS (SELECT doc_id, min(i) AS s, max(i) + 12 AS e
         |       FROM isl GROUP BY doc_id, g HAVING max(i) - min(i) + 13 >= 13),
         |ch AS (SELECT doc_id, j, substr(t, CAST(j AS INT), 1) AS c
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, length(t))) AS j FROM ($normDoc) WHERE doc_id >= 25)),
         |kept AS (SELECT doc_id, string_agg(c, '' ORDER BY j) AS clean
         |         FROM ch WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = ch.doc_id AND ch.j BETWEEN sp.s AND sp.e)
         |         GROUP BY doc_id)
         |SELECT d.doc_id AS id, coalesce(kept.clean, '') AS clean
         |FROM ($normDoc) d LEFT JOIN kept USING (doc_id)
         |WHERE d.doc_id >= 25""".stripMargin,

    // semantic contamination: per corpus vector, the nearest benchmark
    // vector by rounded cosine, ties to the smallest bench id (the
    // engine-portable argmax). `+ 0` normalizes DuckDB's IEEE -0.0
    // (Spark's BigDecimal round always yields 0.0).
    "q_sem_contam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |           WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) > 0),
        |p AS (SELECT c.vec_id AS id, b.vec_id AS bench_id,
        |        round(list_cosine_similarity(c.v, b.v), 4) + 0 AS cos
        |      FROM e c, e b WHERE c.vec_id >= 5 AND b.vec_id < 5)
        |SELECT id, bench_id, cos FROM (
        |  SELECT id, bench_id, cos,
        |    row_number() OVER (PARTITION BY id ORDER BY cos DESC, bench_id ASC) AS rn
        |  FROM p) WHERE rn = 1""".stripMargin,

    // the clean side: corpus vectors whose nearest benchmark cosine
    // stays under 0.35 (zero-norm corpus rows match nothing and stay)
    "q_decontaminate_sem" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |           WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x*x))) > 0),
        |hit AS (SELECT DISTINCT c.vec_id FROM e c, e b
        |        WHERE c.vec_id >= 5 AND b.vec_id < 5
        |          AND round(list_cosine_similarity(c.v, b.v), 4) >= 0.35)
        |SELECT vec_id, CAST(label AS INT) AS label FROM embeddings
        |WHERE vec_id >= 5 AND vec_id NOT IN (SELECT vec_id FROM hit)""".stripMargin,

    // the report form: totals + hits + 6dp fraction; hits/n divides the
    // same integers in both engines, so the rounded fraction is exact
    "q_contam_score" ->
      s"""WITH s AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, substr(t, i, 13) AS sh
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-12, 1))) AS i FROM ($normDoc)))),
         |b AS (SELECT DISTINCT h FROM s WHERE doc_id < 25),
         |tot AS (SELECT doc_id AS id, count(*) AS n_shingles FROM s WHERE doc_id >= 25 GROUP BY 1),
         |hit AS (SELECT s.doc_id AS id, count(*) AS hits
         |  FROM s JOIN b USING (h) WHERE s.doc_id >= 25 GROUP BY 1)
         |SELECT t.id, t.n_shingles, coalesce(hit.hits, 0) AS hits,
         | round(coalesce(hit.hits, 0) * 1.0 / t.n_shingles, 6) AS frac
         |FROM tot t LEFT JOIN hit ON t.id = hit.id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5('13#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
        |  < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0 WHEN 'de' THEN 0.25 WHEN 'es' THEN 0.1 ELSE 0.0 END * 1000000.0""".stripMargin,

    // mirrors temperatureMixture's arithmetic exactly: q_d ∝ n_d^α,
    // keep_ppm = round(min(1, budget·q_d/n_d)·1e6) — integer admission
    // thresholds, so the hash boundary is exact in both engines
    "q_temperature_mix" ->
      """WITH sizes AS (
        |  SELECT CAST(lang AS VARCHAR) AS stratum, CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |z AS (SELECT SUM(pow(n, 0.5)) AS z FROM sizes),
        |thr AS (
        |  SELECT stratum,
        |    CAST(round(LEAST(1.0, 300 * (pow(n, 0.5) / z.z) / n) * 1000000) AS BIGINT) AS keep_ppm
        |  FROM sizes, z)
        |SELECT d.doc_id AS id, t.stratum, t.keep_ppm
        |FROM documents d JOIN thr t ON CAST(d.lang AS VARCHAR) = t.stratum
        |WHERE ('0x' || substr(md5('23#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < t.keep_ppm""".stripMargin,

    // same arithmetic with n = the stratum's TOKEN sum and a token
    // budget — the ppm boundary stays integer-exact in both engines
    "q_temperature_mix_tokens" ->
      """WITH sizes AS (
        |  SELECT CAST(lang AS VARCHAR) AS stratum,
        |    CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS DOUBLE) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |z AS (SELECT SUM(pow(n, 0.5)) AS z FROM sizes),
        |thr AS (
        |  SELECT stratum,
        |    CAST(round(LEAST(1.0, 8000 * (pow(n, 0.5) / z.z) / n) * 1000000) AS BIGINT) AS keep_ppm
        |  FROM sizes, z)
        |SELECT d.doc_id AS id, t.stratum, t.keep_ppm
        |FROM documents d JOIN thr t ON CAST(d.lang AS VARCHAR) = t.stratum
        |WHERE ('0x' || substr(md5('23#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < t.keep_ppm""".stripMargin,

    "q_shuffle_shards" ->
      """WITH b AS (
        |  SELECT doc_id AS id,
        |    ('0x' || substr(md5('37#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('38#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS ord
        |  FROM documents)
        |SELECT id, shard,
        |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, id) - 1 AS pos
        |FROM b""".stripMargin,

    // phash near-dup: the banded join is pure candidate pruning, so the
    // oracle is the brute all-pairs hamming filter over the same
    // sign-threshold signatures
    "q_phash_dedup" ->
      """WITH sig AS (
        |  SELECT vec_id AS id,
        |    (SELECT CAST(SUM(CASE WHEN embedding[j+1] >= 0.0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
        |     FROM generate_series(0, 15) AS t(j)) AS sig
        |  FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.sig, b.sig)) AS hamming
        |FROM sig a JOIN sig b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 2""".stripMargin,

    // batch-vs-history media dedup: the banded index probe is pure
    // pruning, so the oracle is the brute bipartite hamming filter
    "q_phash_index" -> phashIndexOracle,

    // retirement leaves the index answering like one that never saw
    // the appended segment — the q_phash_index oracle VERBATIM
    "q_phash_retire" -> phashIndexOracle,

    // the phash sighting-window retire: day-1 admissions/touches
    // against the build slice, day-2 against the then-live set,
    // retire = build assets no kept day re-saw, probe = slice 4 +
    // replays vs the survivors. Banding is pure pruning, so brute
    // hamming replays the whole lifecycle.
    "q_phash_seen_retire" ->
      """WITH s0 AS (
        |  SELECT vec_id AS id,
        |    (SELECT CAST(SUM(CASE WHEN embedding[j+1] >= 0.0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
        |     FROM generate_series(0, 15) AS t(j)) AS sig
        |  FROM embeddings),
        |u AS (SELECT id, sig FROM s0 WHERE id % 16 IN (1, 2, 3, 4)
        |      UNION ALL SELECT id + 1000000, sig FROM s0 WHERE id % 32 = 1
        |      UNION ALL SELECT id + 2000000, sig FROM s0 WHERE id % 32 = 3),
        |g AS (SELECT id, sig, CASE WHEN id >= 2000000 THEN 'p'
        |                      WHEN id >= 1000000 THEN 'b1'
        |                      WHEN id % 16 = 1 THEN 'h'
        |                      WHEN id % 16 = 2 THEN 'b1'
        |                      WHEN id % 16 = 3 THEN 'b2'
        |                      ELSE 'p' END AS grp FROM u),
        |ham AS (SELECT a.id AS id_new, b.id AS id_old,
        |          bit_count(xor(a.sig, b.sig)) AS hamming
        |        FROM g a JOIN g b
        |        ON bit_count(xor(a.sig, b.sig)) <= 2 AND a.id <> b.id),
        |dup1 AS (SELECT h2.* FROM ham h2 JOIN g a ON a.id = h2.id_new
        |         JOIN g b ON b.id = h2.id_old
        |         WHERE a.grp = 'b1' AND b.grp = 'h'),
        |adm1 AS (SELECT id FROM g WHERE grp = 'b1'
        |         AND id NOT IN (SELECT id_new FROM dup1)),
        |live1 AS (SELECT id FROM g WHERE grp = 'h' UNION SELECT id FROM adm1),
        |dup2 AS (SELECT h2.* FROM ham h2 JOIN g a ON a.id = h2.id_new
        |         WHERE a.grp = 'b2' AND h2.id_old IN (SELECT id FROM live1)),
        |adm2 AS (SELECT id FROM g WHERE grp = 'b2'
        |         AND id NOT IN (SELECT id_new FROM dup2)),
        |dead AS (SELECT id FROM g WHERE grp = 'h'
        |         AND id NOT IN (SELECT id_old FROM dup1 UNION SELECT id_old FROM dup2)),
        |live AS (SELECT id FROM live1 WHERE id NOT IN (SELECT id FROM dead)
        |         UNION SELECT id FROM adm2)
        |SELECT h2.id_new, h2.id_old, h2.hamming FROM ham h2
        |JOIN g a ON a.id = h2.id_new
        |WHERE a.grp = 'p' AND h2.id_old IN (SELECT id FROM live)""".stripMargin,

    // phash families: the same all-pairs hamming graph, components via
    // the reach CTE, then per-family keep (label desc, id asc) — the
    // q_dedup_canonical selection retargeted at the media signatures
    "q_phash_cluster" ->
      """WITH RECURSIVE sig AS (
        |  SELECT vec_id AS id,
        |    (SELECT CAST(SUM(CASE WHEN embedding[j+1] >= 0.0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT)
        |     FROM generate_series(0, 15) AS t(j)) AS sig
        |  FROM embeddings),
        |vp AS (SELECT a.id AS id_a, b.id AS id_b
        |       FROM sig a JOIN sig b ON a.id < b.id
        |       WHERE bit_count(xor(a.sig, b.sig)) <= 2),
        |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
        |reach AS (SELECT a AS id, a AS r FROM e
        |          UNION SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |asg AS (SELECT m.vec_id AS id, m.label, coalesce(cl.cluster_id, m.vec_id) AS c
        |        FROM embeddings m LEFT JOIN cl ON cl.id = m.vec_id)
        |SELECT id, CAST(label AS BIGINT) AS label FROM (
        | SELECT *, row_number() OVER (PARTITION BY c ORDER BY label DESC, id ASC) AS rn FROM asg)
        |WHERE rn = 1""".stripMargin,

    // step-0 BPE pair distribution: word-frequency-weighted adjacent
    // symbol pairs over char-split words + the </w> terminal (left/right
    // are reserved words in DuckDB — quoted)
    "q_bpe_pairs" ->
      s"""WITH wc AS (SELECT w, COUNT(*) AS n
        |  FROM (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS w FROM ($normDoc)) GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, i, 1) AS "left",
        |         CASE WHEN i = len(w) THEN '</w>' ELSE substr(w, i + 1, 1) END AS "right", n
        |  FROM (SELECT w, n, unnest(generate_series(1, len(w))) AS i FROM wc))
        |SELECT "left", "right", CAST(SUM(n) AS BIGINT) AS freq
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    // the FULL iterative trainer, cross-engine at every step: 12 chained
    // materialized merge rounds (see bpeTrainSql's scaladoc; the Spark
    // side guards against early stop the chain can't model)
    "q_bpe_train" -> bpeTrainSql(BpeTrainSteps),
    "q_bpe_encode" -> bpeEncodeSql(BpeTrainSteps),
    "q_bpe_vocab" -> bpeVocabSql(BpeTrainSteps),
    "q_bpe_tokenize" -> bpeTokenizeSql(BpeTrainSteps),
    "q_bpe_coverage" -> bpeCoverageSql(BpeTrainSteps),

    // subword-budget packing: tokenize's per-doc counts pushed through
    // the pack arithmetic (seed-29 shard hash, per-shard running sum)
    "q_pack_bpe" ->
      s"""WITH ${bpeChain(BpeTrainSteps)},
         |enc AS (SELECT w, regexp_extract_all(s, '«([^»]*)»', 1) AS sy FROM w$BpeTrainSteps),
         |dw AS (SELECT doc_id AS id, wl[i] AS w
         |       FROM (SELECT doc_id, wl, unnest(generate_series(1, len(wl))) AS i
         |             FROM (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS wl FROM ($normDoc)))),
         |cnt AS (SELECT dw.id, CAST(SUM(len(e.sy)) AS BIGINT) AS n_tok
         |        FROM dw JOIN enc e USING (w) GROUP BY dw.id),
         |tk AS (SELECT id, n_tok,
         |  ('0x' || substr(md5('29#' || CAST(id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard
         |  FROM cnt),
         |c AS (SELECT id, shard, n_tok,
         |  sum(n_tok) OVER (PARTITION BY shard ORDER BY id ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
         |  FROM tk)
         |SELECT id, shard, n_tok, CAST(start_tok AS BIGINT) AS start_tok,
         | CAST(floor(start_tok / 2048.0) AS BIGINT) AS seq_id FROM c""".stripMargin,

    // corrupt-then-fix, both halves generated from the shared table
    "q_fix_text" -> {
      val m = T.mojibakeTable.map(_.swap).toMap
      val corrupt =
        s"'${m("“")}' || replace(text, ' ', '${m(" ")}') || '${m("”")}'"
      s"SELECT doc_id, ${fixTextSql(corrupt)} AS clean FROM documents"
    },

    // the first merge rule = argmax of the step-0 distribution with the
    // trainer's tie-break (freq desc, then pair lexicographic)
    "q_bpe_merge1" ->
      s"""WITH wc AS (SELECT w, COUNT(*) AS n
        |  FROM (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS w FROM ($normDoc)) GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, i, 1) AS "left",
        |         CASE WHEN i = len(w) THEN '</w>' ELSE substr(w, i + 1, 1) END AS "right", n
        |  FROM (SELECT w, n, unnest(generate_series(1, len(w))) AS i FROM wc))
        |SELECT 1 AS step, "left", "right", "left" || "right" AS merged,
        |  CAST(SUM(n) AS BIGINT) AS freq
        |FROM pairs GROUP BY "left", "right"
        |ORDER BY freq DESC, "left", "right" LIMIT 1""".stripMargin,

    // discrete quantiles (no interpolation): threshold = smallest score
    // whose cumulative fraction reaches the cut, over the score histogram
    "q_score_buckets" ->
      """WITH sc AS (
        |  SELECT id, score FROM (
        |    SELECT doc_id AS id,
        |      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) AS score
        |    FROM documents) WHERE score IS NOT NULL),
        |hist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY 1),
        |n AS (SELECT SUM(c) AS n FROM hist),
        |cdf AS (SELECT score, SUM(c) OVER (ORDER BY score) / n.n AS f FROM hist, n),
        |t AS (SELECT MIN(CASE WHEN f >= 0.3333 THEN score END) AS t0,
        |             MIN(CASE WHEN f >= 0.6667 THEN score END) AS t1 FROM cdf)
        |SELECT sc.id, sc.score,
        |  CASE WHEN sc.score <= t.t0 THEN 'head'
        |       WHEN sc.score <= t.t1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc, t""".stripMargin,

    "q_holdout_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN ('0x' || substr(md5('17#' || source), 1, 8))::BIGINT % 1000000 < 0.2 * 1000000.0
        |       THEN 'test' ELSE 'train' END AS split
        |FROM documents""".stripMargin,

    // snapshot diff under the exact-dedup text identity (normalized
    // text compare = fingerprint compare): full outer join on id over
    // the same synthesized new snapshot the Spark side builds
    "q_corpus_diff" ->
      s"""WITH o AS ($normDoc),
         |nn AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
         |n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM nn)
         |SELECT coalesce(o.doc_id, n.doc_id) AS id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.t <> n.t THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |FROM o FULL JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // the diff's consumer: quality gate = the q_gopher expression
    // (minWords 20), dedup identity = the normalized text itself
    // (string equality == fingerprint equality), history anti-join +
    // within-batch min-id winner
    "q_crawl_triage" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |nn AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM base WHERE doc_id % 7 <> 0
         |  UNION ALL SELECT doc_id + 1000000, text FROM base WHERE doc_id < 100
         |  UNION ALL SELECT doc_id + 2000000, text || ' fresh twin' FROM base WHERE doc_id < 30
         |  UNION ALL SELECT doc_id + 3000000, text || ' fresh twin' FROM base WHERE doc_id < 30),
         |o AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM base),
         |n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp FROM nn),
         |w AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS ws,
         |  (length(text) - length(replace(text, '#', ''))) +
         |    CAST(floor((length(text) - length(replace(text, '...', ''))) / 3) AS BIGINT) AS sym
         | FROM nn),
         |p AS (SELECT doc_id, (len(ws) > 0 AND len(ws) >= 20 AND len(ws) <= 100000
         |  AND round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / greatest(len(ws), 1), 4) BETWEEN 3 AND 10
         |  AND round(CAST(sym AS DOUBLE) / greatest(len(ws), 1), 4) <= 0.1
         |  AND round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / greatest(len(ws), 1), 4) >= 0.8
         |  AND len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) >= 2) AS pass
         | FROM w),
         |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS id, n.fp AS fpn,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS status
         | FROM o FULL JOIN n ON o.doc_id = n.doc_id),
         |re AS (SELECT d.id, d.fpn FROM d JOIN p ON p.doc_id = d.id
         |       WHERE d.status IN ('added','changed') AND p.pass),
         |up AS (SELECT re.id FROM re
         |       JOIN (SELECT fpn, min(id) AS wid FROM re GROUP BY fpn) w2
         |         ON re.fpn = w2.fpn AND re.id = w2.wid
         |       WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.fp = re.fpn))
         |SELECT d.id, d.status,
         |  CASE WHEN d.status = 'unchanged' THEN 'skip_unchanged'
         |       WHEN d.status = 'removed' THEN 'delete'
         |       WHEN NOT p.pass THEN 'skip_quality'
         |       WHEN up.id IS NOT NULL THEN 'upsert'
         |       ELSE 'skip_duplicate' END AS action
         |FROM d LEFT JOIN p ON p.doc_id = d.id LEFT JOIN up ON up.id = d.id""".stripMargin,

    // token-distribution drift over the same mutation: per-side exact
    // top-20 (tf desc, tok asc), relative frequencies rounded 6dp,
    // missing side = 0; UNION dedups the key set like the distinct
    "q_token_drift" ->
      s"""WITH o AS ($normDoc),
         |nn AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
         |n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM nn),
         |tko AS (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS tok FROM o),
         |tkn AS (SELECT unnest(regexp_extract_all(t, '[A-Za-z0-9]+')) AS tok FROM n),
         |fo AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf_old FROM tko GROUP BY tok),
         |fn AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf_new FROM tkn GROUP BY tok),
         |keys AS (SELECT tok FROM (SELECT tok FROM fo ORDER BY tf_old DESC, tok ASC LIMIT 20)
         |         UNION
         |         SELECT tok FROM (SELECT tok FROM fn ORDER BY tf_new DESC, tok ASC LIMIT 20)),
         |tot AS (SELECT (SELECT coalesce(sum(tf_old), 0) FROM fo) AS t_old,
         |               (SELECT coalesce(sum(tf_new), 0) FROM fn) AS t_new),
         |p AS (SELECT k.tok, coalesce(fo.tf_old, 0) AS tf_old,
         |        coalesce(fn.tf_new, 0) AS tf_new,
         |        round(CAST(coalesce(fo.tf_old, 0) AS DOUBLE) / CAST(greatest(t_old, 1) AS DOUBLE), 6) AS p_old,
         |        round(CAST(coalesce(fn.tf_new, 0) AS DOUBLE) / CAST(greatest(t_new, 1) AS DOUBLE), 6) AS p_new
         |      FROM keys k LEFT JOIN fo USING (tok) LEFT JOIN fn USING (tok), tot)
         |SELECT tok, tf_old, tf_new, p_old, p_new,
         |  round(p_new - p_old, 6) AS delta FROM p""".stripMargin,

    // per-doc shingle novelty vs the pre-mutation snapshot: distinct
    // 13-char shingle hashes of each new doc absent from ALL old docs
    "q_novelty" ->
      s"""WITH o AS ($normDoc),
         |nn AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 100),
         |n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM nn),
         |so AS (SELECT DISTINCT ('0x' || substr(md5(substr(t, i, 13)), 1, 8))::BIGINT AS h
         |  FROM (SELECT t, unnest(generate_series(1, greatest(length(t)-12, 1))) AS i FROM o)),
         |sn AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(substr(t, i, 13)), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-12, 1))) AS i FROM n)),
         |g AS (SELECT sn.doc_id, count(*) AS n_shingles,
         |        sum(CASE WHEN so.h IS NULL THEN 1 ELSE 0 END) AS n_novel
         |      FROM sn LEFT JOIN so ON sn.h = so.h GROUP BY sn.doc_id)
         |SELECT doc_id AS id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_novel AS BIGINT) AS n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_shingles, 4) AS novelty_rate
         |FROM g""".stripMargin,

    // per-dimension centroid drift across the vector-side mutation:
    // pure re-weighting (drop %7, double-weight <50), so both engines
    // average the SAME component multiset — only sum order differs,
    // absorbed by the 6dp round. `+ 0` everywhere a rounded value can
    // be a tiny negative: the q_sem_dedup_k1 -0.0 lesson
    "q_embed_drift" ->
      """WITH o AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 7 <> 0
        |      UNION ALL
        |      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 50),
        |om AS (SELECT dim, avg(x) AS m FROM (
        |        SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM o) GROUP BY dim),
        |nm AS (SELECT dim, avg(x) AS m FROM (
        |        SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM n) GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, round(om.m, 6) + 0 AS mean_old,
        |  round(nm.m, 6) + 0 AS mean_new, round(nm.m - om.m, 6) + 0 AS delta
        |FROM om JOIN nm USING (dim)""".stripMargin,

    // the per-stratum drill-down of the same mutation: label survives
    // both mutation arms, so the join mirrors the full-outer exactly
    "q_embed_drift_by" ->
      """WITH o AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 7 <> 0
        |      UNION ALL
        |      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 50),
        |om AS (SELECT stratum, dim, avg(x) AS m FROM (
        |        SELECT label AS stratum, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM o)
        |       GROUP BY stratum, dim),
        |nm AS (SELECT stratum, dim, avg(x) AS m FROM (
        |        SELECT label AS stratum, generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM n)
        |       GROUP BY stratum, dim)
        |SELECT stratum, CAST(dim AS BIGINT) AS dim, round(om.m, 6) + 0 AS mean_old,
        |  round(nm.m, 6) + 0 AS mean_new, round(nm.m - om.m, 6) + 0 AS delta
        |FROM om FULL JOIN nm USING (stratum, dim)""".stripMargin,

    // the one-row dashboard: counts, mean norms, centroid cosine
    "q_embed_drift_summary" ->
      """WITH o AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 7 <> 0
        |      UNION ALL
        |      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 50),
        |os AS (SELECT CAST(count(*) AS BIGINT) AS n_old,
        |         avg(sqrt(list_sum(list_transform(v, x -> x*x)))) AS nrm FROM o),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_new,
        |         avg(sqrt(list_sum(list_transform(v, x -> x*x)))) AS nrm FROM n),
        |oc AS (SELECT list(m ORDER BY dim) AS c FROM (
        |        SELECT dim, avg(x) AS m FROM (
        |          SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM o) GROUP BY dim)),
        |nc AS (SELECT list(m ORDER BY dim) AS c FROM (
        |        SELECT dim, avg(x) AS m FROM (
        |          SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM n) GROUP BY dim))
        |SELECT os.n_old, ns.n_new,
        |  round(os.nrm, 6) + 0 AS mean_norm_old, round(ns.nrm, 6) + 0 AS mean_norm_new,
        |  round(ns.nrm - os.nrm, 6) + 0 AS norm_delta,
        |  round(list_cosine_similarity(oc.c, nc.c), 6) + 0 AS centroid_cos
        |FROM os, ns, oc, nc""".stripMargin,

    // the mixture table: alpha-weights over per-lang token mass
    // (q_tokens' raw-text tokenizer), budget-scaled plans, epochs =
    // rounded-plan / mass at 4dp
    "q_epoch_plan" ->
      """WITH s AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS n_tokens
        | FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |z AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM s)
        |SELECT stratum, n_docs, n_tokens,
        |  round(pow(CAST(n_tokens AS DOUBLE), 0.5) / z, 6) AS weight,
        |  CAST(round(2000000 * pow(CAST(n_tokens AS DOUBLE), 0.5) / z) AS BIGINT) AS planned_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    round(CAST(round(2000000 * pow(CAST(n_tokens AS DOUBLE), 0.5) / z) AS DOUBLE) / n_tokens, 4)
        |  END AS epochs
        |FROM s, z""".stripMargin,

    // the plan materialized: floor(epochs) passes per doc + one more
    // when the seed-41 hash admits the ppm fraction; epochs<1 strata
    // subsample, zero-token strata emit nothing
    "q_epoch_apply" ->
      """WITH s AS (SELECT lang AS stratum,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS n_tokens
        | FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |z AS (SELECT sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) AS z FROM s),
        |e AS (SELECT stratum, n_tokens,
        |  CASE WHEN n_tokens > 0 THEN
        |    round(CAST(CAST(round(2000000 * pow(CAST(n_tokens AS DOUBLE), 0.5) / z) AS BIGINT) AS DOUBLE) / n_tokens, 4)
        |  END AS epochs
        | FROM s, z),
        |p AS (SELECT stratum, CAST(floor(epochs) AS INT) AS fullp,
        |  CAST(round((epochs - floor(epochs)) * 1000000.0) AS BIGINT) AS frac_ppm
        | FROM e WHERE epochs IS NOT NULL),
        |j AS (SELECT d.doc_id, d.lang AS stratum, p.fullp +
        |  CASE WHEN ('0x' || substr(md5('41#' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < p.frac_ppm
        |       THEN 1 ELSE 0 END AS n
        | FROM documents d JOIN p ON p.stratum = d.lang)
        |SELECT doc_id AS id, stratum,
        |  CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS epoch
        |FROM j WHERE n > 0""".stripMargin,

    // n_tok over raw text (the q_tokens tokenizer); vocabulary over the
    // normalized lowercase text (the dedup-side tokenizer) — mirrors
    // Stats.corpusStatsExact exactly
    "q_corpus_stats" ->
      s"""WITH tk AS (SELECT lang, CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS ntok FROM documents),
         |v AS (SELECT d.lang, count(DISTINCT tok) AS vocab
         |      FROM (SELECT doc_id, lang FROM documents) d
         |      JOIN ($tokDoc) u
         |        ON u.doc_id = d.doc_id
         |      GROUP BY d.lang)
         |SELECT tk.lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  round(avg(ntok), 4) AS mean_tokens, min(ntok) AS min_tokens, max(ntok) AS max_tokens,
         |  CAST(coalesce(any_value(v.vocab), 0) AS BIGINT) AS vocab
         |FROM tk LEFT JOIN v ON tk.lang = v.lang
         |GROUP BY tk.lang""".stripMargin,

    // the exact half of the corpus profile (doc counts + mean token
    // length); the sketch half (HLL vocab, approx percentiles) stays
    // rows-only in q_corpus_profile — its internals have no SQL form
    "q_corpus_profile_exact" ->
      """SELECT source, count(*) AS n_docs,
        | round(avg(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE)), 4) AS mean_tokens
        |FROM documents GROUP BY source""".stripMargin,

    "q_top_tokens" ->
      s"""WITH tf AS (SELECT d.lang, u.tok, count(*) AS tf
         |  FROM documents d
         |  JOIN ($tokDoc) u
         |    ON u.doc_id = d.doc_id
         |  GROUP BY 1, 2)
         |SELECT lang, tok, CAST(tf AS BIGINT) AS tf, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY tf DESC, tok ASC) AS BIGINT) AS rank FROM tf)
         |WHERE rank <= 20""".stripMargin,

    // the v2 flagship: every stage's oracle retargeted at the previous
    // stage's survivor CTE — corrupt+fix (shared mojibake table) →
    // URL re-fetch collapse (synthUrlV2's -20 page offset) → gopher →
    // exact-history gate (plain fp join; the bloom is pure pruning;
    // LEFT JOIN, not NOT IN — a NULL fp must keep the row like Spark's
    // null-key join does) → reference LM over the EN survivors → CDF
    // buckets → drop tail → α=0.5 mixture (budget 60, seed 23) →
    // shuffle shards (seeds 37/38)
    "q_curation_pipeline_v2" -> {
      val m2 = T.mojibakeTable.map(_.swap).toMap
      val corruptV2 = s"replace(text, ' ', '${m2(" ")}')"
      s"""WITH fx AS (SELECT doc_id, lang, source, n_chars,
         |  ${fixTextSql(corruptV2)} AS text FROM documents),
         |un AS (SELECT doc_id,
         |  regexp_replace(lower(regexp_extract(s4, '^([^/]*)', 1)) ||
         |    regexp_extract(s4, '^[^/]*(.*)$$', 1), '/+$$', '') AS url_norm
         |  FROM (SELECT doc_id,
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |     CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
         |     CASE WHEN doc_id % 4 = 0 THEN 'www.' WHEN doc_id % 4 = 1 THEN 'WWW.' ELSE '' END ||
         |     CASE WHEN doc_id % 8 < 4 THEN source ELSE upper(source) END ||
         |     '.com/page/' || CAST(CASE WHEN doc_id % 100 < 20 AND doc_id >= 20 THEN doc_id - 20 ELSE doc_id END AS VARCHAR) ||
         |     CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         |     CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=1' ELSE '' END ||
         |     CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END,
         |     '#.*$$', ''), '\\?.*$$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |     '(?i)^www\\.', '') AS s4
         |   FROM fx)),
         |uw AS (SELECT min(doc_id) AS doc_id FROM un GROUP BY url_norm),
         |d1 AS (SELECT fx.* FROM fx JOIN uw USING (doc_id)),
         |gw AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS ws,
         |  (length(text) - length(replace(text, '#', ''))) +
         |    CAST(floor((length(text) - length(replace(text, '...', ''))) / 3) AS BIGINT) AS sym
         | FROM d1),
         |gok AS (SELECT doc_id FROM (
         |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |   round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / len(ws), 4) AS mean_word_len,
         |   round(CAST(sym AS DOUBLE) / len(ws), 4) AS symbol_ratio,
         |   round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 4) AS alpha_ratio,
         |   CAST(len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS stop_hits
         |  FROM gw WHERE len(ws) > 0)
         | WHERE n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 3 AND mean_word_len <= 10
         |   AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2),
         |d2 AS (SELECT d1.* FROM d1 JOIN gok USING (doc_id)),
         |hist AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |         FROM documents WHERE doc_id < 50),
         |d3 AS (SELECT d2.* FROM d2
         |       LEFT JOIN hist ON md5(trim(regexp_replace(lower(d2.text), '\\s+', ' ', 'g'))) = hist.fp
         |       WHERE hist.fp IS NULL),
         |n3 AS (SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM d3),
         |tlr AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l FROM n3 WHERE lang = 'en'),
         |tkr AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tlr)),
         |dbr AS (SELECT doc_id, prev, tok, CAST(count(*) AS DOUBLE) AS c FROM tkr GROUP BY 1, 2, 3),
         |cb AS (SELECT prev, tok, sum(c) AS cb FROM dbr GROUP BY 1, 2),
         |cu AS (SELECT prev, sum(c) AS cu FROM dbr GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM dbr),
         |tl AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l FROM n3),
         |tk AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS tok
         |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tl)),
         |db AS (SELECT doc_id, prev, tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY 1, 2, 3),
         |sc0 AS (SELECT db.doc_id AS id,
         |  round(sum(c * -ln((COALESCE(cb.cb, 0) + 1.0) / (COALESCE(cu.cu, 0) + 1.0 * v.v))) / sum(c), 4) AS score
         |  FROM db LEFT JOIN cb USING (prev, tok) LEFT JOIN cu USING (prev) CROSS JOIN v
         |  GROUP BY db.doc_id),
         |sc AS (SELECT id, score FROM sc0 WHERE score IS NOT NULL),
         |histo AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY 1),
         |nn AS (SELECT SUM(c) AS n FROM histo),
         |cdf AS (SELECT score, SUM(c) OVER (ORDER BY score) / nn.n AS f FROM histo, nn),
         |th AS (SELECT MIN(CASE WHEN f >= 0.3333 THEN score END) AS t0,
         |             MIN(CASE WHEN f >= 0.6667 THEN score END) AS t1 FROM cdf),
         |kept AS (SELECT sc.id, d3.lang FROM sc JOIN d3 ON d3.doc_id = sc.id, th
         |         WHERE CASE WHEN sc.score <= th.t0 THEN 'head'
         |                    WHEN sc.score <= th.t1 THEN 'middle'
         |                    ELSE 'tail' END <> 'tail'),
         |sizes AS (SELECT CAST(lang AS VARCHAR) AS stratum, CAST(COUNT(*) AS DOUBLE) AS n
         |          FROM kept WHERE lang IS NOT NULL GROUP BY 1),
         |z AS (SELECT SUM(pow(n, 0.5)) AS z FROM sizes),
         |thr AS (SELECT stratum,
         |    CAST(round(LEAST(1.0, 60 * (pow(n, 0.5) / z.z) / n) * 1000000) AS BIGINT) AS keep_ppm
         |  FROM sizes, z),
         |mix AS (SELECT k.id FROM kept k JOIN thr t ON CAST(k.lang AS VARCHAR) = t.stratum
         |        WHERE ('0x' || substr(md5('23#' || CAST(k.id AS VARCHAR)), 1, 8))::BIGINT % 1000000 < t.keep_ppm),
         |sh AS (SELECT id,
         |    ('0x' || substr(md5('37#' || CAST(id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
         |    ('0x' || substr(md5('38#' || CAST(id AS VARCHAR)), 1, 8))::BIGINT AS ord
         |  FROM mix)
         |SELECT id, shard, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, id) - 1 AS pos
         |FROM sh""".stripMargin
    },

    "q_pack_sequences" ->
      """WITH tk AS (SELECT doc_id AS id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
        |  ('0x' || substr(md5('29#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS shard
        | FROM documents),
        |c AS (SELECT id, shard, n_tok,
        |  sum(n_tok) OVER (PARTITION BY shard ORDER BY id ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
        | FROM tk)
        |SELECT id, shard, n_tok, CAST(start_tok AS BIGINT) AS start_tok,
        | CAST(floor(start_tok / 1024.0) AS BIGINT) AS seq_id FROM c""".stripMargin,

    // Gopher rules, word = \s+-delimited (not the [A-Za-z0-9]+ token
    // contract — Gopher counts raw words); ratios rounded 4dp
    "q_gopher" ->
      """WITH w AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS ws,
        |  (length(text) - length(replace(text, '#', ''))) +
        |    CAST(floor((length(text) - length(replace(text, '...', ''))) / 3) AS BIGINT) AS sym
        | FROM documents),
        |m AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / len(ws), 4) AS mean_word_len,
        |  round(CAST(sym AS DOUBLE) / len(ws), 4) AS symbol_ratio,
        |  round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 4) AS alpha_ratio,
        |  CAST(len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS stop_hits
        | FROM w WHERE len(ws) > 0)
        |SELECT doc_id AS id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
        | (n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 3 AND mean_word_len <= 10
        |  AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2) AS pass
        |FROM m""".stripMargin,

    // C4 rules over the same synthesized page the Spark side builds;
    // line keep = terminal punct AND >=3 words AND no 'javascript'
    "q_c4_filter" ->
      """WITH synth AS (SELECT doc_id,
        |  substr(text, 1, 60) || '.' || chr(10) ||
        |  substr(text, 61, 40) || chr(10) ||
        |  CASE WHEN doc_id % 9 = 0 THEN 'please enable javascript to view this page.'
        |       ELSE 'a perfectly ordinary closing sentence.' END || chr(10) ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
        |       ELSE 'the final line has plenty of words.' END || chr(10) ||
        |  CASE WHEN doc_id % 11 = 0 THEN 'function() { return 1; }'
        |       ELSE 'no braces to see here.' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'frak appears right here.'
        |       ELSE '' END AS text
        | FROM documents),
        |ls AS (SELECT doc_id, text,
        |  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |              x -> len(x) > 0) AS ls
        | FROM synth),
        |m AS (SELECT doc_id, ls,
        |  list_filter(ls, l -> regexp_matches(l, '[.!?"]$')
        |    AND len(list_filter(regexp_split_to_array(l, '\s+'), w -> len(w) > 0)) >= 3
        |    AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS kept,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> list_contains(['frak'], w))) > 0 AS has_bad_word
        | FROM ls)
        |SELECT doc_id AS id, CAST(len(ls) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS n_kept,
        | array_to_string(kept, chr(10)) AS clean,
        | has_lorem, has_brace, has_bad_word,
        | (len(kept) >= 3 AND NOT has_lorem AND NOT has_brace AND NOT has_bad_word) AS pass
        |FROM m""".stripMargin,

    // URL dedup over the same synthesized crawl URL the Spark side
    // builds; normalization mirrored step for step (fragment, query,
    // scheme, www, host lowercase, trailing slash)
    "q_url_dedup" ->
      s"""WITH n AS ($urlNormDoc)
         |SELECT min(doc_id) AS doc_id, url_norm FROM n GROUP BY url_norm""".stripMargin,

    // per-domain top-5 by n_chars (ties -> min doc_id); domain = last
    // two host labels after port strip
    "q_domain_cap" ->
      s"""WITH n AS ($urlNormDoc),
         |h AS (SELECT doc_id, n_chars,
         |  regexp_replace(regexp_extract(url_norm, '^([^/]*)', 1), ':\\d+$$', '') AS host
         | FROM n),
         |d AS (SELECT doc_id, n_chars,
         |  CASE WHEN regexp_matches(host, '\\.')
         |       THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |       ELSE host END AS domain
         | FROM h),
         |r AS (SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY n_chars DESC NULLS LAST, doc_id) AS BIGINT) AS rank
         | FROM d)
         |SELECT doc_id, domain, rank FROM r WHERE rank <= 5""".stripMargin,

    // the ledger's greedy batch chain equals one global per-domain rank
    // over (arrival batch = doc_id % 4, quality desc, id asc), capped
    // at 3 — first-come-first-admitted across batches
    "q_domain_cap_ledger" ->
      s"""WITH n AS ($urlNormDoc),
         |h AS (SELECT doc_id, n_chars,
         |  regexp_replace(regexp_extract(url_norm, '^([^/]*)', 1), ':\\d+$$', '') AS host
         | FROM n),
         |d AS (SELECT doc_id, n_chars,
         |  CASE WHEN regexp_matches(host, '\\.')
         |       THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |       ELSE host END AS domain
         | FROM h),
         |r AS (SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY doc_id % 4 ASC, n_chars DESC NULLS LAST, doc_id ASC) AS BIGINT) AS rnk
         | FROM d)
         |SELECT doc_id AS id, domain, (rnk <= 3) AS admitted,
         |  CASE WHEN rnk <= 3 THEN rnk END AS admitted_rank FROM r""".stripMargin,

    // budget regeneration: the chain's admissions from batches 1-3 are
    // immutable (rnk computed over ALL four batches — batch 0's
    // spending shaped them), batch 0's segment retires, and its docs
    // re-judge against the surviving per-domain counts
    "q_domain_cap_retire" ->
      s"""WITH n AS ($urlNormDoc),
         |h AS (SELECT doc_id, n_chars,
         |  regexp_replace(regexp_extract(url_norm, '^([^/]*)', 1), ':\\d+$$', '') AS host
         | FROM n),
         |d AS (SELECT doc_id, n_chars,
         |  CASE WHEN regexp_matches(host, '\\.')
         |       THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |       ELSE host END AS domain
         | FROM h),
         |r AS (SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY doc_id % 4 ASC, n_chars DESC NULLS LAST, doc_id ASC) AS BIGINT) AS rnk
         | FROM d),
         |c AS (SELECT domain, CAST(count(*) AS BIGINT) AS taken
         |      FROM r WHERE rnk <= 3 AND doc_id % 4 <> 0 GROUP BY domain),
         |p AS (SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY n_chars DESC NULLS LAST, doc_id ASC) AS BIGINT) AS brnk
         | FROM d WHERE doc_id % 4 = 0)
         |SELECT p.doc_id AS id, p.domain,
         |  (p.brnk + coalesce(c.taken, 0) <= 3) AS admitted,
         |  CASE WHEN p.brnk + coalesce(c.taken, 0) <= 3
         |       THEN p.brnk + coalesce(c.taken, 0) END AS admitted_rank
         |FROM p LEFT JOIN c USING (domain)""".stripMargin,

    // within-doc line dedup over the same synthesized 3-segment doc:
    // group to first occurrence per (doc, segment), reassemble in order
    "q_dedup_lines" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 80) || chr(10) || md5(CAST(doc_id AS VARCHAR)) || chr(10) || substr(text, 1, 80) AS t FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS segs FROM d),
        |e AS (SELECT doc_id, i, segs[i] AS seg
        |      FROM (SELECT doc_id, segs, unnest(generate_series(1, len(segs))) AS i FROM l)),
        |f AS (SELECT doc_id, seg, min(i) AS i FROM e GROUP BY 1, 2)
        |SELECT doc_id AS id, string_agg(seg, chr(10) ORDER BY i) AS clean
        |FROM f GROUP BY doc_id""".stripMargin,

    // cross-doc line-frequency filter over the synthesized 3-line doc:
    // drop lines present in >= 2 DISTINCT docs, reassemble survivors in
    // order; every doc keeps a row (clean = '' when fully boilerplate)
    "q_dedup_lines_corpus" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 60) || chr(10) ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'boilerplate footer line' ELSE md5(CAST(doc_id AS VARCHAR)) END
        |  || chr(10) || substr(text, 61, 60) AS t FROM documents),
        |e AS (SELECT doc_id, i, segs[i] AS line
        |      FROM (SELECT doc_id, segs, unnest(generate_series(1, len(segs))) AS i
        |            FROM (SELECT doc_id, string_split(t, chr(10)) AS segs FROM d))),
        |hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM e) GROUP BY line HAVING count(*) >= 2),
        |kept AS (SELECT doc_id, i, line FROM e WHERE line NOT IN (SELECT line FROM hot)),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean FROM kept GROUP BY doc_id)
        |SELECT d.doc_id AS id, coalesce(r.clean, '') AS clean
        |FROM d LEFT JOIN r ON r.doc_id = d.doc_id""".stripMargin,

    // the index path: history (odd docs) df + batch (even docs) df is
    // whole-corpus df, so the oracle is the corpus filter + parity cut
    "q_dedup_lines_index" -> linesIndexOracle,

    // retirement restores EXACTLY the never-appended index: build on
    // odds + append evens + retire evens must probe like build-on-odds
    // alone — the same oracle, verbatim
    "q_dedup_lines_retire" -> linesIndexOracle,

    // fingerprint takedown: live history = the first-occurrence fp
    // table minus every text a %3 doc carries; id-offset copies of all
    // docs probe against it
    "q_exact_takedown" ->
      s"""WITH nrm AS ($normDoc),
         |fps AS (SELECT t, min(doc_id) AS keep_id FROM nrm GROUP BY t),
         |dead AS (SELECT DISTINCT t FROM nrm WHERE doc_id % 3 = 0),
         |live AS (SELECT fps.t, fps.keep_id FROM fps
         |         WHERE fps.t NOT IN (SELECT t FROM dead))
         |SELECT n.doc_id + 500000 AS id, live.keep_id AS first_id,
         |  (live.keep_id IS NOT NULL) AS is_dup
         |FROM nrm n LEFT JOIN live ON n.t = live.t""".stripMargin,

    // budget sampling: the oracle's single per-stratum running sum
    // equals the distributed bucket-offset + local-window form by
    // construction (same (hash, id) total order)
    "q_budget_sample" ->
      """WITH tk AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
        |  ('0x' || substr(md5('41#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        | FROM documents WHERE lang IN ('en', 'zh')),
        |c AS (SELECT doc_id, lang, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM tk)
        |SELECT doc_id AS id, lang AS stratum, n_tok, CAST(cum AS BIGINT) AS cum_tok
        |FROM c WHERE cum <= CASE lang WHEN 'en' THEN 20000 ELSE 15000 END""".stripMargin,

    // the flagship chain: each stage is the corresponding per-operator
    // oracle retargeted at the previous stage's survivor CTE — page
    // synth (dup footer) -> line dedup -> gopher -> decontaminate ->
    // minhash clusters -> canonical -> budget fill
    "q_curation_pipeline" ->
      """WITH RECURSIVE
        |page AS (SELECT doc_id, lang, n_chars,
        |  text || chr(10) || 'subscribe to our newsletter for updates.'
        |       || chr(10) || 'subscribe to our newsletter for updates.' AS text
        | FROM documents),
        |lsegs AS (SELECT doc_id, string_split(text, chr(10)) AS segs FROM page),
        |lexp AS (SELECT doc_id, i, segs[i] AS seg
        |         FROM (SELECT doc_id, segs, unnest(generate_series(1, len(segs))) AS i FROM lsegs)),
        |lfirst AS (SELECT doc_id, seg, min(i) AS i FROM lexp GROUP BY 1, 2),
        |d1 AS (SELECT f.doc_id, d.lang, d.n_chars,
        |       string_agg(f.seg, chr(10) ORDER BY f.i) AS text
        |       FROM lfirst f JOIN documents d USING (doc_id)
        |       GROUP BY f.doc_id, d.lang, d.n_chars),
        |gw AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS ws,
        |  (length(text) - length(replace(text, '#', ''))) +
        |    CAST(floor((length(text) - length(replace(text, '...', ''))) / 3) AS BIGINT) AS sym
        | FROM d1),
        |gok AS (SELECT doc_id FROM (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |   round(CAST(list_aggregate(list_transform(ws, x -> len(x)), 'sum') AS DOUBLE) / len(ws), 4) AS mean_word_len,
        |   round(CAST(sym AS DOUBLE) / len(ws), 4) AS symbol_ratio,
        |   round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 4) AS alpha_ratio,
        |   CAST(len(list_filter(ws, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS stop_hits
        |  FROM gw WHERE len(ws) > 0)
        | WHERE n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 3 AND mean_word_len <= 10
        |   AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND stop_hits >= 2),
        |d2 AS (SELECT d1.* FROM d1 JOIN gok USING (doc_id)),
        |n2 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM d2),
        |nb AS (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |       FROM documents WHERE doc_id < 25),
        |cs AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(substr(t, CAST(i AS INT), 30)), 1, 8))::BIGINT AS h
        |       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-29, 1))) AS i
        |             FROM n2 WHERE doc_id >= 25)),
        |bs AS (SELECT DISTINCT ('0x' || substr(md5(substr(t, CAST(i AS INT), 30)), 1, 8))::BIGINT AS h
        |       FROM (SELECT t, unnest(generate_series(1, greatest(length(t)-29, 1))) AS i FROM nb)),
        |cont AS (SELECT DISTINCT doc_id FROM cs JOIN bs USING (h)),
        |d3 AS (SELECT d2.* FROM d2 WHERE d2.doc_id >= 25
        |       AND d2.doc_id NOT IN (SELECT doc_id FROM cont)),
        |n3 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM d3),
        |psh0 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h
        |         FROM (SELECT doc_id, substr(t, i, 8) AS sh
        |               FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-7, 1))) AS i FROM n3))),
        |psh AS (SELECT s.doc_id, s.h FROM psh0 s
        |        JOIN (SELECT h FROM psh0 GROUP BY h HAVING count(*) <= 100) k ON s.h = k.h),
        |pmh AS (SELECT doc_id, seed, min((h * (seed*2 + 3) + (seed*7 + 1)) % 4294967291) AS mh
        |        FROM psh, (SELECT unnest(generate_series(0, 11)) AS seed) GROUP BY doc_id, seed),
        |psig AS (SELECT doc_id, CAST(seed // 3 AS INT) AS band,
        |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS sig FROM pmh GROUP BY doc_id, band),
        |pcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |          FROM psig a JOIN psig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |psz AS (SELECT doc_id, count(*) AS sz FROM psh GROUP BY doc_id),
        |pint AS (SELECT c.id_a, c.id_b, count(*) AS i
        |         FROM pcand c JOIN psh a ON a.doc_id = c.id_a JOIN psh b ON b.doc_id = c.id_b AND a.h = b.h
        |         GROUP BY 1, 2),
        |vp AS (SELECT c.id_a, c.id_b
        |       FROM pcand c LEFT JOIN pint i ON i.id_a = c.id_a AND i.id_b = c.id_b
        |        JOIN psz sa ON sa.doc_id = c.id_a JOIN psz sb ON sb.doc_id = c.id_b
        |       WHERE round(CAST(coalesce(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - coalesce(i.i, 0)), 4) >= 0.5),
        |e AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
        |reach AS (SELECT a AS id, a AS r FROM e
        |          UNION SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |asg AS (SELECT p.doc_id, p.lang, p.n_chars, p.text,
        |               coalesce(cl.cluster_id, p.doc_id) AS c
        |        FROM d3 p LEFT JOIN cl ON cl.id = p.doc_id),
        |d4 AS (SELECT doc_id, lang, text FROM (
        |        SELECT *, row_number() OVER (PARTITION BY c ORDER BY n_chars DESC, doc_id ASC) AS rn FROM asg)
        |       WHERE rn = 1),
        |tk AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_tok,
        |  ('0x' || substr(md5('41#' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        | FROM d4 WHERE lang IN ('en', 'zh')),
        |cm AS (SELECT doc_id, lang, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM tk)
        |SELECT doc_id AS id, lang AS stratum, n_tok, CAST(cum AS BIGINT) AS cum_tok
        |FROM cm WHERE cum <= CASE lang WHEN 'en' THEN 4000 ELSE 3000 END""".stripMargin,

    // add-1 bigram LM over the shared tokenizer, scored structurally
    // identically on both engines (per-doc bigram counts, then
    // sum(c·-ln p)/sum(c)); '<s>' start marker can't collide with
    // [A-Za-z0-9]+ tokens; xent rounded 4dp
    "q_perplexity" -> perplexitySql,

    // reference-trained LM scoring the whole corpus: model CTEs over the
    // EN slice, LEFT-join scoring with COALESCE-0 unseen counts
    "q_perplexity_ref" ->
      s"""WITH tlr AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l
         |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents WHERE lang = 'en')),
         |tkr AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS tok
         |        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tlr)),
         |dbr AS (SELECT doc_id, prev, tok, CAST(count(*) AS DOUBLE) AS c FROM tkr GROUP BY 1, 2, 3),
         |cb AS (SELECT prev, tok, sum(c) AS cb FROM dbr GROUP BY 1, 2),
         |cu AS (SELECT prev, sum(c) AS cu FROM dbr GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM dbr),
         |tl AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l FROM ($normDoc)),
         |tk AS (SELECT doc_id, CASE WHEN i = 1 THEN '<s>' ELSE l[i-1] END AS prev, l[i] AS tok
         |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tl)),
         |db AS (SELECT doc_id, prev, tok, CAST(count(*) AS DOUBLE) AS c FROM tk GROUP BY 1, 2, 3)
         |SELECT db.doc_id AS id, CAST(sum(c) AS BIGINT) AS n_tok,
         | round(sum(c * -ln((COALESCE(cb.cb, 0) + 1.0) / (COALESCE(cu.cu, 0) + 1.0 * v.v))) / sum(c), 4) AS xent
         |FROM db LEFT JOIN cb USING (prev, tok) LEFT JOIN cu USING (prev) CROSS JOIN v
         |GROUP BY db.doc_id""".stripMargin,

    // the CCNet recipe end-to-end: the bigram-LM cross-entropy above →
    // head/middle/tail by the corpus's own discrete-quantile CDF
    "q_perplexity_buckets" ->
      s"""WITH sc AS (SELECT id, xent AS score FROM ($perplexitySql) ppl
         |            WHERE xent IS NOT NULL),
         |hist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY 1),
         |n AS (SELECT SUM(c) AS n FROM hist),
         |cdf AS (SELECT score, SUM(c) OVER (ORDER BY score) / n.n AS f FROM hist, n),
         |t AS (SELECT MIN(CASE WHEN f >= 0.3333 THEN score END) AS t0,
         |             MIN(CASE WHEN f >= 0.6667 THEN score END) AS t1 FROM cdf)
         |SELECT sc.id, sc.score,
         |  CASE WHEN sc.score <= t.t0 THEN 'head'
         |       WHEN sc.score <= t.t1 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc, t""".stripMargin,

    // repeated-substring islands over 13-char shingle positions in the
    // unseeded md5-32 space (the shingleHashSet hash); islands via the
    // pos - row_number() gap-and-island trick on both engines
    "q_repeated_spans" ->
      s"""WITH sh AS (SELECT doc_id, i, ('0x' || substr(md5(substr(t, CAST(i AS INT), 13)), 1, 8))::BIGINT AS h
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 12)) AS i FROM ($normDoc) WHERE length(t) >= 13)),
         |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, i FROM sh JOIN dup USING (h)),
         |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g FROM cov)
         |SELECT doc_id AS id, CAST(min(i) AS BIGINT) AS span_start,
         | CAST(max(i) + 12 AS BIGINT) AS span_end,
         | CAST(max(i) - min(i) + 13 AS BIGINT) AS span_len
         |FROM isl GROUP BY doc_id, g
         |HAVING max(i) - min(i) + 13 >= 30""".stripMargin,

    // span removal: keep exactly the chars no flagged span covers —
    // the oracle keeps chars via NOT-EXISTS-in-span and reassembles
    // with an ordered string_agg; the Spark side splices with a
    // clamped-cursor aggregate() — same kept-char set by construction
    "q_remove_spans" ->
      s"""WITH sh AS (SELECT doc_id, i, ('0x' || substr(md5(substr(t, CAST(i AS INT), 13)), 1, 8))::BIGINT AS h
         |        FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 12)) AS i FROM ($normDoc) WHERE length(t) >= 13)),
         |dup AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, i FROM sh JOIN dup USING (h)),
         |isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g FROM cov),
         |sp AS (SELECT doc_id, min(i) AS s, max(i) + 12 AS e
         |       FROM isl GROUP BY doc_id, g HAVING max(i) - min(i) + 13 >= 30),
         |ch AS (SELECT doc_id, j, substr(t, CAST(j AS INT), 1) AS c
         |       FROM (SELECT doc_id, t, unnest(generate_series(1, length(t))) AS j FROM ($normDoc))),
         |kept AS (SELECT doc_id, string_agg(c, '' ORDER BY j) AS clean
         |         FROM ch WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = ch.doc_id AND ch.j BETWEEN sp.s AND sp.e)
         |         GROUP BY doc_id)
         |SELECT d.doc_id AS id, coalesce(kept.clean, '') AS clean
         |FROM ($normDoc) d LEFT JOIN kept USING (doc_id)""".stripMargin,

    // DSIR: hashed uni+bigram buckets (seeds 31/37, 2^14), add-1
    // smoothed target-vs-raw log-likelihood ratio; model tables built
    // from the identical feature streams on both engines
    "q_dsir_weight" ->
      s"""WITH tl AS (SELECT doc_id, regexp_extract_all(t, '[A-Za-z0-9]+') AS l FROM ($normDoc)),
         |uni AS (SELECT doc_id, ('0x' || substr(md5('31#' || l[i]), 1, 8))::BIGINT % 16384 AS b
         |        FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM tl)),
         |bi AS (SELECT doc_id, ('0x' || substr(md5('37#' || l[i] || ' ' || l[i+1]), 1, 8))::BIGINT % 16384 AS b
         |       FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM tl)),
         |f AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         |dfc AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM f WHERE doc_id >= 25 GROUP BY 1, 2),
         |ct AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct FROM f WHERE doc_id < 25 GROUP BY 1),
         |tt AS (SELECT sum(ct) AS tt FROM ct),
         |cr AS (SELECT b, sum(c) AS cr FROM dfc GROUP BY 1),
         |tr AS (SELECT sum(cr) AS tr FROM cr)
         |SELECT doc_id AS id, CAST(sum(c) AS BIGINT) AS n_feat,
         | round(sum(c * (ln((coalesce(ct, 0) + 1.0) / (tt + 16384.0))
         |              - ln((cr + 1.0) / (tr + 16384.0)))), 4) AS logw
         |FROM dfc LEFT JOIN ct USING (b) JOIN cr USING (b) CROSS JOIN tt CROSS JOIN tr
         |GROUP BY doc_id""".stripMargin,

    // SQ8 on both engines: scale = max|x|/127, codes = round-half-up of
    // x/scale (integers — exact in double), score = scale product times
    // the integer dot
    "q_ann_sq8" -> sq8OracleSql,

    // the persisted IVF_SQ8 index searched at full probe equals the
    // in-memory SQ8 scan bit-for-bit (spec-pinned), so it shares the
    // q_ann_sq8 oracle — the cross-engine proof for the at-rest path
    "q_ann_ivf_sq8" -> sq8OracleSql,

    // C4 segment dedup over the synthesized two-paragraph corpus:
    // global first occurrence per segment digest (doc_id, pos order),
    // docs reassembled from survivors; doc_id//2 is integer division
    // on both engines (Spark floor(x/2) casts long, DuckDB //)
    "q_dedup_segments" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 100) || chr(10) || md5(CAST(doc_id//2 AS VARCHAR)) AS t FROM documents),
        |l AS (SELECT doc_id, string_split(t, chr(10)) AS segs FROM d),
        |s AS (SELECT doc_id, segs[i] AS seg, i-1 AS pos
        |      FROM (SELECT doc_id, segs, unnest(generate_series(1, len(segs))) AS i FROM l)),
        |k AS (SELECT doc_id, seg, pos,
        |      row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn FROM s)
        |SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS text
        |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    // range search: band predicate BEFORE the rank, mirroring
    // Ann.rangeSearch(radius=0.1, rangeFilter=0.999, limit=20)
    "q_ann_range" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank
        | FROM s WHERE score > 0.1 AND score <= 0.999)
        |WHERE rank <= 20""".stripMargin,

    // grouping search: within-(qid,label) rank to group_size=2, then
    // groups ordered by (best hit desc, label asc), top k=3 groups —
    // mirrors Ann.groupedTopK step for step
    "q_ann_grouped" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, label, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e),
        |wg AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid, label ORDER BY score DESC, id ASC) AS BIGINT) AS grp_rank FROM s),
        |kept AS (SELECT * FROM wg WHERE grp_rank <= 2),
        |b AS (SELECT *, max(score) OVER (PARTITION BY qid, label) AS best FROM kept),
        |o AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY qid ORDER BY best DESC, label ASC) AS BIGINT) AS grp_order FROM b)
        |SELECT qid, id, CAST(label AS BIGINT) AS label, score, grp_rank, grp_order
        |FROM o WHERE grp_order <= 3""".stripMargin,

    // pagination: ranks (10, 20] of the same deterministic full ranking
    "q_ann_page" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank > 10 AND rank <= 20""".stripMargin,

    // search_iterator page 2: same absolute window as q_ann_page, but the
    // Spark side reaches it through the cursor tail-filter; rank is
    // page-local (1..10), hence the -10
    "q_search_iterator" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e)
        |SELECT qid, id, score, CAST(rank - 10 AS BIGINT) AS rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rank FROM s)
        |WHERE rank > 10 AND rank <= 20""".stripMargin,

    // indexed search restricted to an allowed-id set (odd vec_ids)
    "q_ann_ivf_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, c)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // segment retirement on the vector store: the second quarter
    // appended as its own segment then retired — full probe must equal
    // brute force over the never-appended (first-quarter) corpus
    "q_ann_ivf_retire" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 4 = 0),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, c)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // partition-restricted search: corpus = labels 0 and 1 only
    "q_ann_partitions" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE label IN (0, 1)),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, c)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // filtered search: the predicate excludes corpus rows BEFORE scoring
    // (queries still drawn from the unfiltered table)
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score
        |      FROM q, e WHERE e.label = 1)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    // full-probe IVF == exact brute force (same score expression, every
    // cell probed) — the q_ann_topk oracle verifies the partition
    "q_ann_ivf_full" -> ivfFullProbeOracleSql,

    // alias-resolved full-probe search over the post-swap (green,
    // full-corpus) index — the oracle covers the WHOLE corpus, so a
    // swap that failed to repoint away from the half-corpus blue index
    // could not hash-match
    "q_alias" -> ivfFullProbeOracleSql,

    // full-probe search over the RESTORED index — must equal the
    // never-mutated index, i.e. plain brute force: any leaked
    // post-snapshot state (appended +1M ids, missing tombstoned ids)
    // hash-mismatches
    "q_index_snapshot" -> ivfFullProbeOracleSql,

    // nlist=1 cluster sample: cell 0 holds every non-zero-norm vector,
    // so the sample is the md5-rank top-40 over that set — the same
    // seeded-hash mirror as the stratified/holdout oracles
    "q_cluster_sample_k1" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nz AS (SELECT id FROM e WHERE sqrt(list_sum(list_transform(v, x -> x*x))) > 0),
        |r AS (SELECT id, CAST(0 AS INT) AS cell,
        |  CAST(row_number() OVER (ORDER BY
        |    ('0x' || substr(md5('29#' || CAST(id AS VARCHAR)), 1, 8))::BIGINT ASC,
        |    id ASC) AS BIGINT) AS rank FROM nz)
        |SELECT id, cell, rank FROM r WHERE rank <= 40""".stripMargin,

    "q_ann_binary" -> annBinaryOracleSql,

    // identical semantics through the persisted packed-word index
    "q_ann_binary_index" -> annBinaryOracleSql,

    // two-stage refine: the q_ann_sq8 chain keeps top-30 candidates,
    // exact cosine re-scores only those, re-ranked to 10
    "q_ann_refine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |z AS (SELECT vec_id, v, coalesce(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0) / 127.0 AS scale FROM e),
        |qz AS (SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |       ELSE list_transform(v, x -> CAST(round(x / scale) AS DOUBLE)) END AS q FROM z),
        |qs AS (SELECT vec_id AS qid, v AS qv, scale AS qscale, q AS qq FROM qz WHERE vec_id < 5),
        |coarse AS (SELECT qs.qid, c.vec_id AS id,
        |      round(qs.qscale * c.scale * list_inner_product(qs.qq, c.q), 4) AS cscore
        |      FROM qs, qz c),
        |cand AS (SELECT qid, id FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cscore DESC, id ASC) AS crank FROM coarse)
        | WHERE crank <= 30),
        |s AS (SELECT cand.qid, cand.id,
        |      round(list_cosine_similarity(qs.qv, c.v), 4) AS score
        |      FROM cand JOIN qs ON qs.qid = cand.qid JOIN e c ON c.vec_id = cand.id)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin,

    "q_bm25" -> bm25OracleSql,

    // identical semantics through the persisted index: bucket-local df
    // and the doclens/stats sidecars must reproduce the full-postings
    // formula bit-for-bit
    "q_bm25_index" -> bm25OracleSql,

    // weight-sum sparse retrieval (sparseTopK semantics) through the
    // persisted bucketed index; the oracle scores the FULL postings —
    // bucket pruning must lose nothing
    "q_sparse_index" ->
      s"""WITH post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         |         CAST(count(*) AS DOUBLE) AS w
         |         FROM ($tokDoc)
         |         GROUP BY doc_id, term),
         |qt AS (SELECT doc_id AS qid, term, w AS qw FROM post WHERE doc_id < 5),
         |s AS (SELECT qt.qid, post.doc_id AS id, round(sum(post.w * qt.qw), 4) AS score
         |      FROM post JOIN qt USING (term) GROUP BY 1, 2)
         |SELECT qid, id, score, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
         |WHERE rank <= 10""".stripMargin,

    // the sparse retire witness: history = even-doc postings only; the
    // appended-then-retired odd segment must leave no trace in scores
    "q_sparse_retire" ->
      s"""WITH post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         |         CAST(count(*) AS DOUBLE) AS w
         |         FROM ($tokDoc)
         |         GROUP BY doc_id, term),
         |qt AS (SELECT doc_id AS qid, term, w AS qw FROM post WHERE doc_id < 5),
         |h AS (SELECT * FROM post WHERE doc_id % 2 = 0),
         |s AS (SELECT qt.qid, h.doc_id AS id, round(sum(h.w * qt.qw), 4) AS score
         |      FROM h JOIN qt USING (term) GROUP BY 1, 2)
         |SELECT qid, id, score, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
         |WHERE rank <= 10""".stripMargin,

    // multi-table hyperplane LSH: same md5-derived plane constants as
    // VectorFunctions.planeConst (table 0 tag "plane-p", table t>=1 tag
    // "plane-t{t}-{p}"), signatures bucket-joined per table, candidate
    // scores collapsed with max before the final rank — mirrors
    // Ann.lshTopK(tables=4, planes=6, dim=64, k=10) step for step
    "q_ann_lsh" -> annLshOracleSql,
    "q_ann_recall" -> annRecallOracleSql,
    "q_ann_mrr" -> annMrrOracleSql,
    "q_ann_tune_lsh" -> annTuneLshOracleSql,
    "q_retrain_report" -> retrainReportOracleSql,

    "q_mine_negatives" -> mineNegativesOracleSql,

    // the contrastive flagship: fake-embed all docs, mine triplets over
    // the embedded corpus, attach texts, deterministic shard/pos (the
    // shuffle_shards md5 recipe keyed by "qid:neg_id")
    "q_contrastive_pipeline" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |e AS (SELECT doc_id, [ (('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || text), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0
        |       FOR j IN generate_series(0, 15) ] AS v FROM d),
        |q AS (SELECT doc_id AS qid, v AS qv FROM e WHERE doc_id < 20),
        |p AS (SELECT qid, e.doc_id AS id, round(list_cosine_similarity(qv, v), 4) AS score
        |      FROM q JOIN e ON e.doc_id != q.qid),
        |pp AS (SELECT qid, id AS pos_id,
        |       row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS rn
        |       FROM p WHERE score >= 0.65),
        |nn AS (SELECT qid, id AS neg_id,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS neg_rank
        |       FROM p WHERE score < 0.65),
        |trip AS (SELECT pp.qid AS qid, pos_id, neg_id, neg_rank
        |         FROM pp JOIN nn ON pp.qid = nn.qid WHERE rn = 1 AND neg_rank <= 3),
        |sh AS (SELECT qid, neg_id,
        |  CAST(qid AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR) AS row_id,
        |  ('0x' || substr(md5('37#' || CAST(qid AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard,
        |  ('0x' || substr(md5('38#' || CAST(qid AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)), 1, 8))::BIGINT AS ord
        |  FROM trip)
        |SELECT t.qid, t.pos_id, t.neg_id, t.neg_rank,
        |  da.text AS anchor_text, dp.text AS pos_text, dn.text AS neg_text,
        |  sh.shard,
        |  CAST(row_number() OVER (PARTITION BY sh.shard ORDER BY sh.ord, sh.row_id) - 1 AS BIGINT) AS pos
        |FROM trip t
        |JOIN sh ON sh.qid = t.qid AND sh.neg_id = t.neg_id
        |JOIN d da ON da.doc_id = t.qid
        |JOIN d dp ON dp.doc_id = t.pos_id
        |JOIN d dn ON dn.doc_id = t.neg_id""".stripMargin,
    // the IVF-index mining path must answer EXACTLY like the in-memory
    // form (full probe + covering window) — same oracle verbatim
    "q_mine_negatives_ivf" -> mineNegativesOracleSql,

    "q_triplets" -> tripletsOracleSql(posK = 1, negK = 5),
    // the multi-positive (InfoNCE-batch) form: posK x negK rows per
    // surviving anchor, same thresholds
    "q_triplets_multi" -> tripletsOracleSql(posK = 2, negK = 3),

    "q_sessionize" -> sessionizeOracleSql,

    "q_event_window" -> eventWindowOracleSql,

    "q_range_join" -> rangeJoinOracleSql,

    "q_asof_join" -> asofJoinOracleSql,
    // the drained streams provably equal their batch forms (the
    // event-time-ordered feed keeps every event inside the watermark;
    // equivalence pinned in StreamingSpec) — so all three state-store
    // paths share the batch oracles and get hash-exact rows
    "q_stream_asof" -> asofJoinOracleSql,
    "q_stream_sessionize" -> sessionizeOracleSql,
    "q_stream_window" -> eventWindowOracleSql)

  // BM25 over the same md5-hashed postings as q_hybrid_search's sparse
  // branch; Lucene positive idf, k1=1.2, b=0.75 on both engines.
  // KNOWN RESIDUAL RISK: ln() is transcendental — JVM Math.log and
  // DuckDB's libm agree to within an ulp but are not guaranteed
  // bit-identical, so a score landing exactly on a 4-dp rounding
  // boundary could flip. Accepted: the ln IS the BM25 semantics
  // (substituting a rational function would change the operator), and
  // a collision would fail the hash compare loudly, not corrupt data.
  private val bm25OracleSql =
      s"""WITH post AS (SELECT doc_id, ('0x' || substr(md5('11#' || tok), 1, 8))::BIGINT % 262144 AS term,
         |         CAST(count(*) AS DOUBLE) AS tf
         |         FROM ($tokDoc)
         |         GROUP BY doc_id, term),
         |qt AS (SELECT DISTINCT doc_id AS qid, term FROM post WHERE doc_id < 5),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
         |dft AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |        FROM post WHERE term IN (SELECT term FROM qt) GROUP BY term),
         |s AS (SELECT qt.qid, post.doc_id AS id,
         |      round(sum(ln(1 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) *
         |                (post.tf * 2.2) /
         |                (post.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 4) AS score
         |      FROM post JOIN qt USING (term) JOIN dft USING (term)
         |      JOIN dl ON dl.doc_id = post.doc_id, st
         |      GROUP BY 1, 2)
         |SELECT qid, id, score, rank FROM (
         | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
         |WHERE rank <= 10""".stripMargin

  // SQ8 dequantized-IP ranking: both engines quantize (round-half-up)
  // and score scale_q*scale_c*Σ q_i*c_i — shared by q_ann_sq8 (in-memory
  // scan) and q_ann_ivf_sq8 (persisted index at full probe)
  private val sq8OracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |z AS (SELECT vec_id, v, coalesce(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 0) / 127.0 AS scale FROM e),
      |qz AS (SELECT vec_id, scale,
      |  CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
      |       ELSE list_transform(v, x -> CAST(round(x / scale) AS DOUBLE)) END AS q FROM z),
      |qs AS (SELECT vec_id AS qid, scale AS qscale, q AS qq FROM qz WHERE vec_id < 5),
      |s AS (SELECT qs.qid, c.vec_id AS id,
      |      round(qs.qscale * c.scale * list_inner_product(qs.qq, c.q), 4) AS score
      |      FROM qs, qz c)
      |SELECT qid, id, score, rank FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
      |WHERE rank <= 10""".stripMargin

  // full-probe IVF == exact brute force: shared by q_ann_ivf_full and
  // q_alias (the alias resolves to a full-corpus IVF index searched at
  // full probe)
  private val ivfFullProbeOracleSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |s AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score FROM q, e)
      |SELECT qid, id, score, rank FROM (
      | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM s)
      |WHERE rank <= 10""".stripMargin

  // binary quantization: hamming = sign-mismatch count per component —
  // the packed-bit XOR+popcount the Spark side computes, without
  // reproducing the packing (embeddings are 64-d, one word)
  private val annBinaryOracleSql =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT qid, vec_id AS id,
        |      CAST(sum(CASE WHEN (qv[j] > 0) <> (v[j] > 0) THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |      FROM q, e, (SELECT unnest(generate_series(1, 64)) AS j) GROUP BY qid, vec_id)
        |SELECT qid, id, hamming, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY hamming ASC, id ASC) AS BIGINT) AS rank FROM s)
        |WHERE rank <= 10""".stripMargin

  /** The LSH plane/sig CTE prefix (e, pl, sig) at the graded net
    * parameters (dim 64, planes 6, tables 4) — ONE source of truth for
    * the md5 plane recipe, shared verbatim by annLshOracleSql and the
    * q_dedup_cosine_index admission oracle (and, nested, by
    * q_ann_recall/q_ann_mrr): a recipe change edited in one place
    * cannot silently diverge the admission net from the search net. */
  // margins intentionally NOT stripped here: this fragment interpolates
  // into s-templates whose own .stripMargin does the one stripping pass
  // (a pre-stripped fragment would be stripped twice, and the second
  // pass eats the first '|' of every leading '||' concat operator)
  private val lshSigCtes =
      """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pl AS (SELECT t, p, list(comp ORDER BY j) AS pv FROM (
        |  SELECT tt.t AS t, pp.p AS p, jj.j AS j,
        |   (('0x' || substr(md5(CAST(jj.j AS VARCHAR) || '#' ||
        |      CASE WHEN tt.t = 0 THEN 'plane-' ELSE 'plane-t' || CAST(tt.t AS VARCHAR) || '-' END
        |      || CAST(pp.p AS VARCHAR)), 1, 8))::BIGINT % 2000001 - 1000000) / 1000000.0 AS comp
        |  FROM (SELECT unnest(generate_series(0, 3)) AS t) tt,
        |       (SELECT unnest(generate_series(0, 5)) AS p) pp,
        |       (SELECT unnest(generate_series(0, 63)) AS j) jj)
        | GROUP BY t, p),
        |sig AS (SELECT vec_id, t,
        |  CAST(sum(CASE WHEN list_inner_product(v, pv) >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        | FROM e, pl GROUP BY vec_id, t)"""

  private val annLshOracleSql =
      s"""WITH $lshSigCtes,
        |cand AS (SELECT s.vec_id AS qid, c.vec_id AS id,
        |  max(round(list_cosine_similarity(qe.v, ce.v), 4)) AS score
        | FROM sig c JOIN sig s ON c.t = s.t AND c.sig = s.sig
        | JOIN e ce ON ce.vec_id = c.vec_id
        | JOIN e qe ON qe.vec_id = s.vec_id
        | WHERE s.vec_id < 5 GROUP BY 1, 2)
        |SELECT qid, id, score, rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS rank FROM cand)
        |WHERE rank <= 10""".stripMargin

  /** One oracle for both triplet forms — posK/negK are the only
    * degrees of freedom (thresholds/anchors fixed by the queries). */
  private def tripletsOracleSql(posK: Int, negK: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      !q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
      !p AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score
      !      FROM q JOIN e ON e.vec_id != q.qid),
      !pos AS (SELECT qid, id AS pos_id, score AS pos_score,
      !        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS pos_rank
      !        FROM p WHERE score >= 0.35),
      !neg AS (SELECT qid, id AS neg_id, score AS neg_score,
      !        CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS neg_rank
      !        FROM p WHERE score < 0.35)
      !SELECT pos.qid AS qid, pos_id, pos_score, pos_rank, neg_id, neg_score, neg_rank
      !FROM pos JOIN neg ON pos.qid = neg.qid
      !WHERE pos_rank <= $posK AND neg_rank <= $negK""".stripMargin('!')

  private val mineNegativesOracleSql =
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        |p AS (SELECT qid, vec_id AS id, round(list_cosine_similarity(qv, v), 4) AS score
        |      FROM q JOIN e ON e.vec_id != q.qid)
        |SELECT qid, id, score, neg_rank FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id ASC) AS BIGINT) AS neg_rank
        | FROM p WHERE score < 0.35)
        |WHERE neg_rank <= 10""".stripMargin

  /** Recall@k needs BOTH searches in SQL: the LSH side is the whole
    * [[annLshOracleSql]] nested as a CTE (one source of truth for the
    * plane recipe), the exact side is the q_ann_topk scan. */
  private val annRecallOracleSql =
    // margin char is '!': the embedded LSH SQL has continuation lines
    // starting with '||' (string concat) that '|'.stripMargin would eat
    s"""WITH lsh AS ($annLshOracleSql),
      !e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      !brute AS (SELECT qid, id FROM (
      ! SELECT q.vec_id AS qid, c.vec_id AS id,
      !  row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC, c.vec_id ASC) AS rank
      ! FROM e2 q, e2 c WHERE q.vec_id < 5) WHERE rank <= 10)
      !SELECT b.qid AS qid, CAST(count(*) AS BIGINT) AS exact_n,
      ! CAST(sum(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      ! round(CAST(sum(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS recall
      !FROM brute b LEFT JOIN lsh l ON l.qid = b.qid AND l.id = b.id
      !GROUP BY b.qid""".stripMargin('!')

  /** The tables-sweep oracle: ONE sig CTE (the 4-table lshSigCtes
    * recipe), each step t restricted to tables < t, per-step top-10 and
    * recall vs brute force (the annRecallOracleSql arithmetic), and the
    * early stop replayed as a window filter over the step table —
    * correct at any sf, however many steps the sweep actually emits. */
  private val annTuneLshOracleSql =
    s"""WITH $lshSigCtes,
      |steps AS (SELECT unnest([1, 2, 4]) AS tbls),
      |cand AS (SELECT st.tbls AS tbls, s.vec_id AS qid, c.vec_id AS id,
      |  max(round(list_cosine_similarity(qe.v, ce.v), 4)) AS score
      | FROM sig c JOIN sig s ON c.t = s.t AND c.sig = s.sig
      | JOIN e ce ON ce.vec_id = c.vec_id
      | JOIN e qe ON qe.vec_id = s.vec_id
      | CROSS JOIN steps st
      | WHERE s.vec_id < 5 AND c.t < st.tbls GROUP BY 1, 2, 3),
      |lshk AS (SELECT tbls, qid, id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY tbls, qid ORDER BY score DESC, id ASC) AS rank FROM cand)
      | WHERE rank <= 10),
      |brute AS (SELECT qid, id FROM (
      |  SELECT q.vec_id AS qid, c.vec_id AS id,
      |   row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC, c.vec_id ASC) AS rank
      |  FROM e q, e c WHERE q.vec_id < 5) WHERE rank <= 10),
      |perq AS (SELECT st.tbls AS tbls, b.qid,
      |   round(CAST(sum(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS r
      | FROM steps st CROSS JOIN brute b
      | LEFT JOIN lshk l ON l.tbls = st.tbls AND l.qid = b.qid AND l.id = b.id
      | GROUP BY 1, 2),
      |rec AS (SELECT tbls, round(avg(r), 4) AS mean_recall FROM perq GROUP BY tbls)
      |SELECT CAST(tbls AS BIGINT) AS tables, mean_recall,
      | mean_recall >= 0.15 AS meets_target
      |FROM rec WHERE tbls <= coalesce(
      | (SELECT min(tbls) FROM rec WHERE mean_recall >= 0.15), 4)""".stripMargin

  /** The advisor-arithmetic oracle: the annRecallOracleSql per-query
    * frame averaged to recall_now, the q_embed_drift_summary slices for
    * the drift arm, floors echoed, OR decision — the q_retrain_report
    * contract. */
  private val retrainReportOracleSql =
    s"""WITH rec AS ($annRecallOracleSql),
      !o AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      !n AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 7 <> 0
      !      UNION ALL
      !      SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 50),
      !os AS (SELECT CAST(count(*) AS BIGINT) AS n_stored,
      !         avg(sqrt(list_sum(list_transform(v, x -> x*x)))) AS nrm FROM o),
      !ns AS (SELECT CAST(count(*) AS BIGINT) AS n_fresh,
      !         avg(sqrt(list_sum(list_transform(v, x -> x*x)))) AS nrm FROM n),
      !oc AS (SELECT list(m ORDER BY dim) AS c FROM (
      !        SELECT dim, avg(x) AS m FROM (
      !          SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM o) GROUP BY dim)),
      !nc AS (SELECT list(m ORDER BY dim) AS c FROM (
      !        SELECT dim, avg(x) AS m FROM (
      !          SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM n) GROUP BY dim)),
      !rn AS (SELECT round(avg(recall), 4) AS recall_now FROM rec)
      !SELECT rn.recall_now, 0.9 AS recall_floor,
      ! round(list_cosine_similarity(oc.c, nc.c), 6) + 0 AS centroid_cos,
      ! 0.999 AS drift_floor,
      ! round(ns.nrm - os.nrm, 6) + 0 AS norm_delta,
      ! os.n_stored, ns.n_fresh,
      ! (rn.recall_now < 0.9 OR
      !  coalesce(round(list_cosine_similarity(oc.c, nc.c), 6) < 0.999, true)) AS should_retrain
      !FROM rn, os, ns, oc, nc""".stripMargin('!')

  /** MRR oracle — same nested-LSH + brute construction as
    * [[annRecallOracleSql]], graded on WHERE the first true neighbor
    * landed in the approximate list. */
  private val annMrrOracleSql =
    s"""WITH lsh AS ($annLshOracleSql),
      !e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      !brute AS (SELECT qid, id FROM (
      ! SELECT q.vec_id AS qid, c.vec_id AS id,
      !  row_number() OVER (PARTITION BY q.vec_id ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC, c.vec_id ASC) AS rank
      ! FROM e2 q, e2 c WHERE q.vec_id < 5) WHERE rank <= 10),
      !fh AS (SELECT l.qid AS qid, min(l.rank) AS first_hit
      !       FROM lsh l JOIN brute b ON b.qid = l.qid AND b.id = l.id
      !       GROUP BY 1)
      !SELECT q.qid AS qid,
      ! CAST(coalesce(fh.first_hit, 0) AS BIGINT) AS first_hit,
      ! round(coalesce(CAST(1.0 AS DOUBLE) / fh.first_hit, 0.0), 4) AS rr
      !FROM (SELECT DISTINCT qid FROM brute) q
      !LEFT JOIN fh ON fh.qid = q.qid""".stripMargin('!')

  private val eventWindowOracleSql =
      """SELECT CAST(floor(epoch_ms(ts) / 300000) AS BIGINT) AS bucket, event_type,
        | count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY bucket, event_type""".stripMargin

  private val sessionizeOracleSql =
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR ts_ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
        |c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        | count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM c GROUP BY user_id, session_seq""".stripMargin

  private val rangeJoinOracleSql =
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR ts_ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
        |c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM s),
        |sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |         min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms
        |         FROM c GROUP BY user_id, session_seq)
        |SELECT e.user_id, e.event_id, sess.session_seq
        |FROM e JOIN sess ON e.user_id = sess.user_id
        | AND e.ts_ms BETWEEN sess.session_start_ms AND sess.session_end_ms""".stripMargin

  private val asofJoinOracleSql =
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |r AS (SELECT user_id, ts_ms AS rts, max(round(value, 2)) AS upd_value
        |      FROM e WHERE event_id % 10 = 0 GROUP BY user_id, ts_ms)
        |SELECT e.user_id, e.event_id, e.ts_ms, r.upd_value
        |FROM e ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts_ms >= r.rts""".stripMargin
}
