package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}
import graft.operators.IndexFiles.WriteRouting

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * The reference delegates search to Milvus (vector_database/
  * milvus_connector.py:176-188: top-k, IP/L2 metrics, nprobe). Here the
  * corpus is a DataFrame: brute-force is the exact baseline (one
  * broadcast of the query set, no corpus shuffle), LSH and IVF are the
  * scale paths that cut the scanned fraction to ~1/nlist.
  */
object Ann {

  /** Normalize the vector column to array<double> and pre-compute its
    * norm once — per-pair scoring then needs only a single codegen'd
    * dot product (cos = dot/(nrmQ·nrmC), same expression tree the
    * DuckDB oracle evaluates). */
  private def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, col(vecCol).cast("array<double>"))
      .withColumn(s"${vecCol}_nrm", V.norm2(col(vecCol)))

  private def pairScore(metric: String, q: Column, c: Column,
      qn: Column, cn: Column): Column = metric match {
    case "cosine" => V.dot(q, c) / (qn * cn)
    case "ip"     => V.dot(q, c)
    case "l2"     => -V.l2(q, c) // negated so "higher is better" uniformly
    case m        => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** Every (query, corpus) pair scored: broadcast the (small) query set
    * against the corpus — the corpus is scanned once with no shuffle of
    * the vectors themselves, only (query, score) pairs move downstream.
    * `carry` names extra corpus columns to keep beside (qid, id, score)
    * (e.g. the group column of [[groupedTopK]]). */
  private def scoredPairs(corpus: DataFrame, queries: DataFrame,
      metric: String, carry: Seq[String] = Nil): DataFrame = {
    val c = Dedup.spread(withNorm(corpus, "v"))
    val q = withNorm(queries, "qv")
    c.as("c").join(broadcast(q.as("q")))
      .select(Seq(col("q.qid"), col("c.id")) ++ carry.map(n => col(s"c.$n")) :+
        round(pairScore(metric, col("q.qv"), col("c.v"),
          col("q.qv_nrm"), col("c.v_nrm")), 4).as("score"): _*)
  }

  /** Exact top-k: score every pair ([[scoredPairs]]), rank per query.
    * (query, score) pairs are pruned to k per partition before the final
    * rank via the window's partial top-k. Deterministic ties:
    * (score desc, id asc). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scoredPairs(corpus, queries, metric)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Range search — the Milvus search variant with `radius` /
    * `range_filter` params (milvus_connector.py search carries
    * search_params straight through; Milvus semantics for
    * higher-is-better metrics: radius < score <= range_filter). Returns
    * every in-range hit up to `limit` per query, rank-ordered like
    * [[bruteForceTopK]]. The band predicate filters BEFORE the per-query
    * rank, so only in-range pairs reach the window's shuffle — at 100 TB
    * a selective radius cuts the ranked set from |corpus| to the match
    * set per query. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, radius: Double,
      rangeFilter: Double = Double.PositiveInfinity,
      limit: Int = Int.MaxValue, metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scoredPairs(corpus, queries, metric)
      .filter(col("score") > radius && col("score") <= rangeFilter)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
  }

  /** Grouping search — Milvus `group_by_field` / `group_size`: the top k
    * GROUPS per query (a group's score is its best hit, ties broken by
    * group value), each contributing its `groupSize` best hits. The
    * dedup-by-entity retrieval shape (one hit per document when chunks
    * were indexed). Two stacked windows: within-(qid,group) rank prunes
    * to groupSize rows per group — the heavy cut, it runs on the scored
    * pairs before anything reshuffles — then a dense_rank over
    * (best desc, group asc) orders the surviving groups. Output columns:
    * (qid, id, <group>, score, grp_rank, grp_order). */
  def groupedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      groupCol: String, groupSize: Int = 1,
      metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wg = Window.partitionBy(col("qid"), col(groupCol))
      .orderBy(col("score").desc, col("id").asc)
    val within = scoredPairs(corpus, queries, metric, carry = Seq(groupCol))
      .withColumn("grp_rank", row_number().over(wg))
      .filter(col("grp_rank") <= groupSize)
    val best = max(col("score")).over(Window.partitionBy(col("qid"), col(groupCol)))
    val wq = Window.partitionBy("qid").orderBy(col("best").desc, col(groupCol).asc)
    within.withColumn("best", best)
      .withColumn("grp_order", dense_rank().over(wq))
      .filter(col("grp_order") <= k)
      .drop("best")
  }

  /** Paged top-k — the Milvus search `offset` + `limit` pagination
    * surface (and the search-iterator's page shape): ranks
    * (offset, offset+k]. Computed as one top-(offset+k) rank, NOT a
    * re-execution per page — deterministic ranking makes pages
    * consistent across calls by construction. */
  def pagedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      offset: Int, metric: String = "cosine"): DataFrame = {
    require(offset >= 0, s"offset must be >= 0, got $offset")
    bruteForceTopK(corpus, queries, offset + k, metric)
      .filter(col("rank") > offset)
  }

  /** One page of a cursor-paged exact search — the Milvus
    * `search_iterator` surface (pymilvus SearchIterator pages past
    * top-k limits by re-searching from the last hit's distance; the
    * reference's client sits on the same collection.search plumbing,
    * milvus_connector.py:172-183). `cursors` is the per-query resume
    * point: one row (qid, cur_score, cur_id) carrying the LAST hit of
    * the previous page; queries absent from `cursors` start from the
    * top. A pair survives when it sorts strictly after its cursor in
    * the (score desc, id asc) total order, and the filter runs BEFORE
    * the rank window — so each page's shuffle carries only the
    * remaining tail, the Spark analog of Milvus's moving-radius range
    * search, instead of re-ranking offset+page rows like [[pagedTopK]].
    * `rank` in the output is page-local (1..pageSize).
    *
    * Cursor protocol: a query ABSENT from `cursors` starts from the
    * top (page 1) — so a caller deriving cursors from a previous page
    * must not simply omit exhausted queries (a short page yields no
    * rank==pageSize row) or they'd silently re-fetch page 1. Mark a
    * query exhausted EXPLICITLY with a cursor row whose `cur_id` is
    * null — it then yields no rows at all. [[searchIterator]] manages
    * this by dropping exhausted queries from its live set; manual
    * callers should pass the null-cursor marker. */
  def searchIteratorPage(corpus: DataFrame, queries: DataFrame,
      pageSize: Int, cursors: Option[DataFrame] = None,
      metric: String = "cosine"): DataFrame = {
    require(pageSize > 0, s"pageSize must be > 0, got $pageSize")
    import org.apache.spark.sql.expressions.Window
    val scored = scoredPairs(corpus, queries, metric)
    val remaining = cursors match {
      case None => scored
      case Some(cur) =>
        // has_cur distinguishes "query not in cursors" (start from the
        // top) from "cursor row with null cur_id" (explicitly
        // exhausted — emit nothing)
        scored.join(broadcast(cur.withColumn("has_cur", lit(true))),
            Seq("qid"), "left")
          .filter(col("has_cur").isNull ||
            (col("cur_id").isNotNull &&
              (col("score") < col("cur_score") ||
                (col("score") === col("cur_score") && col("id") > col("cur_id")))))
          .drop("cur_score", "cur_id", "has_cur")
    }
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    remaining.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= pageSize)
  }

  /** A [[searchIterator]] handle: an `Iterator[DataFrame]` that also
    * closes. Each page is persisted so the cursor probe and the
    * consumer share the computation; the iterator unpersists each page
    * when the NEXT one is fetched, but the page currently in flight —
    * the last one, for a completed drain, or the most recent one, for
    * an abandoned drain — stays persisted until `close()` releases it
    * (use a `Using` block). `close()` is idempotent and safe at any
    * point; the iterator is drained afterwards. */
  final class SearchPager private[Ann](corpus: DataFrame, queries: DataFrame,
      pageSize: Int, metric: String)
      extends Iterator[DataFrame] with AutoCloseable {
    private var live = queries
    private var cursors: Option[DataFrame] = None
    private var staged: Option[DataFrame] = None
    private var prev: Option[DataFrame] = None
    private var done = false
    private def fetch(): Unit = {
      if (staged.nonEmpty || done) return
      val page = searchIteratorPage(corpus, live, pageSize, cursors, metric)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // full page (rank == pageSize present) → the query has more;
      // short page → exhausted, drop it from subsequent rounds. The
      // cursor frame is rebuilt from collected literals (one row per
      // live query) so page plans never chain across pages.
      val lastFrame = page.filter(col("rank") === pageSize)
        .select(col("qid"), col("score").as("cur_score"),
          col("id").as("cur_id"))
      val lastHits = lastFrame.collect()
      if (lastHits.isEmpty) {
        done = true
        if (page.isEmpty) { page.unpersist(); prev.foreach(_.unpersist()); prev = None; return }
      } else {
        val cur = corpus.sparkSession.createDataFrame(
          java.util.Arrays.asList(lastHits: _*), lastFrame.schema)
        cursors = Some(cur)
        live = live.join(broadcast(cur.select("qid")), Seq("qid"), "left_semi")
      }
      prev.foreach(_.unpersist())
      prev = Some(page)
      staged = Some(page)
    }
    override def hasNext: Boolean = { fetch(); staged.nonEmpty }
    override def next(): DataFrame = {
      fetch()
      val p = staged.getOrElse(throw new NoSuchElementException("iterator drained"))
      staged = None
      p
    }
    /** Release the in-flight persisted page and stop iterating. */
    override def close(): Unit = {
      prev.foreach(_.unpersist())
      prev = None
      staged = None
      done = true
    }
  }

  /** Drain [[searchIteratorPage]] lazily: each `next()` materializes one
    * page (persisted so the cursor probe and the consumer share the
    * computation), advances the per-query cursors from the page's last
    * hits — one O(#queries) collect per page — and drops queries whose
    * page came back short (exhausted). Stop pulling to stop scanning;
    * nothing beyond the current page is ever resident. The returned
    * [[SearchPager]] is AutoCloseable: `close()` it when done (whether
    * drained or abandoned early) to release the in-flight persisted
    * page. */
  def searchIterator(corpus: DataFrame, queries: DataFrame,
      pageSize: Int, metric: String = "cosine"): SearchPager =
    new SearchPager(corpus, queries, pageSize, metric)

  /** Filtered search — the Milvus search `expr` parameter (scalar
    * predicate evaluated BEFORE vector scoring, milvus_connector.py
    * search filters on file_id/source in exactly this position). The
    * predicate is parsed by Spark SQL and applied to the corpus ahead of
    * [[bruteForceTopK]], so it pushes down into the parquet scan
    * (PushedFilters) and the distance math never touches excluded rows —
    * at 100 TB a selective filter turns a full-corpus scan into a
    * pruned one for free. Extra corpus columns referenced only by the
    * predicate are pruned after the filter. */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      predicate: String, metric: String = "cosine"): DataFrame =
    bruteForceTopK(
      corpus.filter(expr(predicate)).select(col("id"), col("v")),
      queries, k, metric)

  /** Sparse top-k retrieval over exploded postings — the Milvus
    * sparse_embedding search half. `postings` (id, term, w) is the
    * inverted index the sparse map explodes into; `queryTerms`
    * (qid, term, qw) broadcasts, so scoring touches only postings whose
    * term appears in some query: score = Σ_common w·qw. At 100 TB the
    * postings shuffle once on term and the per-query work is the
    * posting lists of its terms, not the corpus. */
  def sparseTopK(postings: DataFrame, queryTerms: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Dedup.spread(postings)
      .join(broadcast(queryTerms), "term")
      .groupBy("qid", "id")
      .agg(round(sum(col("w") * col("qw")), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** BM25-scored sparse retrieval — the term-weighting Milvus ships for
    * its sparse vectors (the BM25 built-in function over
    * SPARSE_FLOAT_VECTOR; the reference's sparse_embedding column,
    * milvus_connector.py:65-73, is exactly that index family).
    * Robertson k1/b with the Lucene positive idf:
    * score(q,d) = Σ_t ln(1+(N−df+0.5)/(df+0.5)) ·
    *              tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    * `postings` (id, term, tf) is the inverted corpus; `queryTerms`
    * (qid, term) is the query bag (duplicate (qid,term) rows would
    * double-count — pass distinct terms). The postings plan evaluates
    * three times (doc lengths, df, scoring) — deliberately uncached: at
    * corpus scale re-running a narrow tokenize+hash pass is cheaper
    * than spilling corpus-sized postings to disk, and each pass
    * aggregates down before anything joins. df is computed only for
    * the broadcast query-term set, so the per-query work is the
    * posting lists of its terms.
    *
    * WARNING: `postings` must be the FULL corpus — N, avgdl, and df are
    * computed from what is passed in, so a pre-pruned postings frame
    * (e.g. the bucket-pruned scan of a persisted sparse index) silently
    * yields wrong global statistics. For index-resident corpora use
    * [[searchSparseIndexBm25]], which reads the persisted doc-length /
    * stats sidecars instead. */
  def bm25TopK(postings: DataFrame, queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val p = Dedup.spread(postings)
    val dl = p.groupBy("id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    bm25Rank(p, queryTerms, dl, stats, k, k1, b)
  }

  /** The BM25 scoring + rank core shared by [[bm25TopK]] (in-memory
    * postings, stats computed inline) and [[searchSparseIndexBm25]]
    * (bucket-pruned postings, stats from the index sidecars). `p` must
    * contain every posting row of every query term (full corpus or
    * bucket-complete pruned scan — a term's rows live wholly in its
    * bucket, so df from `p` is exact either way); `dl` is the FULL
    * (id, dl) doc-length table, `stats` one (n, avgdl) row. The
    * corpus-sized `dl` is left-semi pruned to candidate doc ids before
    * the scoring join, so that shuffle carries O(matched docs), not
    * O(corpus) — the same candidate-prune verifyJaccard applies. */
  private def bm25Rank(p: DataFrame, queryTerms: DataFrame, dl: DataFrame,
      stats: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfByTerm = p
      .join(broadcast(queryTerms.select(col("term")).distinct()), "term")
      .groupBy("term").agg(countDistinct(col("id")).cast("double").as("df"))
    val matched = p.join(broadcast(queryTerms), "term")
    val dlPruned = dl.join(matched.select("id").distinct(), Seq("id"), "left_semi")
    val scored = matched
      .join(broadcast(dfByTerm), "term")
      .join(dlPruned, "id")
      .crossJoin(broadcast(stats))
      .groupBy("qid", "id")
      .agg(round(sum(
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + (col("dl") / col("avgdl") * b + (1.0 - b)) * k1)), 4)
        .as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Persist a sparse inverted index — the reference's OWN sparse index
    * type (milvus_connector.py:65-73 creates SPARSE_INVERTED_INDEX over
    * sparse_embedding), as the same build-once/search-many lifecycle as
    * the dense indexes. `dir/postings` holds (id, term, w) PARTITIONED
    * BY tbucket = term mod `buckets`: a search's query terms select
    * their buckets as typed literal partition filters (static pruning
    * at the file index), so the scan reads ~|query-term buckets|/buckets
    * of the postings instead of everything — at 100 TB the difference
    * between touching a few posting shards and the whole corpus.
    * `buckets` bounds the directory fan-out (256 default) while keeping
    * each bucket a thin slice of the term space. */
  def buildSparseIndex(postings: DataFrame, dir: String,
      buckets: Int = 256): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val s = postings.sparkSession
    IndexFiles.clearTombstones(s, dir)
    import s.implicits._
    Dedup.spread(postings)
      .withColumn("tbucket", pmod(col("term"), lit(buckets)).cast("int"))
      .withColumn("src", lit("base"))
      // route each bucket to one task before the partitioned write
      // (guide §6: hash-distribute on the partition key) — without it
      // every task writes a sliver into every bucket dir: tasks×buckets
      // tiny files per build, and the same count of file-open waits on
      // every later scan
      .routeForWrite("tbucket")
      .write.mode("overwrite").partitionBy("src", "tbucket")
      .parquet(s"$dir/postings")
    Seq(buckets).toDF("buckets").write.mode("overwrite").parquet(s"$dir/meta")
    IndexFiles.writeIds(
      s.read.parquet(s"$dir/postings").select("id").distinct(), dir)
    // BM25 sidecars: per-doc lengths + (n, avgdl), so a BM25-scored
    // search never has to re-aggregate the full postings (Milvus's
    // sparse index family IS BM25-scored — the weight-sum search alone
    // would leave its highest-traffic path unable to use the index)
    writeBm25Sidecars(s, dir)
  }

  /** Rewrite `dir/doclens` (id, dl = Σw per doc) and `dir/stats`
    * (n, avgdl) from the stored postings — the build-time (and
    * backfill) path; appends extend doclens incrementally instead. */
  private def writeBm25Sidecars(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // a doc's postings live in exactly one segment (ids are disjoint
    // across appends), so doclens inherits postings' src partitioning
    // and retires with it
    spark.read.parquet(s"$dir/postings")
      .groupBy("id", "src").agg(sum(col("w")).as("dl"))
      .write.mode("overwrite").partitionBy("src").parquet(s"$dir/doclens")
    refreshSparseStats(spark, dir)
  }

  /** Recompute `dir/stats` from the doclens sidecar — O(docs) of two
    * columns, run after every doclens mutation. */
  private[operators] def refreshSparseStats(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    spark.read.parquet(s"$dir/doclens")
      .agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    IndexFiles.refresh(spark, dir)
  }

  /** Backfill the BM25 sidecars on a pre-BM25 index (one full postings
    * aggregation, once); later mutations maintain them incrementally.
    * Must run BEFORE a batch's postings are appended — the backfill
    * aggregation would otherwise double-count the batch. Called from
    * MUTATION paths only (append, or this explicit maintenance entry):
    * a search that backfilled would write from a read path — racing
    * concurrent searches against the overwrite's delete-then-write
    * window and failing outright on read-only mounts. */
  def backfillBm25Sidecars(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = ensureBm25Sidecars(spark, dir)

  private def ensureBm25Sidecars(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    if (!hasBm25Sidecars(spark, dir)) writeBm25Sidecars(spark, dir)

  private[operators] def hasBm25Sidecars(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/doclens")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Append a batch's postings to a persisted sparse index: bucketed
    * through the stored `buckets` parameter, O(batch) per append,
    * history never rewritten. Batch ids must be disjoint from stored
    * ids (checked via the compact `dir/ids` sidecar) — a replayed id's
    * terms would double-count in the score sum. Crash-safe: postings
    * and doclens ride one [[IndexFiles.appendStaged]] transaction, so a
    * job failure anywhere leaves a state the next append repairs
    * completely. Stats refresh last — a crash before it leaves stats
    * one batch stale, healed by the next mutation (or the tombstone
    * path, which ignores the stats file). */
  def appendToSparseIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    // a rolled-forward batch extended doclens, so the derived stats file
    // must refresh NOW — the append below may legitimately throw (e.g.
    // a replayed id) and must not leave stats stale behind healed data
    IndexFamily.sparse.heal(spark, dir)
    val buckets = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val batchIds = batch.select("id").distinct()
    val replayed = IndexFiles
      .ensureIds(spark, dir,
        spark.read.parquet(s"$dir/postings").select("id").distinct())
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already exists " +
        "in the index — replayed ids would double-count in scores")
    // backfill BEFORE the batch lands (the backfill aggregates stored
    // postings; afterwards it would double-count the batch)
    ensureBm25Sidecars(spark, dir)
    // batch ids are disjoint from stored ids (guarded above), so the
    // batch's own doc lengths extend doclens O(batch)
    IndexFiles.appendStaged(spark, dir, Seq(
      ("postings", Dedup.spread(batch)
        .withColumn("tbucket", pmod(col("term"), lit(buckets)).cast("int"))
        .withColumn("src", lit(src))
        .routeForWrite("tbucket"),
        Seq("src", "tbucket")),
      ("doclens", batch.groupBy("id").agg(sum(col("w")).as("dl"))
        .withColumn("src", lit(src)), Seq("src"))),
      Some(batchIds))
    refreshSparseStats(spark, dir)
  }

  /** Search a persisted sparse index; same results as [[sparseTopK]]
    * over the full postings (scores only involve terms both sides
    * share, and every query term's posting rows live in its bucket —
    * pruning drops only rows that could never score). The query terms'
    * buckets are collected driver-side (≤ |query terms| ints) and
    * applied as typed literal partition filters — static pruning, same
    * rationale as [[searchIvfIndex]]. */
  def searchSparseIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: DataFrame, k: Int): DataFrame =
    sparseTopK(prunedSparsePostings(spark, dir, queryTerms), queryTerms, k)

  /** The bucket-pruned, tombstone-filtered (id, term, w) scan every
    * sparse-index search starts from: query-term buckets collected
    * driver-side (≤ |query terms| ints) and applied as typed literal
    * partition filters — static pruning at the file index. */
  private def prunedSparsePostings(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: DataFrame): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    val buckets = spark.read.parquet(s"$dir/meta").head().getInt(0)
    val wanted = queryTerms
      .select(pmod(col("term"), lit(buckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val raw = spark.read.parquet(s"$dir/postings")
    val bIsInt =
      raw.schema("tbucket").dataType == org.apache.spark.sql.types.IntegerType
    val typed: Seq[Any] = if (bIsInt) wanted else wanted.map(_.toLong)
    val pruned = (if (wanted.isEmpty) raw.filter(lit(false))
                  else raw.filter(col("tbucket").isin(typed: _*)))
      .drop("tbucket", "src")
    IndexFiles.dropTombstones(spark, dir, pruned)
  }

  /** BM25-scored search over a persisted sparse index — the scoring
    * Milvus ships for its sparse vectors, over the same build-once
    * lifecycle. Same results as [[bm25TopK]] over the full postings:
    * df per query term comes from the bucket-pruned scan (exact — a
    * term's posting rows live wholly in its own bucket, so pruning
    * drops no occurrence of any query term), doc lengths from the
    * `dir/doclens` sidecar (semi-pruned to candidates inside
    * [[bm25Rank]]), N/avgdl from the 1-row `dir/stats` sidecar. With
    * tombstones pending, stats and lengths re-derive from the
    * tombstone-filtered doclens — O(live docs) of two columns — so a
    * deleted doc is excluded from df, N, and avgdl immediately,
    * bit-equal to searching the compacted index. Pre-BM25 indexes must
    * be backfilled once via [[backfillBm25Sidecars]] — searches are
    * read-only (no write from a read path: concurrent first-searches
    * would race the sidecar overwrite, and read-only mounts would
    * fail), so they refuse loudly instead of backfilling. */
  def searchSparseIndexBm25(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(hasBm25Sidecars(spark, dir),
      s"$dir has no BM25 sidecars (pre-BM25 index) — run " +
        "backfillBm25Sidecars(spark, dir) once before BM25 searches")
    val p = prunedSparsePostings(spark, dir, queryTerms)
      .withColumnRenamed("w", "tf")
    val dl = IndexFiles.dropTombstones(spark, dir,
      spark.read.parquet(s"$dir/doclens").drop("src"))
    val stats =
      if (IndexFiles.tombstones(spark, dir).isDefined)
        dl.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
      else spark.read.parquet(s"$dir/stats")
    bm25Rank(p, queryTerms, dl, stats, k, k1, b)
  }

  /** Binary-quantized top-k by Hamming distance — the Milvus/faiss
    * BIN_FLAT index family (binary vectors + HAMMING metric). Both sides
    * sign-binarized ([[graft.functions.VectorFunctions.binarizeSign]]):
    * the corpus scan reads 1/32 of the float bytes and pair scoring is
    * XOR+popcount, the cheapest recall stage before an exact refine
    * ([[refineTopK]]). Smaller distance is better; deterministic ties
    * (hamming asc, id asc). Exact over the quantized bits, so the
    * DuckDB oracle reproduces it bit-for-bit as sign-mismatch counts. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int): DataFrame = {
    // a caller-supplied dim smaller than the vectors would SILENTLY
    // ignore the tail components (wrong rankings, no error); larger
    // throws an opaque ANSI element_at INVALID_ARRAY_INDEX. Probe one
    // row per side, same guard as the index appends.
    requireBatchDim(corpus, "v", dim)
    requireBatchDim(queries, "qv", dim)
    hammingRank(Dedup.spread(corpus)
      .select(col("id"), V.binarizeSign(col("v"), dim).as("cb")),
      queries, k, dim)
  }

  /** Hamming scoring + rank over pre-packed (id, cb) corpus words — the
    * one definition [[binaryTopK]] (packs inline) and
    * [[searchBinaryIndex]] (packed at rest) both rank through. */
  private def hammingRank(cb: DataFrame, queries: DataFrame, k: Int,
      dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("qid"), V.binarizeSign(col("qv"), dim).as("qb"))
    val scored = cb.join(broadcast(q))
      .select(col("qid"), col("id"),
        V.hammingDist(col("qb"), col("cb")).as("hamming"))
    val w = Window.partitionBy("qid").orderBy(col("hamming").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Persist a BIN_FLAT index — the Milvus/faiss binary index family as
    * the same build-once/search-many lifecycle as the dense siblings.
    * The corpus is sign-binarized ONCE: `dir/bits` holds (id, cb) with
    * cb the packed array<long> words — 1/32 of the float bytes — so
    * every later search scans packed words at rest instead of paying a
    * full-width float scan + re-binarization per call (the one cost
    * [[binaryTopK]] can't avoid). Unpartitioned by design: Hamming has
    * no bucketing structure to prune on — the index's win IS the 32×
    * byte cut, and the scan parallelizes like any columnar read.
    * `dir/meta` records dim; `dir/ids` guards appends. */
  def buildBinaryIndex(corpus: DataFrame, dir: String, dim: Int): Unit = {
    requireBatchDim(corpus, "v", dim)
    val s = corpus.sparkSession
    IndexFiles.clearTombstones(s, dir)
    import s.implicits._
    Dedup.spread(corpus)
      .select(col("id"), V.binarizeSign(col("v"), dim).as("cb"))
      .withColumn("src", lit("base"))
      .write.mode("overwrite").partitionBy("src").parquet(s"$dir/bits")
    Seq(dim).toDF("dim").write.mode("overwrite").parquet(s"$dir/meta")
    IndexFiles.writeIds(
      s.read.parquet(s"$dir/bits").select("id").distinct(), dir)
  }

  /** Search a persisted BIN_FLAT index; bit-equal to [[binaryTopK]]
    * over the corpus the index was built+appended from (binarizeSign is
    * deterministic in dim, and the rank core is shared). Tombstoned ids
    * never reach the ranking. */
  def searchBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    val dim = spark.read.parquet(s"$dir/meta").head().getInt(0)
    requireBatchDim(queries, "qv", dim)
    hammingRank(
      IndexFiles.dropTombstones(spark, dir, spark.read.parquet(s"$dir/bits")),
      queries, k, dim)
  }

  /** Append a batch to a persisted BIN_FLAT index: packed through the
    * stored dim, O(batch) per append, history never re-binarized.
    * Batch ids must be disjoint from stored ids (checked via the
    * `dir/ids` sidecar — [[hammingRank]] has no per-id collapse, so a
    * replayed id would surface twice in any ranking it reaches). */
  def appendToBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    IndexFiles.healAppend(spark, dir, Seq("bits"))
    val dim = spark.read.parquet(s"$dir/meta").head().getInt(0)
    requireBatchDim(batch, "v", dim)
    val batchIds = batch.select("id").distinct()
    val replayed = IndexFiles
      .ensureIds(spark, dir,
        spark.read.parquet(s"$dir/bits").select("id").distinct())
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already exists " +
        "in the index — replayed ids would duplicate search hits")
    IndexFiles.appendStaged(spark, dir, Seq(
      ("bits", Dedup.spread(batch)
        .select(col("id"), V.binarizeSign(col("v"), dim).as("cb"))
        .withColumn("src", lit(src)), Seq("src"))),
      Some(batchIds))
  }

  def compactBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexFiles.compact(spark, dir, Map("bits" -> Seq("src")))

  /** Hybrid dense+sparse search with reciprocal-rank fusion — the
    * "Hybrid" in the reference's Knowledge1024Hybrid collection
    * (embed_to_milvus.py:233-247 carries BOTH embedding columns for
    * exactly this). Each modality retrieves its own top-k; a hit's
    * fused score is Σ 1/(rrfK + rank_modality) over the lists it
    * appears in (Cormack et al. 2009, Milvus RRFRanker default
    * rrfK=60). Deterministic: 4-dp modality scores, 6-dp fused score,
    * id-ascending tiebreaks. */
  def hybridTopK(corpus: DataFrame, queries: DataFrame,
      postings: DataFrame, queryTerms: DataFrame, k: Int,
      metric: String = "cosine", rrfK: Int = 60): DataFrame =
    rrfFuse(bruteForceTopK(corpus, queries, k, metric),
      sparseTopK(postings, queryTerms, k), k, rrfK)

  /** The RRF fusion stage shared by [[hybridTopK]] and
    * [[searchHybridIndex]]: both branch results are q×k frames
    * (qid, id, …, rank), so the full-outer join and re-rank are
    * candidate-sized no matter how big the corpus behind them was. */
  private def rrfFuse(dense: DataFrame, sparse: DataFrame, k: Int,
      rrfK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dense.select(col("qid"), col("id"), col("rank").as("rank_d"))
    val s = sparse.select(col("qid"), col("id"), col("rank").as("rank_s"))
    val fused = d.join(s, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_d")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_s")), lit(0.0)), 6).as("rrf"))
    val w = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hybrid dense+sparse search with WEIGHTED score fusion — the Milvus
    * WeightedRanker alternative to [[hybridTopK]]'s RRF: each branch's
    * score is normalized to [0,1] and the fused score is their weighted
    * sum (a hit missing from a branch contributes 0 there). Dense cosine
    * normalizes as (1+s)/2 — Milvus's own cosine normalization. For the
    * unbounded sparse dot, Milvus uses arctan; here it is the algebraic
    * sigmoid s/(1+s) instead — the same monotone (0,1) shape, but built
    * from correctly-rounded IEEE ops only, so the DuckDB oracle
    * reproduces the fusion bit-for-bit (a transcendental could differ in
    * the last ulp across libm implementations and flip a rounded rank).
    * Negative sparse scores (possible with signed weights — SPLADE
    * weights are non-negative, arbitrary inputs aren't) clamp to 0
    * before normalizing: s/(1+s) is only monotone-into-[0,1) for
    * s ≥ 0, and a negative-match hit should not outrank absence.
    * Per-branch rankings are unchanged by the swap (both maps are
    * monotone); only the cross-branch weighting differs numerically
    * from Milvus. Deterministic: 4-dp branch scores, 6-dp fused score,
    * id-asc ties. */
  def hybridTopKWeighted(corpus: DataFrame, queries: DataFrame,
      postings: DataFrame, queryTerms: DataFrame, k: Int,
      wDense: Double = 0.5, wSparse: Double = 0.5): DataFrame =
    weightedFuse(bruteForceTopK(corpus, queries, k, "cosine"),
      sparseTopK(postings, queryTerms, k), k, wDense, wSparse)

  /** The weighted fusion stage shared by [[hybridTopKWeighted]] and
    * [[searchHybridIndexWeighted]] — takes each branch's raw q×k
    * (qid, id, …, score) frame and applies the normalizations
    * documented on [[hybridTopKWeighted]] (dense assumed cosine). */
  private def weightedFuse(dense: DataFrame, sparse: DataFrame, k: Int,
      wDense: Double, wSparse: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = dense.select(col("qid"), col("id"),
      ((lit(1.0) + col("score")) / 2).as("nd"))
    val s = sparse.select(col("qid"), col("id"),
      (greatest(col("score"), lit(0.0)) /
        (lit(1.0) + greatest(col("score"), lit(0.0)))).as("ns"))
    val fused = d.join(s, Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        round(coalesce(col("nd"), lit(0.0)) * wDense +
          coalesce(col("ns"), lit(0.0)) * wSparse, 6).as("wscore"))
    val w = Window.partitionBy("qid").orderBy(col("wscore").desc, col("id").asc)
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Hybrid search over PERSISTED indexes — Milvus's hybrid_search
    * against a stored collection, which is how the reference's
    * Knowledge1024Hybrid is actually queried in production (the
    * in-memory [[hybridTopK]] is the semantics oracle; this is the
    * build-once/search-many form). The dense branch probes a persisted
    * IVF index ([[searchIvfIndex]] — nprobe cell partitions), the
    * sparse branch prunes the persisted inverted index to the query
    * terms' buckets ([[searchSparseIndex]], or BM25-scored via
    * `bm25 = true` — Milvus's own sparse scoring); fusion is RRF over
    * the two q×k lists. With nprobe = nlist and bm25 = false this is
    * bit-equal to [[hybridTopK]] (both branches exact); at production
    * nprobe the dense branch trades recall for reading nprobe/nlist of
    * the corpus, which is the whole point at 100 TB. */
  def searchHybridIndex(spark: org.apache.spark.sql.SparkSession,
      ivfDir: String, sparseDir: String, queries: DataFrame,
      queryTerms: DataFrame, k: Int, nprobe: Int = 4,
      metric: String = "cosine", rrfK: Int = 60,
      bm25: Boolean = false): DataFrame =
    rrfFuse(searchIvfIndex(spark, ivfDir, queries, k, nprobe, metric),
      sparseBranch(spark, sparseDir, queryTerms, k, bm25), k, rrfK)

  /** [[searchHybridIndex]] with WeightedRanker fusion (dense branch
    * must be cosine — the normalization assumes [-1, 1] scores). */
  def searchHybridIndexWeighted(spark: org.apache.spark.sql.SparkSession,
      ivfDir: String, sparseDir: String, queries: DataFrame,
      queryTerms: DataFrame, k: Int, nprobe: Int = 4,
      wDense: Double = 0.5, wSparse: Double = 0.5,
      bm25: Boolean = false): DataFrame =
    weightedFuse(searchIvfIndex(spark, ivfDir, queries, k, nprobe, "cosine"),
      sparseBranch(spark, sparseDir, queryTerms, k, bm25), k, wDense, wSparse)

  private def sparseBranch(spark: org.apache.spark.sql.SparkSession,
      dir: String, queryTerms: DataFrame, k: Int, bm25: Boolean): DataFrame =
    if (bm25) searchSparseIndexBm25(spark, dir, queryTerms, k)
    else searchSparseIndex(spark, dir, queryTerms, k)

  /** Top-k search returning caller-selected payload columns with every
    * hit — the reference search surface's output_fields
    * (milvus_connector.py:167-178: output_fields=["file_id",
    * "file_name"]). The hit set is q×k rows, so the payload join
    * broadcasts the hits against the corpus attributes rather than
    * shuffling the corpus. */
  def searchWithFields(corpus: DataFrame, queries: DataFrame, k: Int,
      outputFields: Seq[String], metric: String = "cosine"): DataFrame = {
    val hits = bruteForceTopK(corpus.select(col("id"), col("v")), queries, k, metric)
    corpus.drop("v").join(broadcast(hits), "id")
      .select(Seq(col("qid"), col("id"), col("score"), col("rank")) ++
        outputFields.map(col): _*)
  }

  /** The multi-table signature array shared by build and search. */
  private def lshSigs(v: Column, dim: Int, planes: Int, tables: Int): Column = {
    def tag(t: Int) = if (t == 0) "plane" else s"plane-t$t"
    array((0 until tables).map(t => V.hyperplaneSig(v, dim, planes, tag(t))): _*)
  }

  /** (id, v, v_nrm, tbl, sig) corpus buckets — the one definition the
    * in-memory search and the persisted index both build from. */
  private def lshBuckets(corpus: DataFrame, dim: Int, planes: Int,
      tables: Int): DataFrame =
    Dedup.spread(withNorm(corpus, "v"))
      .select(col("id"), col("v"), col("v_nrm"),
        posexplode(lshSigs(col("v"), dim, planes, tables)).as(Seq("tbl", "sig")))

  /** Bucket-join query signatures against corpus signatures and rank. */
  private def lshRank(cb: DataFrame, queries: DataFrame, k: Int, dim: Int,
      planes: Int, tables: Int, metric: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qb = withNorm(queries, "qv")
      .select(col("qid"), col("qv"), col("qv_nrm"),
        posexplode(lshSigs(col("qv"), dim, planes, tables)).as(Seq("tbl", "sig")))
    val scored = cb.as("c").join(broadcast(qb.as("q")),
        col("c.tbl") === col("q.tbl") && col("c.sig") === col("q.sig"))
      .select(col("q.qid"), col("c.id"),
        round(pairScore(metric, col("q.qv"), col("c.v"),
          col("q.qv_nrm"), col("c.v_nrm")), 4).as("score"))
      // a pair matching in several tables scores identically each time —
      // collapse before ranking
      .groupBy("qid", "id").agg(max(col("score")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN: corpus and queries hashed to hyperplane-sign
    * buckets; each query scans only its bucket. Recall traded via
    * `planes` (fewer planes → bigger buckets → higher recall) and
    * `tables` (OR-construction over independent plane sets — the
    * standard multi-table LSH: a candidate matches if it shares a
    * signature in ANY table, so recall compounds as 1−(1−pᵖ)ᵗ while
    * each table's bucket stays selective — the FAISS/Milvus LSH index
    * shape). Table 0 uses the same planes as the single-table form. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      planes: Int = 8, metric: String = "cosine", tables: Int = 1): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    lshRank(lshBuckets(corpus, dim, planes, tables),
      queries, k, dim, planes, tables, metric)
  }

  /** SQ8-compressed top-k by dequantized inner product: both sides
    * quantized (VectorFunctions.quantizeSq8), scored as
    * scale_q·scale_c·Σ qᵢ·cᵢ — the memory-bound scan shape at 100 TB,
    * where vectors dominate bytes and SQ8 cuts the scan 4-8×. Exact
    * over the QUANTIZED values (deterministic round-half-up on both
    * engines), so the oracle reproduces it bit-for-bit. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Dedup.spread(corpus).select(col("id"),
      V.quantizeSq8(col("v").cast("array<double>")).as("cz"))
    val q = queries.select(col("qid"),
      V.quantizeSq8(col("qv").cast("array<double>")).as("qz"))
    val scored = c.join(broadcast(q))
      .select(col("qid"), col("id"),
        round(V.dotSq8(col("qz"), col("cz")), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Second-stage cross-encoder rerank — the reference's /rerank
    * endpoint (baai_m3_simple_server/m3_server_v2.py:283, scoring at
    * :63-77: BAAI-M3 compute_score over (query, passage) sentence
    * pairs with weights_for_different_modes colbert+sparse+dense
    * fusion) as the final ordering stage a reference user runs over
    * first-stage retrieval survivors ([[hybridTopK]] /
    * [[searchHybridIndex]] top-k). The pair scoring sits behind
    * [[Tag.rerankPairs]]' batched per-partition seam (the llm_tag
    * pattern — a real deployment swaps one HTTP POST per batch and
    * nothing else changes); the stub is a deterministic md5 function
    * of each pair per mode, so the whole path is oracle-checkable.
    *
    * Inputs: `candidates` (qid, id) — first-stage survivors, q×k'
    * rows; `queries` (qid, qtext); `passages` (id, ptext) — the
    * document store. Scale shape: the candidate frame is enriched
    * with query text by a broadcast join (q rows), then passages
    * resolve with ONE corpus scan filtered by the broadcast candidate
    * set (the [[searchWithFields]] shape) — the model seam touches
    * candidate-count rows only, never the corpus. A candidate id with
    * no passage row drops (the reference errors on a missing doc; a
    * consistent store always resolves). Deterministic: 6-dp fused
    * score, id-ascending ties. */
  def rerankTopK(candidates: DataFrame, queries: DataFrame,
      passages: DataFrame, k: Int,
      weights: Seq[Double] = Tag.RerankWeights,
      batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withQ = candidates.select(col("qid"), col("id"))
      .join(broadcast(queries.select(col("qid"), col("qtext"))), "qid")
    val pairs = passages.select(col("id"), col("ptext"))
      .join(broadcast(withQ), "id")
      .select(col("qid"), col("id"), col("qtext"), col("ptext"))
    val scored = Tag.rerankPairs(pairs, weights, batchSize)
      .withColumn("ce_score", round(col("ce_score"), 6))
    val w = Window.partitionBy("qid").orderBy(col("ce_score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage refine search — quantized recall, exact rescore (the
    * Milvus `refine` / faiss rescoring pattern behind SQ/PQ/RaBitQ
    * indexes): stage 1 ranks the whole corpus with [[sq8TopK]]'s
    * 4×-compressed scan and keeps k·`factor` candidates per query;
    * stage 2 re-scores ONLY those q×k·factor survivors with the exact
    * metric and re-ranks to k. At 100 TB the exact math touches a
    * candidate set instead of the corpus — the rescore pass is a
    * broadcast semi-join on id (q×k·factor rows), so the full-precision
    * vectors of non-candidates are never deserialized past the scan.
    * Deterministic end to end (both stages round to 4 dp with id-asc
    * ties), so the DuckDB oracle reproduces it bit-for-bit. */
  def refineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      factor: Int = 3, metric: String = "cosine"): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cand = sq8TopK(corpus, queries, k * factor)
      .select(col("qid"), col("id"))
    exactRescore(corpus, queries, cand, k, metric)
  }

  /** The exact rescoring stage shared by [[refineTopK]] and
    * [[searchIvfPqIndexRefined]]: re-score ONLY the q×|cand| candidate
    * pairs with the exact metric (broadcast semi-join on id — the
    * full-precision vectors of non-candidates never leave the scan)
    * and re-rank to k. */
  private def exactRescore(corpus: DataFrame, queries: DataFrame,
      cand: DataFrame, k: Int, metric: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = withNorm(corpus, "v")
    val q = withNorm(queries, "qv")
    val rescored = c.join(broadcast(cand), "id").join(broadcast(q), "qid")
      .select(col("qid"), col("id"),
        round(pairScore(metric, col("qv"), col("v"),
          col("qv_nrm"), col("v_nrm")), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage refined search over a persisted IVF-PQ index — the
    * standard faiss recipe for recovering exactness from aggressive
    * compression: stage 1 takes k·`factor` ADC candidates per query
    * from the index ([[searchIvfPqIndex]] — nprobe cells of m-byte
    * codes, no raw vectors touched); stage 2 re-scores ONLY those
    * q×k·factor survivors with the exact metric and re-ranks to k.
    * The index stores codes, not vectors, so the exact pass takes the
    * raw `corpus` as an argument; it is scanned once, filtered to the
    * broadcast candidate ids at the scan. With nprobe = nlist and a
    * factor covering the corpus this reproduces brute force
    * bit-for-bit (spec-pinned); at production settings it buys back
    * most of the PQ recall loss for a candidate-sized exact pass. */
  def searchIvfPqIndexRefined(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, factor: Int = 3, metric: String = "l2"): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cand = searchIvfPqIndex(spark, dir, queries, k * factor, nprobe)
      .select(col("qid"), col("id"))
    requireCorpusCovers(corpus, cand)
    exactRescore(corpus, queries, cand, k, metric)
  }

  /** The rescore inner-joins candidates against the corpus, so a
    * corpus drifted from the index (expired partition, bad upstream
    * filter) would silently DROP those candidates from the refined
    * top-k — confidently wrong results, possibly fewer than k rows.
    * Guard with one id-column corpus pass semi-joined to the candidate
    * set; both collected frames are candidate-bounded (≤ q·k·factor
    * ids by construction). Shared by [[searchIvfPqIndexRefined]] and
    * [[searchIvfSq8IndexRefined]]. */
  private def requireCorpusCovers(corpus: DataFrame, cand: DataFrame): Unit = {
    val candIds = cand.select(col("id")).distinct()
    val found = corpus.select(col("id"))
      .join(broadcast(candIds), Seq("id"), "left_semi").distinct()
    val missing = candIds.join(broadcast(found), Seq("id"), "left_anti")
      .limit(1).collect()
    require(missing.isEmpty,
      s"corpus is missing candidate id ${missing.headOption.map(_.get(0)).orNull}" +
        " returned by the index — the exact rescore would silently drop it;" +
        " pass a corpus covering every indexed id")
  }

  /** Persist the LSH buckets — build once, search many (the same index
    * lifecycle as [[buildIvfIndex]]). `dir/buckets` holds
    * (id, v, v_nrm) parquet PARTITIONED BY (tbl, sig): a search touches
    * only its queries' bucket partitions (literal filters → static
    * partition pruning at the file index).
    * Partition count is tables · 2^planes worst case — keep planes
    * ≤ ~12 per table so the directory fan-out stays in the thousands.
    * `dir/meta` records (dim, planes, tables), so search is
    * self-describing. */
  def buildLshIndex(corpus: DataFrame, dir: String, dim: Int,
      planes: Int = 8, tables: Int = 1): Unit = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val s = corpus.sparkSession
    IndexFiles.clearTombstones(s, dir)
    import s.implicits._
    lshBuckets(corpus, dim, planes, tables)
      .withColumn("src", lit("base"))
      // hash-distribute on the partition keys before the fan-out write
      // (tables·2^planes dirs — unrouted, every task writes a sliver
      // into every bucket dir it touches; measured 47 s of task wall on
      // 7 s of CPU at sf0.1, pure file-create wait)
      .routeForWrite("tbl", "sig")
      .write.mode("overwrite").partitionBy("src", "tbl", "sig")
      .parquet(s"$dir/buckets")
    Seq((dim, planes, tables)).toDF("dim", "planes", "tables")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append a new batch to a persisted LSH index: the batch is hashed
    * through the plane families recorded in the index's own meta, so
    * the new buckets land beside the old ones in the same (tbl, sig)
    * partition directories. Signatures are DETERMINISTIC in
    * (dim, planes, tables) — append-then-search is bit-equal to
    * rebuild-then-search on the union corpus — which makes this the
    * daily-ingest shape the reference actually runs (segments
    * accumulate across runs, load_data/parquet_manager.py:320;
    * embed_to_milvus.py:147-183): per batch the work is O(batch),
    * history is never rehashed or rewritten. A replayed id with the
    * same vector is harmless (lshRank collapses per-(qid,id) before
    * ranking), so no index scan is spent guarding ids here. The append
    * is not atomic under job failure — at production scale write
    * through a staging dir (or a table format) and move on success. */
  def appendToLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    // crash-safe with a marker-only journal (no ids sidecar to extend):
    // a job failure anywhere leaves a state the next append repairs
    IndexFamily.lsh.heal(spark, dir)
    // the sighted families' mirror guard: an unsighted append stores
    // vectors no sighting day contains — irretirable by the window
    val seenP = new org.apache.hadoop.fs.Path(s"$dir/seen")
    require(!seenP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(seenP),
      s"$dir records sightings — append with appendToLshIndexSighted " +
        "(an unsighted append stores vectors no sighting window could " +
        "ever retire)")
    val m = spark.read.parquet(s"$dir/meta").head()
    val (dim, planes, tables) =
      (m.getAs[Int]("dim"), m.getAs[Int]("planes"), m.getAs[Int]("tables"))
    requireBatchDim(batch, "v", dim)
    IndexFiles.appendStaged(spark, dir, Seq(
      ("buckets", lshBuckets(batch, dim, planes, tables)
        .withColumn("src", lit(src))
        .routeForWrite("tbl", "sig"), Seq("src", "tbl", "sig"))),
      None)
  }

  /** Search a persisted LSH index; same results as [[lshTopK]] with the
    * build's parameters (read from the index's own metadata). The
    * queries' (tbl, sig) pairs are collected driver-side (queries are
    * small by premise — tables·|queries| values) and applied as literal
    * partition filters, so the scan statically prunes to the queried
    * buckets. A plain bucket JOIN would not prune: Spark's dynamic
    * partition pruning requires a selective filter on the build side,
    * which a bare query set doesn't have. */
  def searchLshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, metric: String = "cosine"): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    val m = spark.read.parquet(s"$dir/meta").head()
    val (dim, planes, tables) =
      (m.getAs[Int]("dim"), m.getAs[Int]("planes"), m.getAs[Int]("tables"))
    val wanted = queries
      .select(posexplode(lshSigs(col("qv").cast("array<double>"), dim, planes, tables))
        .as(Seq("tbl", "sig")))
      .distinct().collect().map(r => (r.getInt(0), r.getLong(1)))
    val bySig = wanted.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    // `sig` is a PARTITION column on read, and Spark's partition-type
    // inference narrows it to INT when every directory value fits — an
    // isin against Long literals would then compare through a cast on
    // the attribute and defeat the static pruning this method exists
    // for. Type the literals to the inferred type, prune, THEN cast
    // back to the long the bucket join expects.
    val raw = spark.read.parquet(s"$dir/buckets")
    val sigIsInt =
      raw.schema("sig").dataType == org.apache.spark.sql.types.IntegerType
    val cond = bySig.map { case (t, sigs) =>
      val typed: Seq[Any] = if (sigIsInt) sigs.map(_.toInt) else sigs
      col("tbl") === t && col("sig").isin(typed: _*)
    }.reduceOption(_ || _).getOrElse(lit(false))
    val cb = IndexFiles.dropTombstones(spark, dir,
      raw.filter(cond).withColumn("sig", col("sig").cast("long")))
    lshRank(cb, queries, k, dim, planes, tables, metric)
  }

  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexFiles.compact(spark, dir, Map("buckets" -> Seq("src", "tbl", "sig")))

  // ---- sighting-window cosine admission (LSH) ----------------------------

  /** [[buildLshIndex]] plus a SIGHTINGS ledger — the embedding form of
    * the exact/minhash/phash/containment "seen in the last N days"
    * contract, on the cosine admission net
    * ([[graft.operators.Dedup.cosineDedupAgainstIndex]]): `dir/seen`
    * holds one (id) row per (day, sighted stored vector), src=day
    * partitions. A stored vector is sighted when admitted and again
    * every time an arriving batch vector is REJECTED as its cosine
    * near-dup (touch-on-reject — the embedding's content is
    * demonstrably still arriving even though the new copy is
    * dropped). The build day tags its own sightings and ages out of
    * the window like any other. */
  def buildLshIndexSighted(corpus: DataFrame, dir: String, dim: Int,
      day: String, planes: Int = 8, tables: Int = 1): Unit = {
    require(day.nonEmpty && day != "base",
      s"day must be a non-empty tag other than 'base': '$day'")
    buildLshIndex(corpus, dir, dim, planes, tables)
    corpus.select(col("id")).distinct()
      .withColumn("src", lit(day))
      .write.partitionBy("src").mode("overwrite").parquet(s"$dir/seen")
  }

  /** Admission append with the sighting touch — the cosine form of
    * [[graft.operators.Dedup.appendToMinhashIndexSighted]]: each batch
    * vector probes the live history at k=1 through the statically
    * pruned bucket scan ([[searchLshIndex]] — the
    * cosineDedupAgainstIndex verdict verbatim), vectors whose best
    * stored neighbor scores >= tau are REJECTED (their `dup_of`
    * clocks reset), the rest extend `buckets` under this day's
    * segment, and the day's `seen` slice records admitted ids plus
    * the touched dup_of ids — one journaled
    * [[graft.operators.IndexFiles.appendStaged]] commit. The family's
    * unguarded-replay semantics carry over (LSH keeps no ids sidecar):
    * a replayed id self-matches at cosine 1.0 and resolves to a touch
    * of its own stored row — exactly the "content re-seen" reading.
    * O(batch) probe (history statically partition-pruned to the
    * batch's buckets, never shuffled) + O(admitted) append. */
  def appendToLshIndexSighted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, day: String, tau: Double): Unit = {
    require(day.nonEmpty && day != "base",
      s"day must be a non-empty tag other than 'base': '$day'")
    IndexFamily.lsh.requireSighted(spark, dir)
    IndexFamily.lsh.heal(spark, dir)
    val m = spark.read.parquet(s"$dir/meta").head()
    val (dim, planes, tables) =
      (m.getAs[Int]("dim"), m.getAs[Int]("planes"), m.getAs[Int]("tables"))
    requireBatchDim(batch, "v", dim)
    val hits = searchLshIndex(spark, dir,
        batch.select(col("id").as("qid"), col("v").as("qv")), k = 1)
      .filter(col("score") >= tau)
      .select(col("qid").as("id"), col("id").as("dup_of"))
      // localCheckpoint + persist, not bare persist: the hit plan scans
      // $dir/buckets, and this append's staged writes refreshByPath($dir)
      // between slices — a bare persist was invalidated and each later
      // slice re-ran the whole bucket probe (the r20 containment-append
      // finding); the persist restores planner statistics
      .localCheckpoint().persist()
    val hitsN = hits.count()
    val admitted = batch.join(hits.select("id"), Seq("id"), "left_anti")
      .persist()
    // counts on the persisted frames gate the slices — isEmpty probes
    // would each pay a driver planning round over the composed plan (r19)
    val admittedN = admitted.count()
    val seenRows = admitted.select("id").distinct()
      .unionByName(hits.select(col("dup_of").as("id")))
      .distinct().withColumn("src", lit(day))
    val payloadSlices =
      if (admittedN == 0) Seq.empty
      else Seq(("buckets", lshBuckets(admitted, dim, planes, tables)
        .withColumn("src", lit(day))
        .routeForWrite("tbl", "sig"), Seq("src", "tbl", "sig")))
    val seenSlice =
      if (admittedN == 0 && hitsN == 0) Seq.empty
      else Seq(("seen", seenRows, Seq("src")))
    if ((payloadSlices ++ seenSlice).nonEmpty)
      IndexFiles.appendStaged(spark, dir, payloadSlices ++ seenSlice, None)
    hits.unpersist(); admitted.unpersist(); ()
  }

  /** Fail fast when an appended batch's vectors don't match the stored
    * index's dimension — a mismatch would SILENTLY corrupt the index
    * (zip_with null-pads, dots go null, sign/argmin picks arbitrary
    * values) instead of erroring. One limit(1) probe per append. The
    * probe skips null vectors: a null first row would NPE instead of
    * diagnosing, and the appends drop nulls anyway (norm2 filter), so
    * the first non-null row is the one whose dimension matters. */
  private def requireBatchDim(batch: DataFrame, vecCol: String,
      dim: Int): Unit =
    batch.select(col(vecCol).cast("array<double>").as(vecCol))
      .filter(col(vecCol).isNotNull).take(1).foreach { r =>
      val got = r.getSeq[Double](0).length
      require(got == dim,
        s"batch vector dimension $got != index dimension $dim")
    }

  /** Train the IVF structure: Right((cells, centroids)) — the corpus
    * with its cell assignment, and the nlist-row codebook. Left(the
    * cast + zero-norm-filtered corpus) when it is no bigger than the
    * cell count (IVF gains nothing; k-means can't seed nlist distinct
    * centers) — callers scan that exactly instead of re-deriving the
    * filter. */
  /** `trainCap <= 0` means auto: 256·nlist training vectors — the faiss
    * guideline (30-256 points per centroid). Estimating 16 centroids
    * from 4k points costs milliseconds where a full-corpus fit costs a
    * clustering job; the codebook quality is statistically identical. */
  private def effectiveCap(trainCap: Long, nlist: Int): Long =
    if (trainCap > 0) trainCap else 256L * nlist

  /** Driver-memory budget for the IVF training sample: 2 GiB of raw
    * doubles (cap·dim·8). The auto cap (256·nlist) stays far under this
    * at any real dimension; an explicit oversized trainCap fails fast
    * instead of OOMing the driver mid-collect. */
  private[graft] val TrainSampleByteBudget: Long = 2L << 30

  /** Seeded spherical k-means (Lloyd's, cosine distance) over an
    * in-memory sample — the codebook trainer. The sample is bounded by
    * design (≤ effectiveCap vectors, faiss's 256/centroid guideline),
    * so training driver-side costs milliseconds and ZERO Spark jobs,
    * where an MLlib fit pays a scheduler round per init pass and per
    * iteration. Deterministic: k-means++ seeding from a seeded RNG over
    * an id-ordered sample; ties and empty clusters resolve to the
    * incumbent centroid. Returns unit-normalized centroids. */
  private[operators] def sphericalKMeans(sample: Array[Array[Double]],
      nlist: Int, seed: Long, maxIter: Int = 20): Array[Array[Double]] = {
    val dim = sample.head.length
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(unit)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      1.0 - s // cosine distance of unit vectors
    }
    val rnd = new scala.util.Random(seed)
    // k-means++ seeding
    val centers = scala.collection.mutable.ArrayBuffer(pts(rnd.nextInt(pts.length)))
    while (centers.length < nlist) {
      val w = pts.map(p => centers.map(c => d2(p, c)).min)
      val total = w.sum
      centers += (if (total <= 0) pts(rnd.nextInt(pts.length)) else {
        val r = rnd.nextDouble() * total
        var acc = 0.0; var i = 0
        while (i < pts.length - 1 && acc + w(i) < r) { acc += w(i); i += 1 }
        pts(i)
      })
    }
    var cs = centers.toArray
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val assign = pts.map(p => cs.indices.minBy(i => (d2(p, cs(i)), i)))
      val next = cs.indices.toArray.map { i =>
        val mine = pts.indices.filter(assign(_) == i)
        if (mine.isEmpty) cs(i)
        else unit(mine.foldLeft(new Array[Double](dim)) { (acc, j) =>
          var k = 0; while (k < dim) { acc(k) += pts(j)(k); k += 1 }; acc
        })
      }
      moved = cs.zip(next).exists { case (a, b) => d2(a, b) > 1e-9 }
      cs = next
      iter += 1
    }
    cs
  }

  /** Codegen'd argmax-of-cosine cell assignment against centroid
    * LITERALS: nlist dot products per row, one narrow pass, no model
    * broadcast, no MLlib on the scoring path. Centroids are unit
    * vectors, so argmax cos(v, cᵢ) = argmax dot(v, ĉᵢ) — |v| is
    * constant across i. Struct max breaks score ties on the LARGER
    * cell id (documented; both the build and the search assign through
    * this same expression, so the index is self-consistent). */
  private def cellOf(v: Column, centroids: Array[Array[Double]]): Column =
    array_max(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(V.dot(v, typedlit(c.toSeq)).as("cs"), lit(i).as("cell"))
    }: _*)).getField("cell")

  private[operators] def ivfFit(corpus: DataFrame, nlist: Int, seed: Long,
      trainCap: Long): Either[DataFrame, (DataFrame, DataFrame)] = {
    // zero-norm vectors (failed/padded embeds — a reality at corpus
    // scale) are undefined under cosine and can't rank anyway — drop
    val spreadCorpus = Dedup.spread(corpus)
      .withColumn("v", col("v").cast("array<double>"))
      .filter(V.norm2(col("v")) > 0)
    // At corpus scale the codebook is NEVER fit on every vector — that's
    // an O(iterations · corpus) clustering job for centroids a sample
    // estimates just as well (faiss trains IVF on ~(30-256)·nlist
    // points). Deterministic hash-ordered top-cap sample: a per-partition
    // heap + single driver merge (TakeOrderedAndProject), one scan, no
    // shuffle, no separate count() pass — then train locally.
    val cap = effectiveCap(trainCap, nlist)
    // Guard the driver in BYTES, not rows: a 10M-row cap that is harmless
    // at 16-d is ~80 GiB at 1024-d. Probing one row for the dimension is a
    // limit(1) scan — milliseconds against the collect it protects.
    val firstRow = spreadCorpus.select(col("id"), col("v")).take(1)
    if (firstRow.isEmpty) return Left(spreadCorpus.select("id", "v"))
    val dim = firstRow.head.getSeq[Double](1).length
    val sampleBytes = cap * dim.toLong * 8L
    require(sampleBytes <= TrainSampleByteBudget,
      s"trainCap $cap at dim $dim would collect $sampleBytes bytes to the " +
        s"driver (budget $TrainSampleByteBudget) — lower trainCap")
    val sample = spreadCorpus
      .select(col("id"), col("v"))
      .orderBy(xxhash64(col("id").cast("string")), col("id"))
      .limit(cap.toInt)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // sample size = min(n, cap) and cap > nlist, so a sample this small
    // means the corpus itself is no bigger than the cell count — scan it
    // exactly (also covers empty input; IVF gains nothing, k-means can't fit)
    if (sample.length <= nlist) return Left(spreadCorpus.select("id", "v"))
    val cb = sphericalKMeans(sample, nlist, seed)
    val cells = spreadCorpus
      .select(col("id"), col("v"), cellOf(col("v"), cb).as("cell"))
    // centroid table is nlist rows — driver-side, broadcast to probe
    val centroids = {
      val s = corpus.sparkSession
      import s.implicits._
      cb.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cv")
    }
    Right((cells, centroids))
  }

  /** (qid, qv, cell): each query paired with its `nprobe` nearest
    * centroids — the one definition the in-memory search and the
    * persisted-index search both probe through. */
  private def probeCells(centroids: DataFrame, queries: DataFrame,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qprobe = queries.as("q").join(broadcast(centroids))
      .select(col("q.qid"), col("q.qv"), col("cell"), V.cosine(col("q.qv"), col("cv")).as("cs"))
    val wProbe = Window.partitionBy("qid").orderBy(col("cs").desc, col("cell").asc)
    qprobe.withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nprobe).select("qid", "qv", "cell")
  }

  /** Rank the probed cells' vectors against pre-computed (qid, qv, cell)
    * probes — [[probeCells]] output, or a local relation of it when the
    * caller already collected the probes for pruning literals. */
  private def probeAndRank(cells: DataFrame, probes: DataFrame,
      k: Int, metric: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = withNorm(cells, "v").as("c")
      .join(broadcast(withNorm(probes, "qv").as("p")), "cell")
      .select(col("p.qid"), col("c.id"),
        round(pairScore(metric, col("p.qv"), col("c.v"),
          col("p.qv_nrm"), col("c.v_nrm")), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF ANN with a TRAINED codebook: a driver-side seeded spherical
    * k-means over a bounded hash-sample ([[sphericalKMeans]]) learns
    * `nlist` coarse centroids; [[cellOf]] assigns every corpus vector
    * to its cell in one narrow codegen'd pass against centroid literals
    * (no model broadcast, no MLlib); queries probe the `nprobe` nearest
    * cells. Bucketing persists as a partitioning, so repeated queries
    * only scan ~nprobe/nlist of the corpus. Mirrors Milvus's IVF index
    * + nprobe search param (vector_database/milvus_connector.py:176-188). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, metric: String = "cosine",
      seed: Long = 42L, trainCap: Long = -1L): DataFrame =
    ivfFit(corpus, nlist, seed, trainCap) match {
      // corpus no bigger than the cell count — scan it exactly (also
      // covers empty input)
      case Left(filtered) => bruteForceTopK(filtered, queries, k, metric)
      case Right((cells, centroids)) =>
        probeAndRank(cells, probeCells(centroids, queries, nprobe), k, metric)
    }

  /** Persist a trained IVF index — the Milvus create_index + load
    * lifecycle (vector_database/milvus_connector.py:118-160): build
    * once, search many times without re-training or re-assigning.
    * Layout: `dir/cells` holds (id, v) parquet PARTITIONED BY
    * (src, cell): `cell` is what a search's probe filter prunes on
    * (the scan opens ~nprobe/nlist of the files — src is a wildcard
    * level above it, pruning is unaffected), and `src` is the
    * SEGMENT tag [[IndexFamily.retireSrcs]] later drops in O(segment) — the
    * build lands as segment "base", each append as its own tag, so a
    * daily embedding crawl ages out of the vector store exactly like
    * the dedup histories (the rotating-segment design of the
    * reference's load_data/parquet_manager.py:38-). `dir/centroids`
    * holds the nlist-row codebook. */
  def buildIvfIndex(corpus: DataFrame, dir: String, nlist: Int = 16,
      seed: Long = 42L, trainCap: Long = -1L): Unit = {
    IndexFiles.clearTombstones(corpus.sparkSession, dir)
    val (cells, centroids) = ivfFit(corpus, nlist, seed, trainCap)
      .getOrElse(throw new IllegalArgumentException(
        s"corpus must exceed nlist=$nlist vectors to index"))
    cells.withColumn("src", lit("base"))
      // one task per cell before the partitioned write (guide §6) —
      // unrouted, every task writes a sliver into every cell dir
      .routeForWrite("cell")
      .write.mode("overwrite").partitionBy("src", "cell")
      .parquet(s"$dir/cells")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    // compact id sidecar for the append-time replayed-id guard: read the
    // ids back off the just-written cells (column-pruned, no re-assignment)
    val spark = corpus.sparkSession
    IndexFiles.writeIds(spark.read.parquet(s"$dir/cells").select("id"), dir)
    writeTrainStats(spark, dir)
  }

  /** Record the distribution the codebook was just fitted on — one row
    * of (n, mean_norm, centroid) over the freshly (re)written cells —
    * so [[retrainAdvisor]] can later measure drift against TRAINING
    * time. Meta-sized (the centroid is dim doubles); appends and
    * retirements deliberately leave it alone: the codebook they serve
    * is still the one this row describes. */
  private def writeTrainStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    writeTrainStatsOf(spark, dir,
      IndexFiles.dropTombstones(spark, dir,
        spark.read.parquet(s"$dir/cells").select(col("id"), col("v"))))

  /** [[writeTrainStats]] from an explicit (…, v) frame — the form the
    * CODE indexes use: IVF_SQ8 and IVF_PQ store cz/codes, not raw
    * vectors, so their builds/retrains record the fitted distribution
    * from the corpus frame in hand rather than reading cells back. */
  private def writeTrainStatsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame): Unit =
    graft.operators.Stats.vectorStats(vecs.select("v"), "v")
      .write.mode("overwrite").parquet(s"$dir/train_stats")

  /** Append a new batch to a persisted IVF index WITHOUT re-training:
    * the batch is assigned through the STORED codebook — the same
    * [[cellOf]] centroid-literal expression the build used — and its
    * files land in the existing cell partition directories. This is
    * the reference's operating mode (batches keep arriving,
    * embed_to_milvus.py:147-183; segments rotate-append,
    * load_data/parquet_manager.py:320): a daily pipeline must not
    * re-cluster history to add a day. Searching the appended index is
    * bit-equal to searching an index whose cells are (stored ∪ batch)
    * assigned through the same codebook; at nprobe = nlist that equals
    * exact brute force over the union. The codebook itself drifts from
    * what a fresh union-train would learn — re-train on schedule and
    * append between re-trains (the faiss/Milvus lifecycle).
    *
    * Batch ids must be disjoint from stored ids (checked —
    * probeAndRank has no per-id collapse, so a replayed id would
    * surface twice in any ranking it reaches). The guard reads the
    * compact `dir/ids` sidecar ([[IndexFiles]]) against the broadcast
    * batch — O(stored docs) of bare ids, independent of the cell
    * table's width; pre-sidecar indexes are backfilled on first append.
    * Crash-safe via [[IndexFiles.appendStaged]]: a job failure anywhere
    * leaves a state the next append repairs completely.
    *
    * `src` tags the batch as its own retireable segment
    * ([[IndexFamily.retireSrcs]]); a daily pipeline passes the crawl date. The
    * default collects untagged appends into one "ingest" segment —
    * existing callers keep working, and that segment retires as a
    * unit (or never, matching the pre-segmented behavior). */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    IndexFiles.healAppend(spark, dir, Seq("cells"))
    val cb = spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cb.nonEmpty, s"$dir/centroids is empty — not a built IVF index")
    requireBatchDim(batch, "v", cb(0).length)
    val b = Dedup.spread(batch)
      .withColumn("v", col("v").cast("array<double>"))
      .filter(V.norm2(col("v")) > 0)
    val batchIds = b.select("id").distinct()
    val replayed = IndexFiles
      .ensureIds(spark, dir, spark.read.parquet(s"$dir/cells").select("id"))
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already exists " +
        "in the index — replayed ids would duplicate search hits")
    IndexFiles.appendStaged(spark, dir, Seq(
      ("cells", b.select(col("id"), col("v"), cellOf(col("v"), cb).as("cell"))
        .withColumn("src", lit(src))
        .routeForWrite("cell"),
        Seq("src", "cell"))),
      Some(batchIds))
  }

  /** Replace-or-insert into a persisted IVF index — the index-level
    * form of the reference's delete-then-insert re-ingest flow
    * (milvus_connector.py:190-198 delete + insert; changed docs are
    * re-uploaded under their old ids). Batch ids already stored are
    * tombstoned and physically purged FIRST (one [[compactIvfIndex]] —
    * an O(index) rewrite, the honest cost Milvus amortizes in
    * background compaction; without the purge the appended replacement
    * would share its id with a tombstone and be filtered out of every
    * search), then the whole batch appends through the stored codebook
    * in O(batch). Degrades to a plain append when no batch id is
    * stored. Previously deleted-but-not-compacted ids upsert cleanly:
    * the purge clears their tombstones, the append re-admits them. */
  def upsertIntoIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    IndexFamily.ivf.heal(spark, dir)
    upsertVia(spark, dir, batch, indexedIds(spark, dir),
      () => compactIvfIndex(spark, dir),
      b => appendToIvfIndex(spark, dir, b, src))
  }

  /** [[upsertIntoIvfIndex]] for the sparse inverted index — same
    * purge-then-append contract over postings/doclens/stats. */
  def upsertIntoSparseIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    IndexFamily.sparse.heal(spark, dir)
    upsertVia(spark, dir, batch,
      indexedIds(spark, dir, payload = "postings"),
      () => compactSparseIndex(spark, dir),
      b => appendToSparseIndex(spark, dir, b, src))
  }

  /** [[upsertIntoIvfIndex]] for the BIN_FLAT index. */
  def upsertIntoBinaryIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    IndexFamily.binary.heal(spark, dir)
    upsertVia(spark, dir, batch,
      indexedIds(spark, dir, payload = "bits"),
      () => compactBinaryIndex(spark, dir),
      b => appendToBinaryIndex(spark, dir, b, src))
  }

  /** [[upsertIntoIvfIndex]] for the IVF-PQ index — replacements are
    * re-encoded through the STORED codebooks like any append. */
  def upsertIntoIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    IndexFamily.ivfPq.heal(spark, dir)
    upsertVia(spark, dir, batch,
      indexedIds(spark, dir, payload = "codes"),
      () => compactIvfPqIndex(spark, dir),
      b => appendToIvfPqIndex(spark, dir, b, src))
  }

  /** The shared upsert body: tombstone + purge the batch's stored ids,
    * then append the whole batch. Caller heals its family first (the
    * stored-id read must not see a half-appended batch). */
  private def upsertVia(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, stored: => DataFrame,
      compactFn: () => Unit, append: DataFrame => Unit): Unit = {
    if (batch.isEmpty) return
    val batchIds = batch.select(col("id")).distinct()
    val replaced = stored.join(broadcast(batchIds), Seq("id"), "left_semi")
    if (!replaced.isEmpty) {
      IndexFiles.writeTombstones(replaced, dir)
      compactFn()
    }
    append(batch)
  }

  /** Physically purge tombstoned rows ([[IndexFiles.compact]] over the
    * cells table): search results are bit-equal before and after (the
    * search filter and the rewrite drop exactly the same rows), purged
    * ids become appendable again, and the codebook is untouched —
    * re-train on schedule if the surviving distribution drifts. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexFiles.compact(spark, dir, Map("cells" -> Seq("src", "cell")))

  /** Re-train a persisted IVF index in place — the missing half of the
    * documented append-between-retrains lifecycle ([[appendToIvfIndex]]:
    * appends assign through the STORED codebook, which drifts from what
    * a fresh union-train would learn as the ingested distribution
    * moves). Re-fits the coarse codebook from the stored vectors (IVF
    * stores them — no external corpus needed) and re-assigns every row,
    * staged and swapped via [[IndexFiles.replaceTable]] so no crash
    * window loses data. O(corpus) — one assignment pass over the cells
    * — run on schedule, not per batch.
    *
    * Tombstoned rows are EXCLUDED from the training sample (a deleted
    * doc must not pull centroids) but kept in the rewritten cells:
    * delete semantics are unchanged and compaction still purges them.
    * The ids sidecar is untouched (same ids). A crash between the cells
    * swap and the centroids swap leaves cells grouped by the new
    * codebook while probes rank against the old one — searches stay
    * sound (full probe remains exact; low-nprobe recall dips) and
    * re-running the retrain converges; no data is lost.
    * `nlist <= 0` keeps the stored cell count. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int = -1, seed: Long = 42L, trainCap: Long = -1L): Unit = {
    IndexFiles.healAppend(spark, dir, Seq("cells"))
    IndexFiles.requireLiveTable(spark, dir, "cells")
    IndexFiles.requireLiveTable(spark, dir, "centroids")
    // keep each row's src: a retrain re-assigns cells but must not
    // merge retirement segments (the window keeps aging correctly)
    val stored = spark.read.parquet(s"$dir/cells")
      .select(col("id"), col("v"), col("src"))
    val k =
      if (nlist > 0) nlist
      else spark.read.parquet(s"$dir/centroids").count().toInt
    require(k >= 1, s"nlist must be >= 1, got $k")
    val live = IndexFiles.dropTombstones(spark, dir, stored)
    val firstRow = live.select(col("v")).take(1)
    require(firstRow.nonEmpty, s"$dir/cells has no live vectors to retrain on")
    val dim = firstRow.head.getSeq[Double](0).length
    val sample = hashSample(live.select(col("id"), col("v")), "v",
      effectiveCap(trainCap, k), dim)
    require(sample.length > k,
      s"index must exceed nlist=$k live vectors to retrain (got ${sample.length})")
    val cb = sphericalKMeans(sample, k, seed)
    // rewrite cells FIRST, centroids second: the crash window between
    // them then under-probes (documented above) instead of ranking
    // probes against centroids no cell is grouped by
    IndexFiles.replaceTable(spark, dir, "cells",
      stored.select(col("id"), col("v"), col("src"),
        cellOf(col("v"), cb).as("cell")),
      Seq("src", "cell"))
    val s = spark
    import s.implicits._
    IndexFiles.replaceTable(spark, dir, "centroids",
      cb.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "cv"), Nil)
    writeTrainStats(spark, dir)
  }

  /** Persist an IVF_SQ8 index — the named Milvus index family between
    * IVF_FLAT and IVF_PQ (the index_type dispatch the reference
    * configures, vector_database/milvus_connector.py:65-73): the same
    * trained coarse quantizer and cell-partitioned layout as
    * [[buildIvfIndex]], but the cells store [[V.quantizeSq8]] structs
    * instead of raw vectors — 4× fewer at-rest bytes (8× vs the double
    * arrays Spark computes in) at near-zero recall cost, because each
    * row keeps its OWN scale (what PQ's shared codebooks cannot), and
    * scoring dequantizes inside whole-stage codegen ([[V.dotSq8]]).
    * Layout: `dir/cells` = (id, cz) parquet PARTITIONED BY cell;
    * `dir/centroids` = the coarse codebook (raw doubles — probes need
    * full precision); `dir/ids` = the append-guard sidecar.
    *
    * Retrain-on-drift = rebuild: the index stores codes, not vectors,
    * and unlike IVF-PQ there is no residual coupling to migrate — the
    * build is overwrite-mode, so `buildIvfSq8Index` over the current
    * corpus IS the retrain (or keep raw vectors in a sibling IVF index
    * and [[retrainIvfIndex]] that). */
  def buildIvfSq8Index(corpus: DataFrame, dir: String, nlist: Int = 16,
      seed: Long = 42L, trainCap: Long = -1L): Unit = {
    IndexFiles.clearTombstones(corpus.sparkSession, dir)
    val (cells, centroids) = ivfFit(corpus, nlist, seed, trainCap)
      .getOrElse(throw new IllegalArgumentException(
        s"corpus must exceed nlist=$nlist vectors to index"))
    cells.select(col("id"), V.quantizeSq8(col("v")).as("cz"), col("cell"))
      .withColumn("src", lit("base"))
      .routeForWrite("cell")
      .write.mode("overwrite").partitionBy("src", "cell")
      .parquet(s"$dir/cells")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val spark = corpus.sparkSession
    IndexFiles.writeIds(spark.read.parquet(s"$dir/cells").select("id"), dir)
    // the cells store codes — record the fitted distribution from the
    // raw fit frame (rebuild IS this family's retrain, so build-time
    // stats are always the serving codebook's)
    writeTrainStatsOf(spark, dir, cells)
  }

  /** Append to a persisted IVF_SQ8 index through the STORED codebook —
    * the [[appendToIvfIndex]] contract (O(batch), replay-guarded,
    * crash-safe via [[IndexFiles.appendStaged]]), with the batch
    * quantized by the same [[V.quantizeSq8]] expression the build used
    * (per-row scales, so append-then-search is bit-equal to
    * rebuild-then-search — spec-pinned). */
  def appendToIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    IndexFiles.healAppend(spark, dir, Seq("cells"))
    val cb = spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cb.nonEmpty, s"$dir/centroids is empty — not a built IVF_SQ8 index")
    requireBatchDim(batch, "v", cb(0).length)
    val b = Dedup.spread(batch)
      .withColumn("v", col("v").cast("array<double>"))
      .filter(V.norm2(col("v")) > 0)
    val batchIds = b.select("id").distinct()
    val replayed = IndexFiles
      .ensureIds(spark, dir, spark.read.parquet(s"$dir/cells").select("id"))
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already exists " +
        "in the index — replayed ids would duplicate search hits")
    IndexFiles.appendStaged(spark, dir, Seq(
      ("cells", b.select(col("id"), V.quantizeSq8(col("v")).as("cz"),
        cellOf(col("v"), cb).as("cell")).withColumn("src", lit(src))
        .routeForWrite("cell"),
        Seq("src", "cell"))),
      Some(batchIds))
  }

  /** Search a persisted IVF_SQ8 index: probe the nprobe nearest cells
    * (same static literal partition pruning as [[searchIvfIndex]] —
    * only the probed cells' files are listed, ~nprobe/nlist of the
    * index bytes, each 4× smaller than raw), then score the pruned
    * scan by dequantized inner product — the query quantized once per
    * probe row, [[V.dotSq8]] in codegen over the stored codes. Exact
    * over the QUANTIZED values: at nprobe = nlist this equals
    * [[sq8TopK]] over the whole corpus bit-for-bit (spec-pinned, and
    * the cross-engine q_ann_ivf_sq8 oracle reproduces it). */
  def searchIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    IndexFiles.requireNoPendingAppend(spark, dir)
    IndexFiles.requireLiveTable(spark, dir, "cells")
    IndexFiles.requireLiveTable(spark, dir, "centroids")
    val centroids = spark.read.parquet(s"$dir/centroids")
    val pc = probeCells(centroids, queries, nprobe)
    val probeRows = pc.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), pc.schema)
    val probed = probeRows.map(_.getAs[Int]("cell")).distinct.toSeq
    // type the pruning literals off the actual partition-column schema
    // (the searchLshIndex lesson — a mismatch inserts a cast that
    // defeats static pruning)
    val raw = spark.read.parquet(s"$dir/cells")
    val cellIsInt =
      raw.schema("cell").dataType == org.apache.spark.sql.types.IntegerType
    val typed: Seq[Any] = if (cellIsInt) probed else probed.map(_.toLong)
    val pruned = (if (probed.isEmpty) raw.filter(lit(false))
                  else raw.filter(col("cell").isin(typed: _*)))
      .withColumn("cell", col("cell").cast("int"))
    val live = IndexFiles.dropTombstones(spark, dir, pruned)
    val qz = probes.select(col("qid"), col("cell"),
      V.quantizeSq8(col("qv")).as("qz"))
    val scored = live.as("c").join(broadcast(qz.as("p")), "cell")
      .select(col("p.qid"), col("c.id"),
        round(V.dotSq8(col("p.qz"), col("c.cz")), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Two-stage refined search over a persisted IVF_SQ8 index — SQ8
    * coarse recall off the compressed cells, exact rescore of only the
    * q×k·factor survivors against the raw `corpus` (the index stores
    * codes, so the exact pass takes the corpus as an argument — same
    * contract and corpus-coverage guard as
    * [[searchIvfPqIndexRefined]]). */
  def searchIvfSq8IndexRefined(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, factor: Int = 3, metric: String = "cosine"): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val cand = searchIvfSq8Index(spark, dir, queries, k * factor, nprobe)
      .select(col("qid"), col("id"))
    requireCorpusCovers(corpus, cand)
    exactRescore(corpus, queries, cand, k, metric)
  }

  /** Physically purge tombstoned rows — [[compactIvfIndex]] over the
    * quantized cells. */
  def compactIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexFiles.compact(spark, dir, Map("cells" -> Seq("src", "cell")))

  /** [[upsertIntoIvfIndex]] for the IVF_SQ8 index — replacements are
    * re-quantized and re-assigned through the stored codebook like any
    * append. */
  def upsertIntoIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    IndexFamily.ivfSq8.heal(spark, dir)
    upsertVia(spark, dir, batch, indexedIds(spark, dir),
      () => compactIvfSq8Index(spark, dir),
      b => appendToIvfSq8Index(spark, dir, b, src))
  }

  /** `_retrain_pending` marks an IVF-PQ retrain in flight. Unlike the
    * IVF index (raw vectors — a half-swapped retrain only dips recall),
    * the PQ index's codes are meaningless without the EXACT codebooks
    * that produced them: a crash between the codes swap and the
    * centroids/pq swaps would leave searches decoding new codes with
    * old codebooks — confidently wrong distances, not degraded ones.
    * The marker brackets the three swaps, so every reader/mutator of
    * the code↔codebook pairing refuses loudly while it stands; only
    * re-running the retrain (which rewrites all three and clears the
    * marker) repairs the state. */
  private val RetrainMarker = "_retrain_pending"

  private[operators] def requireNoPendingRetrain(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$RetrainMarker")
    require(!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"interrupted retrain at $dir ($RetrainMarker pending) — codes and " +
        "codebooks may disagree; re-run retrainIvfPqIndex(spark, dir, " +
        "corpus) to converge before using the index")
  }

  /** Re-train a persisted IVF-PQ index — same schedule-driven lifecycle
    * as [[retrainIvfIndex]], but the index stores only codes, so
    * re-encoding needs the original vectors: `corpus` (id, v) must
    * cover EXACTLY the indexed ids (checked against the id sidecar —
    * a drifted corpus would silently re-encode the wrong rows). Both
    * codebooks re-fit on the live distribution; codes rewrite staged
    * and swapped; ids sidecar and tombstones preserved. The three
    * table swaps cannot be atomic together, so they are bracketed by
    * the `_retrain_pending` marker: a crash mid-retrain leaves an
    * index that REFUSES searches/appends/compaction (codes and
    * codebooks may disagree — wrong rankings, not just low recall)
    * until the retrain is re-run, which converges. */
  def retrainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, nlist: Int = -1, seed: Long = 42L,
      trainCap: Long = -1L): Unit = {
    IndexFiles.healAppend(spark, dir, Seq("codes"))
    IndexFiles.requireLiveTable(spark, dir, "codes")
    IndexFiles.requireLiveTable(spark, dir, "centroids")
    IndexFiles.requireLiveTable(spark, dir, "pq")
    val c = Dedup.spread(corpus)
      .withColumn("v", col("v").cast("array<double>"))
      .filter(V.norm2(col("v")) > 0)
    val indexed = Ann.indexedIds(spark, dir, payload = "codes")
    val corpusIds = c.select("id").distinct()
    val missing = indexed.join(broadcast(corpusIds), Seq("id"), "left_anti")
      .limit(1).collect()
    require(missing.isEmpty,
      s"corpus is missing indexed id ${missing.headOption.map(_.get(0)).orNull}" +
        " — retrain needs every indexed vector")
    val extra = corpusIds.join(broadcast(indexed), Seq("id"), "left_anti")
      .limit(1).collect()
    require(extra.isEmpty,
      s"corpus carries unindexed id ${extra.headOption.map(_.get(0)).orNull}" +
        " — append it instead of smuggling it in through a retrain")
    val oldPq = readPqCodebooks(spark, dir)
    val (m, ksub) = (oldPq.length, oldPq(0).length)
    val k =
      if (nlist > 0) nlist
      else spark.read.parquet(s"$dir/centroids").count().toInt
    // train on the live rows only; re-encode everything (tombstones
    // keep hiding their rows until compaction)
    val liveC = IndexFiles.dropTombstones(spark, dir, c)
    val (liveCells, centroids) = ivfFit(liveC, k, seed, trainCap)
      .getOrElse(throw new IllegalArgumentException(
        s"index must exceed nlist=$k live vectors to retrain"))
    val dim = centroids.head().getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val cbs = trainPqResidual(pqResiduals(liveCells, centroids), dim, m, ksub,
      seed, trainCap).getOrElse(throw new IllegalArgumentException(
        s"index must exceed ksub=$ksub live vectors to retrain"))
    val cbArr = centroids.orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    val allCells = c.select(col("id"), col("v"), cellOf(col("v"), cbArr).as("cell"))
    // each re-encoded row keeps its stored src: a retrain re-fits
    // codebooks but must not merge retirement segments (replaceTable
    // stages the new files while the old ones are still readable, so
    // this self-join is consistent)
    val srcOf = spark.read.parquet(s"$dir/codes").select(col("id"), col("src"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/$RetrainMarker")
    fs.create(marker, true).close()
    IndexFiles.replaceTable(spark, dir, "codes",
      pqResiduals(allCells, centroids)
        .select(col("id"), col("cell"), pqCodes(col("res"), cbs).as("codes"))
        .join(srcOf, "id"),
      Seq("src", "cell"))
    IndexFiles.replaceTable(spark, dir, "centroids", centroids, Nil)
    val s = spark
    import s.implicits._
    IndexFiles.replaceTable(spark, dir, "pq",
      cbs.zipWithIndex.flatMap { case (cbk, j) =>
        cbk.zipWithIndex.map { case (cv, ci) => (j, ci, cv.toSeq) }
      }.toSeq.toDF("sub", "code", "vec"), Nil)
    // PQ codebook drift is the silent kind (codes decode through the
    // trained codebooks) — record the freshly fitted distribution so
    // [[retrainAdvisorIvfPq]] measures against THIS generation
    writeTrainStatsOf(spark, dir, liveC)
    require(fs.delete(marker, false), s"clear retrain marker $marker failed")
  }

  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    requireNoPendingRetrain(spark, dir)
    IndexFiles.compact(spark, dir, Map("codes" -> Seq("src", "cell")))
  }

  def compactSparseIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // heal with the sparse-specific stats refresh BEFORE the generic
    // compact (whose own heal knows nothing of the derived stats file);
    // its inner healAppend then finds nothing to do
    IndexFamily.sparse.heal(spark, dir)
    val hadTombstones = IndexFiles.tombstones(spark, dir).isDefined
    val dlPath = new org.apache.hadoop.fs.Path(s"$dir/doclens")
    val hasDoclens =
      dlPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dlPath)
    IndexFiles.compact(spark, dir,
      if (hasDoclens)
        Map("postings" -> Seq("src", "tbucket"), "doclens" -> Seq("src"))
      else Map("postings" -> Seq("src", "tbucket")))
    // the purge shrank doclens — re-derive the 1-row global stats
    if (hadTombstones && hasDoclens) refreshSparseStats(spark, dir)
  }

  /** The distinct ids a persisted guarded index (IVF / IVF-PQ / sparse)
    * currently covers — public face of the id sidecar for callers
    * (e.g. streaming replay checks) outside this package. `payload`
    * names the table whose id column backs a pre-sidecar index. */
  def indexedIds(spark: org.apache.spark.sql.SparkSession, dir: String,
      payload: String = "cells"): DataFrame =
    IndexFiles.storedIds(spark, dir,
      spark.read.parquet(s"$dir/$payload").select("id").distinct())

  /** Search a persisted IVF index. Same results as [[ivfTopK]] with the
    * build's parameters; only the probed cells' partitions are read.
    * Like [[searchLshIndex]], the probed cell ids are collected
    * driver-side (nprobe·|queries| ints by construction) and applied as
    * typed literal partition filters — STATIC pruning at the file
    * index, not a hope that dynamic partition pruning fires on the
    * probe join. A bare broadcast join would scan every cell whenever
    * DPP declines (it needs a selective build-side filter), which at
    * 100 TB is the difference between reading nprobe/nlist and reading
    * everything. */
  /** [[searchIvfIndex]] restricted to an allowed-id set — the Milvus
    * search-with-expr composite over an INDEXED collection: the scalar
    * predicate runs where the scalar fields live (the caller's
    * collection table, pushed into that scan), and the resulting id
    * set filters the probed cells BEFORE ranking — an excluded id can
    * never displace an allowed hit, which post-rank filtering would
    * get wrong. `allowed` broadcasts; size it like any semi-join build
    * side (selective predicates at 100 TB yield small allowed sets —
    * for unselective ones search unfiltered and let the caller join). */
  def searchIvfIndexFiltered(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int, allowed: DataFrame,
      nprobe: Int = 4, metric: String = "cosine"): DataFrame =
    searchIvfIndex(spark, dir, queries, k, nprobe, metric,
      allowedIds = Some(allowed))

  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      metric: String = "cosine",
      allowedIds: Option[DataFrame] = None): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    IndexFiles.requireLiveTable(spark, dir, "cells")
    IndexFiles.requireLiveTable(spark, dir, "centroids")
    val centroids = spark.read.parquet(s"$dir/centroids")
    // Compute the probes ONCE: collect the (qid, qv, cell) rows —
    // nprobe·|queries| by construction — and derive BOTH the pruning
    // literals and the rank join's probe side from that one result (as
    // a local relation), instead of running the probe plan a second
    // time inside the rank.
    val pc = probeCells(centroids, queries, nprobe)
    val probeRows = pc.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), pc.schema)
    val probed = probeRows.map(_.getAs[Int]("cell")).distinct.toSeq
    // `cell` is a partition column on read; inference yields INT for
    // these directory values, but type the literals off the actual
    // schema (the searchLshIndex lesson: a literal/attribute type
    // mismatch inserts a cast that silently defeats the pruning).
    val raw = spark.read.parquet(s"$dir/cells")
    val cellIsInt =
      raw.schema("cell").dataType == org.apache.spark.sql.types.IntegerType
    val typed: Seq[Any] = if (cellIsInt) probed else probed.map(_.toLong)
    val pruned = (if (probed.isEmpty) raw.filter(lit(false))
                  else raw.filter(col("cell").isin(typed: _*)))
      .withColumn("cell", col("cell").cast("int"))
    // tombstoned ids ([[IndexFiles.writeTombstones]]) never reach the
    // ranking — bit-equal to searching the physically compacted index
    val live = IndexFiles.dropTombstones(spark, dir, pruned)
    // allowed-id restriction ([[searchIvfIndexFiltered]]) applies before
    // the rank for the same reason the tombstone filter does
    val scoped = allowedIds.fold(live)(a =>
      live.join(broadcast(a.select(col("id")).distinct()), Seq("id"), "left_semi"))
    probeAndRank(scoped, probes, k, metric)
  }

  /** Cluster-balanced downsample through the persisted IVF index's own
    * cell assignment — the geometry-aware sibling of
    * [[graft.operators.Curate.stratifiedSample]]: metadata strata
    * (lang, source) cannot see REDUNDANCY, but the index's cells can —
    * a crawl whose mass piles into one region of embedding space (a
    * template family, a boilerplate cluster) keeps at most `perCell`
    * rows per cell, so dense regions stop crowding out the tails in a
    * token-budgeted diet (the cluster-then-sample half of the SemDeDup
    * recipe, reusing the codebook the store already trained instead of
    * clustering again). Selection is the engine-stable md5 hash rank —
    * no RNG, deterministic under re-runs and repartitioning, ties on
    * id — and tombstoned ids never surface. Returns (id, cell, rank).
    *
    * Scale shape: a per-cell window over the cells table — the key
    * space is nlist values, and the plain `row_number <= perCell`
    * filter lets Catalyst infer a WindowGroupLimit, so every input
    * partition is capped at perCell rows per cell BEFORE the exchange
    * (the contrastiveTriplets prune); nothing here reads vectors. */
  def clusterBalancedSample(spark: org.apache.spark.sql.SparkSession,
      dir: String, perCell: Int, seed: Int = 29): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(perCell > 0, s"perCell must be positive, got $perCell")
    IndexFiles.requireNoPendingAppend(spark, dir)
    IndexFiles.requireLiveTable(spark, dir, "cells")
    val live = IndexFiles.dropTombstones(spark, dir,
      spark.read.parquet(s"$dir/cells")
        .select(col("id"), col("cell").cast("int").as("cell")))
    val w = Window.partitionBy("cell").orderBy(
      graft.functions.HashFunctions.hash32(seed, col("id").cast("string")).asc,
      col("id").asc)
    live.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perCell)
  }

  /** Plain L2 Lloyd's k-means (k-means++ seeding, MEAN centroids, no
    * normalization) over an in-memory sample — the per-subspace PQ
    * trainer. [[sphericalKMeans]] unit-normalizes its centroids, which
    * is right for coarse cosine cells and would destroy the subvector
    * magnitudes PQ reconstruction depends on. Deterministic like its
    * sibling: seeded RNG, ties and empty clusters resolve to the
    * incumbent. */
  private[graft] def kmeansL2(sample: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int = 20): Array[Array[Double]] = {
    val dim = sample.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer(
      sample(rnd.nextInt(sample.length)))
    while (centers.length < k) {
      val w = sample.map(p => centers.map(c => d2(p, c)).min)
      val total = w.sum
      centers += (if (total <= 0) sample(rnd.nextInt(sample.length)) else {
        val r = rnd.nextDouble() * total
        var acc = 0.0; var i = 0
        while (i < sample.length - 1 && acc + w(i) < r) { acc += w(i); i += 1 }
        sample(i)
      })
    }
    var cs = centers.toArray
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val assign = sample.map(p => cs.indices.minBy(i => (d2(p, cs(i)), i)))
      val next = cs.indices.toArray.map { i =>
        val mine = sample.indices.filter(assign(_) == i)
        if (mine.isEmpty) cs(i)
        else {
          val acc = new Array[Double](dim)
          mine.foreach { j =>
            var t = 0; while (t < dim) { acc(t) += sample(j)(t); t += 1 }
          }
          acc.map(_ / mine.length)
        }
      }
      moved = cs.zip(next).exists { case (a, b) => d2(a, b) > 1e-12 }
      cs = next
      iter += 1
    }
    cs
  }

  /** Per-subspace PQ codebooks: result(j)(c) is centroid c of subspace
    * j, trained by [[kmeansL2]] on the sample's j-th dsub-dim slice. */
  private[graft] def trainPq(sample: Array[Array[Double]], m: Int,
      ksub: Int, seed: Long): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      kmeansL2(sub, ksub, seed + j)
    }
  }

  /** Codegen'd PQ encoder: array of m argmin-distance codes against
    * centroid literals. argmin ||sub − C||² = argmin (||C||² − 2·sub·C)
    * — the ||sub||² term is constant across candidates, so each
    * subspace costs ksub dot products and no square roots. Struct min
    * breaks distance ties on the SMALLER code (both encode and any
    * future decode agree). */
  private def pqCodes(v: Column, cbs: Array[Array[Array[Double]]]): Column = {
    val dsub = cbs(0)(0).length
    array(cbs.zipWithIndex.map { case (cb, j) =>
      val sub = slice(v, j * dsub + 1, dsub)
      array_min(array(cb.zipWithIndex.map { case (c, ci) =>
        val c2 = c.map(x => x * x).sum
        struct((lit(c2) - lit(2.0) * V.dot(sub, typedlit(c.toSeq))).as("d"),
          lit(ci).as("c"))
      }: _*)).getField("c")
    }: _*)
  }

  /** Per-query ADC lookup table: lut(j)(c) = the subspace-j score of
    * centroid c against THIS query — dot(qsub, C) for ip,
    * −||qsub − C||² for l2 (so summed scores are the approximate full
    * dot / negated squared distance, "higher is better" uniformly). */
  private def pqLut(qv: Column, cbs: Array[Array[Array[Double]]],
      metric: String): Column = {
    val dsub = cbs(0)(0).length
    array(cbs.zipWithIndex.map { case (cb, j) =>
      val sub = slice(qv, j * dsub + 1, dsub)
      array(cb.map { c =>
        val cl = typedlit(c.toSeq)
        metric match {
          case "ip" => V.dot(sub, cl)
          case "l2" =>
            lit(2.0) * V.dot(sub, cl) - lit(c.map(x => x * x).sum) -
              V.dot(sub, sub)
          case m => throw new IllegalArgumentException(s"pq supports ip|l2, got $m")
        }
      }: _*)
    }: _*)
  }

  /** Product-quantization top-k with asymmetric distance computation
    * (Jégou, Douze, Schmid 2011 — the Milvus/faiss IVF_PQ code path's
    * scoring half; the reference's own dense index is FLAT
    * (vector_database/milvus_connector.py:65-73), so this extends the
    * surface the way SQ8 does, further down the compression curve).
    * Each vector is stored as m subspace codes (m bytes at ksub ≤ 256
    * vs dim·8 raw — a 32-128× scan-size cut at 100 TB); queries stay
    * full-precision and pre-compute an m×ksub lookup table of subspace
    * scores, so scoring a pair is m array lookups + adds, all inside
    * codegen (zip_with/aggregate), no UDF. The codebook trains
    * driver-side on the same hash-ordered byte-bounded sample IVF uses;
    * corpus vectors never shuffle — codes join the broadcast query LUTs
    * exactly like [[bruteForceTopK]], with per-partition top-k before
    * the final rank. Approximate by construction (quantization error),
    * so graded by recall + spec'd reconstruction monotonicity rather
    * than a SQL oracle.
    *
    * Plan-size envelope: the codebooks ride the plan as literals —
    * ksub·dim doubles total across [[pqCodes]]/[[pqLut]]. Keep
    * ksub·dim ≲ 100k (e.g. ksub 256 × dim ≤ 384, or ksub 16 at any
    * practical dim); past that, whole-stage codegen falls back to
    * interpreted evaluation for the encode projection and the plan
    * shipped to every task bloats — switch the encode to a
    * broadcast-array mapPartitions variant before going there. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      ksub: Int = 16, metric: String = "ip", seed: Long = 42L,
      trainCap: Long = -1L): DataFrame =
    pqTopKWithCodebooks(corpus, queries, k, m, ksub, metric, seed,
      trainCap)._1

  /** [[pqTopK]] plus the TRAINED codebooks flattened to
    * (sub, code, d, val) rows — the cross-engine hand-off that makes
    * full-ksub ADC scoring hash-exact (the w2v-vectors trick): the
    * k-means fit itself has no SQL form, but given the trained table
    * both engines can read, the encode (argmin ||sub − C||², ties →
    * smaller code) and the LUT-sum scoring ARE plain SQL. None on the
    * brute-force fallbacks (empty corpus / corpus no bigger than one
    * codebook), where nothing was trained. */
  def pqTopKWithCodebooks(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, metric: String = "ip", seed: Long = 42L,
      trainCap: Long = -1L): (DataFrame, Option[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    require(metric == "ip" || metric == "l2",
      s"pq supports ip|l2, got $metric")
    // ksub=1 is the cross-engine oracle degenerate: one centroid per
    // subspace = the subspace mean of the training sample (k-means with
    // one center converges in one step), codes are all zero, and the ADC
    // score collapses to a closed form plain SQL can reproduce. With
    // the codebook hand-off above, full ksub is ALSO hash-exact — only
    // the fit itself stays rows-only. Real indexes use ksub in [2,256].
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256], got $ksub")
    val c0 = Dedup.spread(corpus).withColumn("v", col("v").cast("array<double>"))
    val firstRow = c0.select(col("v")).take(1)
    if (firstRow.isEmpty)
      return (bruteForceTopK(corpus, queries, k, metric), None)
    val dim = firstRow.head.getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val sample = hashSample(c0.select(col("id"), col("v")), "v",
      effectiveCap(trainCap, ksub), dim)
    // a corpus no bigger than one codebook gains nothing from PQ — and
    // k-means can't seed ksub distinct centers. Scan it exactly.
    if (sample.length <= ksub)
      return (bruteForceTopK(corpus, queries, k, metric), None)
    val cbs = trainPq(sample, m, ksub, seed)
    val codes = c0.select(col("id"), pqCodes(col("v"), cbs).as("codes"))
    val q = queries
      .withColumn("qv", col("qv").cast("array<double>"))
      .select(col("qid"), pqLut(col("qv"), cbs, metric).as("lut"))
    val scored = codes.join(broadcast(q))
      .select(col("qid"), col("id"),
        round(aggregate(
          zip_with(col("codes"), col("lut"), (cd, row) => element_at(row, cd + 1)),
          lit(0.0), (a, x) => a + x), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    val topk = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val sess = corpus.sparkSession
    import sess.implicits._
    val cbDf = cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.flatMap { case (c, ci) =>
        c.zipWithIndex.map { case (x, d) => (j, ci, d, x) } }
    }.toSeq.toDF("sub", "code", "d", "val")
    (topk, Some(cbDf))
  }

  /** IVF-PQ: the coarse quantizer of [[ivfTopK]] over the residual
    * encoding of [[pqTopK]] — the full Milvus/faiss IVF_PQ index
    * (IVFADC in Jégou, Douze, Schmid 2011). Corpus vectors are assigned
    * to nlist cells, their RESIDUALS v − centroid(cell) are PQ-encoded
    * (residuals are smaller and better centered than raw vectors, so
    * the same ksub spends its codes where the mass is), and a query
    * probes its nprobe nearest cells with a PER-CELL lookup table over
    * its own residual q − centroid. Scoring is −‖qres − r̂‖² per
    * subspace — L2 ADC, the classic IVFADC metric. At 100 TB this
    * composes both cuts: the probe touches ~nprobe/nlist of the corpus
    * and the touched bytes are m codes per vector, not dim floats.
    * Both codebooks train driver-side on byte-bounded hash samples;
    * the per-(query, cell) LUTs are q×nprobe rows, broadcast like the
    * probes themselves. Approximate (coarse + quantization error) —
    * graded by recall specs; rows-only query. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, trainCap: Long = -1L): DataFrame = {
    // ksub=1 (with nlist=1) is the oracle degenerate — see [[pqTopK]]
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1,256], got $ksub")
    ivfFit(corpus, nlist, seed, trainCap) match {
      // corpus no bigger than the cell count — scan it exactly
      case Left(filtered) => bruteForceTopK(filtered, queries, k, "l2")
      case Right((cells, centroids)) =>
        val dim = centroids.head().getSeq[Double](1).length
        require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
        val res = pqResiduals(cells, centroids)
        trainPqResidual(res, dim, m, ksub, seed, trainCap) match {
          // corpus no bigger than one codebook — PQ gains nothing
          case None => bruteForceTopK(cells.select("id", "v"), queries, k, "l2")
          case Some(cbs) =>
            val codes = res.select(col("id"), col("cell"),
              pqCodes(col("res"), cbs).as("codes"))
            adcRank(codes,
              ivfPqLuts(probeCells(centroids, queries, nprobe), centroids, cbs), k)
        }
    }
  }

  /** (id, cell, res): cells with their residual v − centroid(cell). */
  private def pqResiduals(cells: DataFrame, centroids: DataFrame): DataFrame =
    cells.join(broadcast(centroids), "cell")
      .select(col("id"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("res"))

  /** Byte-bounded (TrainSampleByteBudget), deterministic hash-ordered
    * driver sample of `vecCol` — the ONE sampling recipe every
    * driver-side trainer uses. */
  private def hashSample(df: DataFrame, vecCol: String, cap: Long,
      dim: Int): Array[Array[Double]] = {
    val sampleBytes = cap * dim.toLong * 8L
    require(sampleBytes <= TrainSampleByteBudget,
      s"trainCap $cap at dim $dim would collect $sampleBytes bytes to " +
        s"the driver (budget $TrainSampleByteBudget) — lower trainCap")
    df.orderBy(xxhash64(col("id").cast("string")), col("id"))
      .limit(cap.toInt).select(vecCol).collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Byte-bounded hash-ordered residual sample → [[trainPq]] codebooks;
    * None when the corpus is no bigger than one codebook. */
  private def trainPqResidual(res: DataFrame, dim: Int, m: Int, ksub: Int,
      seed: Long, trainCap: Long): Option[Array[Array[Array[Double]]]] = {
    val sample = hashSample(res, "res", effectiveCap(trainCap, ksub), dim)
    if (sample.length <= ksub) None else Some(trainPq(sample, m, ksub, seed))
  }

  /** Per-(query, probed cell) residual LUTs — q×nprobe rows, broadcast
    * like the probes themselves. */
  private def ivfPqLuts(probes: DataFrame, centroids: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame =
    probes.join(broadcast(centroids), "cell")
      .select(col("qid"), col("cell"),
        pqLut(zip_with(col("qv").cast("array<double>"), col("cv"),
          (a, b) => a - b), cbs, "l2").as("lut"))

  /** ADC scoring + per-query rank over (id, cell, codes) rows. */
  private def adcRank(codes: DataFrame, luts: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = codes.join(broadcast(luts), "cell")
      .select(col("qid"), col("id"),
        round(aggregate(
          zip_with(col("codes"), col("lut"), (cd, row) => element_at(row, cd + 1)),
          lit(0.0), (a, x) => a + x), 4).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Persist a trained IVF-PQ index — [[buildIvfIndex]]'s lifecycle at
    * the IVF_PQ compression point: `dir/codes` holds (id, codes)
    * PARTITIONED BY cell (m small ints per vector instead of dim
    * doubles — the scan a search pays is ~nprobe/nlist of the corpus
    * at 1/32-1/128 the bytes of the raw vectors), `dir/centroids` the
    * coarse codebook, `dir/pq` the m×ksub subspace codebooks, `dir/ids`
    * the replayed-id sidecar. Search is self-describing from the
    * persisted artifacts alone; the raw corpus is not needed again. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, nlist: Int = 16,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      trainCap: Long = -1L): Unit = {
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2,256], got $ksub")
    IndexFiles.clearTombstones(corpus.sparkSession, dir)
    val (cells, centroids) = ivfFit(corpus, nlist, seed, trainCap)
      .getOrElse(throw new IllegalArgumentException(
        s"corpus must exceed nlist=$nlist vectors to index"))
    val dim = centroids.head().getSeq[Double](1).length
    require(dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val res = pqResiduals(cells, centroids)
    val cbs = trainPqResidual(res, dim, m, ksub, seed, trainCap)
      .getOrElse(throw new IllegalArgumentException(
        s"corpus must exceed ksub=$ksub vectors to index"))
    res.select(col("id"), col("cell"), pqCodes(col("res"), cbs).as("codes"))
      .withColumn("src", lit("base"))
      .routeForWrite("cell")
      .write.mode("overwrite").partitionBy("src", "cell")
      .parquet(s"$dir/codes")
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    val s = corpus.sparkSession
    import s.implicits._
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, ci) => (j, ci, c.toSeq) }
    }.toSeq.toDF("sub", "code", "vec")
      .write.mode("overwrite").parquet(s"$dir/pq")
    IndexFiles.writeIds(s.read.parquet(s"$dir/codes").select("id"), dir)
    writeTrainStatsOf(s, dir, cells)
  }

  /** The m×ksub subspace codebooks back off `dir/pq` — m·ksub rows,
    * driver-side by construction. */
  private def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$dir/pq")
      .select(col("sub"), col("code"), col("vec")).collect()
    require(rows.nonEmpty, s"$dir/pq is empty — not a built IVF-PQ index")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val cbs = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    cbs
  }

  /** Search a persisted IVF-PQ index. Bit-equal to [[ivfPqTopK]] with
    * the build's parameters (same codebooks, same codes, same LUTs);
    * like [[searchIvfIndex]], the probes are computed ONCE and the
    * probed cell ids become typed literal partition filters — static
    * pruning at the file index, reading ~nprobe/nlist of the code
    * files and none of the raw vectors. */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    requireNoPendingRetrain(spark, dir)
    Seq("codes", "centroids", "pq")
      .foreach(IndexFiles.requireLiveTable(spark, dir, _))
    val centroids = spark.read.parquet(s"$dir/centroids")
    val cbs = readPqCodebooks(spark, dir)
    val pc = probeCells(centroids, queries, nprobe)
    val probeRows = pc.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), pc.schema)
    val probed = probeRows.map(_.getAs[Int]("cell")).distinct.toSeq
    // type the literals off the read schema (the searchLshIndex lesson:
    // a literal/attribute type mismatch casts away the static pruning)
    val raw = spark.read.parquet(s"$dir/codes")
    val cellIsInt =
      raw.schema("cell").dataType == org.apache.spark.sql.types.IntegerType
    val typed: Seq[Any] = if (cellIsInt) probed else probed.map(_.toLong)
    val codes = (if (probed.isEmpty) raw.filter(lit(false))
                 else raw.filter(col("cell").isin(typed: _*)))
      .withColumn("cell", col("cell").cast("int"))
    adcRank(IndexFiles.dropTombstones(spark, dir, codes),
      ivfPqLuts(probes, centroids, cbs), k)
  }

  /** Append a batch to a persisted IVF-PQ index WITHOUT re-training:
    * cell assignment through the STORED coarse codebook, residual
    * encoding through the STORED subspace codebooks — both
    * deterministic functions of the persisted artifacts, so appended
    * codes are exactly what the build would have written for the same
    * rows. Same daily-ingest rationale and caveats as
    * [[appendToIvfIndex]]: O(batch) work, codebooks drift from a fresh
    * union-train (re-train on schedule), replayed ids throw via the
    * compact `dir/ids` sidecar, crash-safe via
    * [[IndexFiles.appendStaged]]. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, src: String = "ingest"): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    requireNoPendingRetrain(spark, dir)
    IndexFiles.healAppend(spark, dir, Seq("codes"))
    val centroids = spark.read.parquet(s"$dir/centroids")
    val cb = centroids.orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cb.nonEmpty, s"$dir/centroids is empty — not a built IVF-PQ index")
    requireBatchDim(batch, "v", cb(0).length)
    val cbs = readPqCodebooks(spark, dir)
    val b = Dedup.spread(batch)
      .withColumn("v", col("v").cast("array<double>"))
      .filter(V.norm2(col("v")) > 0)
    val batchIds = b.select("id").distinct()
    val replayed = IndexFiles
      .ensureIds(spark, dir, spark.read.parquet(s"$dir/codes").select("id"))
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already exists " +
        "in the index — replayed ids would duplicate search hits")
    val cells = b.select(col("id"), col("v"), cellOf(col("v"), cb).as("cell"))
    IndexFiles.appendStaged(spark, dir, Seq(
      ("codes", pqResiduals(cells, centroids)
        .select(col("id"), col("cell"), pqCodes(col("res"), cbs).as("codes"))
        .withColumn("src", lit(src))
        .routeForWrite("cell"),
        Seq("src", "cell"))),
      Some(batchIds))
  }

  // ---- index evaluation & contrastive mining -----------------------------

  /** Recall@k report — the tuning loop every ANN deployment runs
    * (sweep nprobe/nlist/planes until recall clears the bar; the
    * reference's Milvus indexes expose exactly these knobs,
    * milvus_connector.py:176-188 search_params). `approx` and `exact`
    * are result frames in this module's (qid, id, rank) shape; the
    * report is per-query: hits = |approx∩exact| within rank <= k,
    * recall = hits / |exact| (|exact| < k when the corpus is smaller
    * than k). Queries the approximate side lost entirely (no bucket
    * collision in LSH, say) still report, with recall 0 — a silent
    * inner join would hide exactly the failures the sweep looks for.
    * Pure composition: two per-qid set aggregates and one join of
    * |queries|-row frames — cost is the two searches, the report adds
    * nothing corpus-sized at any scale. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rank") <= k)
      .groupBy(col("qid")).agg(collect_set(col("id")).as("a_ids"))
    val e = exact.filter(col("rank") <= k)
      .groupBy(col("qid")).agg(collect_set(col("id")).as("e_ids"))
    val hits = when(col("a_ids").isNull, lit(0))
      .otherwise(size(array_intersect(col("a_ids"), col("e_ids"))))
    e.join(a, Seq("qid"), "left")
      .select(col("qid"),
        size(col("e_ids")).cast("long").as("exact_n"),
        hits.cast("long").as("n_hits"),
        round(hits.cast("double") / size(col("e_ids")), 4).as("recall"))
  }

  /** Contrastive hard-negative mining — the training-data half of an
    * embedding pipeline (the reference SERVES embedding models,
    * embedding/tei_embedding.py; improving them needs exactly these
    * pairs): for each anchor, the k most-similar corpus rows BELOW the
    * duplicate threshold — near misses, the negatives that teach a
    * bi-encoder the most (DPR, Karpukhin et al. 2020). Self-pairs are
    * excluded when anchors come from the corpus; pairs at or above
    * `dupThreshold` are positives/duplicates, not negatives. Same
    * scan shape as [[bruteForceTopK]]: anchors broadcast, corpus
    * scanned once, only (qid, id, score) pairs reach the per-anchor
    * rank window. */
  def mineHardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
      dupThreshold: Double, metric: String = "cosine",
      excludeSelf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    val pairs = scoredPairs(corpus, anchors, metric)
    val noSelf = if (excludeSelf) pairs.filter(col("id") =!= col("qid")) else pairs
    noSelf.filter(col("score") < dupThreshold)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
  }

  /** Mean-reciprocal-rank report — [[recallAtK]]'s order-sensitive
    * sibling: recall ignores WHERE in the approximate list the true
    * neighbors landed, MRR grades it (the metric retrieval evals pair
    * with recall). Per query: rr = 1/rank of the FIRST approximate hit
    * that belongs to the exact top-k (0.0 when none does — reported,
    * not dropped, like recallAtK's lost queries). Same composition
    * cost: one semi-join of the k-bounded result frames, one per-qid
    * min, one left join. */
  def mrrAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.filter(col("rank") <= k).select(col("qid"), col("id"),
      col("rank"))
    val e = exact.filter(col("rank") <= k).select(col("qid"), col("id"))
    val firstHit = a.join(e, Seq("qid", "id"), "left_semi")
      .groupBy(col("qid")).agg(min(col("rank")).as("first_hit"))
    e.select(col("qid")).distinct()
      .join(firstHit, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("first_hit"), lit(0)).cast("long")
          .as("first_hit"),
        round(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 4).as("rr"))
  }

  /** Recall-driven nprobe tuning over a persisted IVF index — the
    * loop [[recallAtK]] exists to drive, packaged: sweep nprobe
    * doubling from 1, scoring each step's MEAN recall@k against the
    * index's own full probe (exact over the indexed corpus by the
    * q_ann_ivf_full property), and stop at the first step that clears
    * `targetRecall` (that step's row is included; the sweep also
    * stops at nprobe = nlist, where recall is 1.0 by construction).
    * Returns the audit table (nprobe, mean_recall, meets_target) —
    * the evidence behind a deployment's chosen nprobe, not just the
    * number. Driver-side loop bounded by log2(nlist) steps, each a
    * probed search of q×k rows; the full-probe reference is computed
    * ONCE. Deterministic (seeded k-means, deterministic ranking) but
    * k-means-dependent — rows-only at the oracle; the recall
    * arithmetic itself is the hash-exact q_ann_recall mechanism. */
  def tuneNprobe(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, targetRecall: Double,
      metric: String = "cosine"): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1]: $targetRecall")
    import spark.implicits._
    require(!queries.isEmpty,
      "cannot tune nprobe on zero queries — recall is undefined")
    val nlist = spark.read.parquet(s"$dir/centroids").count().toInt
    val exact = searchIvfIndex(spark, dir, queries, k, nprobe = nlist,
      metric)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    var np = 1
    var done = false
    while (!done) {
      val probe = math.min(np, nlist)
      // the full-probe step IS the reference frame — reuse it instead
      // of paying the sweep's most expensive search twice
      val approx =
        if (probe == nlist) exact
        else searchIvfIndex(spark, dir, queries, k, nprobe = probe, metric)
      val mean = recallAtK(approx, exact, k)
        .agg(avg(col("recall"))).head().getDouble(0)
      val mean4 = BigDecimal(mean)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val meets = mean4 >= targetRecall
      rows += ((probe, mean4, meets))
      done = meets || probe == nlist
      np *= 2
    }
    rows.toSeq.toDF("nprobe", "mean_recall", "meets_target")
  }

  /** [[tuneNprobe]]'s sibling for the LSH family — the OR-construction
    * knob: sweep `tables` doubling from 1 at fixed `planes`, score each
    * step's MEAN recall@k against exact brute force over the same
    * corpus ([[recallAtK]] — the hash-exact q_ann_recall mechanism),
    * and stop at the first step clearing `targetRecall` (that step's
    * row is included; the sweep also stops at `maxTables`). Returns the
    * audit table (tables, mean_recall, meets_target) — the evidence
    * behind a deployment's chosen table count, not just the number.
    *
    * Recall is MONOTONE in tables (spec-pinned): each added table only
    * ADDS bucket collisions, so the step-t candidate set is a superset
    * of the step-t/2 one, and a top-k selection by the same exact
    * (score desc, id asc) order over a superset can only gain members
    * of the true top-k — the standard OR-construction recall compound
    * 1−(1−pᵖ)ᵗ, made checkable. Driver loop bounded by log2(maxTables)
    * steps; the exact reference is computed once and PINNED (each
    * step's recall join would otherwise re-pay the brute-force scan). */
  def tuneLshTables(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int, planes: Int, targetRecall: Double, maxTables: Int = 8,
      metric: String = "cosine"): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1]: $targetRecall")
    require(maxTables >= 1, s"maxTables must be >= 1, got $maxTables")
    val spark = corpus.sparkSession
    import spark.implicits._
    require(!queries.isEmpty,
      "cannot tune LSH tables on zero queries — recall is undefined")
    val exact = bruteForceTopK(corpus, queries, k, metric).persist()
    try {
      val rows =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
      var t = 1
      var done = false
      while (!done) {
        val tt = math.min(t, maxTables)
        val approx = lshTopK(corpus, queries, k, dim, planes, metric,
          tables = tt)
        val mean = recallAtK(approx, exact, k)
          .agg(avg(col("recall"))).head().getDouble(0)
        val mean4 = BigDecimal(mean)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        val meets = mean4 >= targetRecall
        rows += ((tt, mean4, meets))
        done = meets || tt == maxTables
        t *= 2
      }
      rows.toSeq.toDF("tables", "mean_recall", "meets_target")
    } finally { exact.unpersist(); () }
  }

  /** The report-assembly half of [[retrainAdvisor]], pure arithmetic
    * over already-computed frames — split out so the decision rule has
    * a hash-exact oracle of its own (the full advisor is k-means-bound):
    * `recall` is a [[recallAtK]] result (per-query rows), `drift` a
    * [[graft.operators.Stats.embeddingDriftSummary]] one-row frame.
    * One row out: recall_now (4dp mean), the floors echoed back, the
    * drift summary's centroid_cos / norm_delta / counts, and
    * SHOULD_RETRAIN = recall_now < recallFloor OR centroid_cos <
    * driftFloor — with a NULL centroid_cos (an encoder changed the
    * embedding WIDTH, the loudest drift there is) always retraining. */
  def advisorReport(recall: DataFrame, drift: DataFrame,
      recallFloor: Double, driftFloor: Double): DataFrame = {
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"recallFloor must be in (0, 1]: $recallFloor")
    require(driftFloor >= -1.0 && driftFloor <= 1.0,
      s"driftFloor is a cosine floor in [-1, 1]: $driftFloor")
    recall.agg(round(avg(col("recall")), 4).as("recall_now"))
      .crossJoin(broadcast(drift.select(col("n_old").as("n_stored"),
        col("n_new").as("n_fresh"), col("norm_delta"),
        col("centroid_cos"))))
      .select(col("recall_now"), lit(recallFloor).as("recall_floor"),
        col("centroid_cos"), lit(driftFloor).as("drift_floor"),
        col("norm_delta"), col("n_stored"), col("n_fresh"),
        (col("recall_now") < recallFloor ||
          coalesce(col("centroid_cos") < driftFloor, lit(true)))
          .as("should_retrain"))
  }

  /** The retrain-decision op — what connects the drift/recall MONITORS
    * to the [[retrainIvfIndex]] REPAIR (every deployment writes exactly
    * this cron job; [[tuneNprobe]] is the same packaging move for the
    * nprobe loop): given a live IVF index, the production (nprobe, k)
    * operating point, and the FRESH vectors arriving now, report in one
    * row whether the stored codebook still fits.
    *   - recall_now: mean recall@k of the production nprobe against the
    *     index's own full probe over `queries` (exact over the indexed
    *     corpus by the q_ann_ivf_full property) — codebook-vs-data
    *     mismatch shows up here first, because drifted appends crowd
    *     into few cells and partial probes miss them;
    *   - centroid_cos / norm_delta: `fresh` against the index's OWN
    *     `train_stats` record — the distribution the codebook was
    *     FITTED on, written at build/retrain time (comparing against
    *     the current cells would self-cancel: the drifted appends are
    *     already in them) — the leading indicator that fires BEFORE
    *     enough drifted vectors land to hurt recall;
    *   - should_retrain: either signal under its floor (see
    *     [[advisorReport]]).
    * Cost: one partial + one full probe of q×k rows each, plus one
    * dim-bounded aggregate over `fresh` — nothing corpus-sized beyond
    * the scans the searches already pay (the training side is the
    * one-row stats record, never re-scanned). */
  def retrainAdvisor(spark: org.apache.spark.sql.SparkSession,
      dir: String, fresh: DataFrame, queries: DataFrame, k: Int,
      recallFloor: Double, driftFloor: Double, nprobe: Int = 4,
      metric: String = "cosine", vecCol: String = "v",
      reference: Option[DataFrame] = None): DataFrame =
    advisorVia(spark, dir, fresh, queries, k, recallFloor, driftFloor,
      vecCol, reference, nprobe,
      (q, np) => searchIvfIndex(spark, dir, q, k, np, metric),
      "run retrainIvfIndex once to record the fitted distribution")

  /** [[retrainAdvisor]] for the IVF-PQ index — the family where
    * codebook drift is the DAMAGING kind: codes decode through the
    * trained subspace codebooks, so a drifted append degrades ADC
    * scores silently (wrong-ish distances, not just low recall).
    * recall_now compares the production nprobe against the index's
    * own full ADC probe (exact over the index's OWN scoring — the
    * quantization error is the codebook's to fix, which is the
    * point); the drift arm reads the train_stats record
    * [[buildIvfPqIndex]]/[[retrainIvfPqIndex]] write. */
  def retrainAdvisorIvfPq(spark: org.apache.spark.sql.SparkSession,
      dir: String, fresh: DataFrame, queries: DataFrame, k: Int,
      recallFloor: Double, driftFloor: Double, nprobe: Int = 4,
      vecCol: String = "v",
      reference: Option[DataFrame] = None): DataFrame =
    advisorVia(spark, dir, fresh, queries, k, recallFloor, driftFloor,
      vecCol, reference, nprobe,
      (q, np) => searchIvfPqIndex(spark, dir, q, k, np),
      "run retrainIvfPqIndex once to record the fitted distribution")

  /** [[retrainAdvisor]] for the IVF_SQ8 index. Rebuild IS this
    * family's retrain ([[buildIvfSq8Index]] docstring), so a fired
    * advisor prescribes a rebuild over the current corpus — which
    * re-records train_stats and quiets the advisor, the same
    * closed loop as the other two families. */
  def retrainAdvisorIvfSq8(spark: org.apache.spark.sql.SparkSession,
      dir: String, fresh: DataFrame, queries: DataFrame, k: Int,
      recallFloor: Double, driftFloor: Double, nprobe: Int = 4,
      vecCol: String = "v",
      reference: Option[DataFrame] = None): DataFrame =
    advisorVia(spark, dir, fresh, queries, k, recallFloor, driftFloor,
      vecCol, reference, nprobe,
      (q, np) => searchIvfSq8Index(spark, dir, q, k, np),
      "rebuild with buildIvfSq8Index to record the fitted distribution")

  /** The family-generic advisor body: `search(queries, nprobe)` is the
    * family's probe (full probe at nprobe = nlist is each family's own
    * exact reference frame). */
  private def advisorVia(spark: org.apache.spark.sql.SparkSession,
      dir: String, fresh: DataFrame, queries: DataFrame, k: Int,
      recallFloor: Double, driftFloor: Double, vecCol: String,
      reference: Option[DataFrame], nprobe: Int,
      search: (DataFrame, Int) => DataFrame, statsHint: String): DataFrame = {
    require(!queries.isEmpty,
      "cannot advise on zero queries — recall is undefined")
    val statsPath = new org.apache.hadoop.fs.Path(s"$dir/train_stats")
    require(statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(statsPath),
      s"$dir has no train_stats record (built before training-stats " +
        s"recording) — $statsHint")
    val nlist = spark.read.parquet(s"$dir/centroids").count().toInt
    // `reference` lets a scheduled driver advising the same index
    // against a stable query set pay the full probe once per retrain
    // generation, not once per cron tick — any (qid, id, rank) frame
    // the caller trusts as exact over the indexed corpus qualifies
    val exact = reference.getOrElse(search(queries, nlist))
    val approx =
      if (nprobe >= nlist && reference.isEmpty) exact
      else search(queries, nprobe)
    // assemble the drift one-row frame in embeddingDriftSummary's shape
    // from the recorded training stats (old side, literals) and ONE
    // stats pass over the fresh batch (new side)
    val st = spark.read.parquet(s"$dir/train_stats").head()
    val (nOld, cOld) = (st.getAs[Long]("n"),
      st.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val normOld =
      if (st.isNullAt(st.fieldIndex("mean_norm"))) None
      else Some(st.getAs[Double]("mean_norm"))
    val drift = graft.operators.Stats.vectorStats(fresh, vecCol)
      .select(lit(nOld).as("n_old"), col("n").as("n_new"),
        round(normOld.map(lit).getOrElse(lit(null)).cast("double"), 6)
          .as("mean_norm_old"),
        round(col("mean_norm"), 6).as("mean_norm_new"),
        round(col("mean_norm") -
          normOld.map(lit).getOrElse(lit(null)).cast("double"), 6)
          .as("norm_delta"),
        // an EMPTY fresh batch (a quiet crawl day) is no drift, not
        // "the embedding width changed" — without the n = 0 arm its
        // empty centroid would read as NULL centroid_cos, which
        // advisorReport deliberately treats as always-retrain
        when(col("n") === 0L, lit(1.0))
          .otherwise(
            when(lit(cOld.length) > 0 && size(col("centroid")) === cOld.length,
              round(V.cosine(lit(cOld), col("centroid")), 6)))
          .as("centroid_cos"))
    advisorReport(recallAtK(approx, exact, k), drift,
      recallFloor, driftFloor)
  }

  /** [[mineHardNegatives]] against the persisted IVF index — how a
    * 100 TB deployment mines: the ANN search bounds the scanned corpus
    * to the probed cells (~nprobe/nlist of the store) and a candidate
    * window of `window` hits per anchor replaces the corpus scan;
    * negatives re-rank within it. `window` must cover each anchor's
    * in-window positives plus k — a crowded near-dup neighborhood eats
    * candidate slots, so size it at k + the expected duplicate count
    * (at FULL probe with a covering window the result equals the
    * brute-force [[mineHardNegatives]] exactly; at partial probe it
    * inherits IVF's recall contract). */
  def mineHardNegativesIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, anchors: DataFrame, k: Int, dupThreshold: Double,
      window: Int, nprobe: Int = 4, metric: String = "cosine",
      excludeSelf: Boolean = true): DataFrame = {
    require(window >= k,
      s"window $window < k $k can never yield k negatives")
    import org.apache.spark.sql.expressions.Window
    val hits = searchIvfIndex(spark, dir, anchors, window, nprobe, metric)
    val base = if (excludeSelf) hits.filter(col("id") =!= col("qid")) else hits
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    base.filter(col("score") < dupThreshold)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col("qid"), col("id"), col("score"), col("neg_rank"))
  }

  /** Attach the training texts to mined triplets — the export stage
    * between [[contrastiveTriplets]] and a training reader: each of
    * the three id columns (qid, pos_id, neg_id) resolves to its text.
    * The triplet set is tiny by the mining premise (anchors × negK),
    * so it BROADCASTS three times against the corpus — the text table
    * is scanned, never shuffled, the only plan shape that survives a
    * 100 TB corpus (plan-pinned in spec). Output: the triplet columns
    * plus (anchor_text, pos_text, neg_text). */
  def attachTripletTexts(triplets: DataFrame, texts: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def attach(df: DataFrame, key: String, as: String) =
      texts.select(col(idCol).as(key), col(textCol).as(as))
        .join(broadcast(df), key)
    attach(attach(attach(triplets, "qid", "anchor_text"),
      "pos_id", "pos_text"), "neg_id", "neg_text")
  }

  /** Contrastive triplets (anchor, positives, hard negatives): the
    * `posK` nearest non-self neighbors at or above `posThreshold` are
    * the positives (posK = 1 is the classic triplet; > 1 the
    * multi-positive InfoNCE-batch form — every positive pairs with
    * every negative); the `negK` nearest below `negThreshold` are the
    * negatives; anchors lacking a positive are dropped (nothing to
    * contrast against). Two PRUNED window passes joined on the anchor
    * — deliberately NOT one combined window: each branch's plain
    * `row_number <= k` filter is what lets Catalyst infer a
    * WindowGroupLimit, the map-side top-k prune that caps every
    * partition's contribution at k rows per anchor BEFORE the
    * shuffle. A single-window formulation (running conditional counts
    * pinning both arms in one pass) defeats that inference and ships
    * the WHOLE per-anchor pair list — the corpus — into one sort task
    * per anchor (measured: no WindowGroupLimit in its plan). Two
    * broadcast-anchor corpus scans whose shuffles carry O(k) rows per
    * anchor beat one scan whose shuffle carries the corpus. */
  def contrastiveTriplets(corpus: DataFrame, anchors: DataFrame,
      negK: Int, posThreshold: Double, negThreshold: Double,
      metric: String = "cosine", posK: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    require(negThreshold <= posThreshold,
      s"negThreshold $negThreshold must be <= posThreshold $posThreshold " +
      "(the band between them is neither positive nor negative)")
    require(posK >= 1, s"posK must be >= 1, got $posK")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("id").asc)
    // excludeSelf = false when anchor qids live in a DIFFERENT id
    // namespace than the corpus (an external query log): a numeric
    // collision there is a coincidence, not a self-pair
    val all = scoredPairs(corpus, anchors, metric)
    val pairs = if (excludeSelf) all.filter(col("id") =!= col("qid")) else all
    // posK > 1 is the multi-positive (InfoNCE-batch) form: the posK
    // nearest qualifying neighbors each pair with all negK negatives
    // (posK × negK rows per surviving anchor)
    val pos = pairs.filter(col("score") >= posThreshold)
      .withColumn("pos_rank", row_number().over(w).cast("long"))
      .filter(col("pos_rank") <= posK)
      .select(col("qid"), col("id").as("pos_id"),
        col("score").as("pos_score"), col("pos_rank"))
    val neg = pairs.filter(col("score") < negThreshold)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= negK)
      .select(col("qid"), col("id").as("neg_id"),
        col("score").as("neg_score"), col("neg_rank"))
    pos.join(neg, "qid")
      .select(col("qid"), col("pos_id"), col("pos_score"), col("pos_rank"),
        col("neg_id"), col("neg_score"), col("neg_rank"))
  }
}
