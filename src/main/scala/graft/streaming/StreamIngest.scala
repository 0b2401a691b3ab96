package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import graft.operators.{Ann, Dedup, IndexFamily, IndexFiles, Ingest}

/** Structured Streaming variant of the ingest pipeline
  * (reference: embed_to_milvus.py:52-141 — the batch loop becomes an
  * unbounded query; the pending-file back-pressure becomes micro-batch
  * scheduling; restarts resume from the checkpoint instead of the
  * reference's manual start/end offsets).
  *
  * The transform stack is literally [[Ingest.pipeline]]: every stage is
  * stateless and narrow, and the exists-check is a stream-static
  * left-anti join, so the same declarative plan runs bounded or
  * unbounded.
  */
object StreamIngest {

  /** The ingest transforms over an unbounded docs stream. */
  def pipeline(docsStream: DataFrame, existing: DataFrame, dim: Int = 64,
      chunkSize: Int = 200, overlap: Int = 40): DataFrame =
    Ingest.pipeline(docsStream, existing, dim, chunkSize, overlap)

  /** Streaming exact dedup: drop any document whose normalized-text
    * fingerprint was already seen, with the dedup state bounded by the
    * event-time watermark (Spark's dropDuplicates state store keeps one
    * row per key; the watermark lets it expire keys older than the
    * horizon — without it, 100 TB of stream history would live in the
    * state store forever). The batch analog is [[graft.operators.Dedup
    * .exact]]; this is its unbounded form for stream_ingest front-ends. */
  def dedupStream(docsStream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docsStream
      .withColumn("__fp", graft.functions.TextFunctions.fingerprintMd5(
        org.apache.spark.sql.functions.col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming admission against a PERSISTED exact-dedup history
    * ([[graft.operators.Dedup.buildExactIndex]]): pass through only
    * docs whose exact normalized text history has never stored — the
    * front gate a continuously-ingesting pipeline puts before
    * [[dedupStream]] (which handles duplicates WITHIN the stream; this
    * handles duplicates against everything ingested before the stream
    * started). The history side stays fixed for the stream's life —
    * re-ingest after index appends to pick up a newer history.
    *
    * Scale shape, per micro-batch: the Bloom sidecar (read once at
    * stream setup, meta-sized, embedded as one codegen'd literal
    * predicate) passes bloom-NEGATIVE docs — certainly novel, no false
    * negatives — with no history access at all; only bloom positives
    * (true dups + fpp·batch) pay the stream-static join against the
    * fps table, which dynamic partition pruning narrows to their
    * fp-prefix partitions. Stream-static left-anti is not a supported
    * streaming join, so the confirm is left_outer + IS NULL — same
    * rows, supported shape. */
  def admitNovelStream(spark: SparkSession, indexDir: String,
      docsStream: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{SketchExpressions => SK}
    val bytes = graft.operators.Dedup.readBloom(spark, indexDir)
      .getAs[Array[Byte]]("bloom")
    // live rows only: tombstoned texts ([[graft.operators.Dedup
    // .deleteFromExactIndex]]) read as never-stored, like the batch probe
    val fps = graft.operators.Dedup.liveExactFps(spark, indexDir)
      .select(col("pfx").as("__pfx"), col("fp").as("__fp"),
        col("keep_id").as("__hist_id"))
    val probed = docsStream.withColumn("__fp",
      graft.functions.TextFunctions.fingerprintMd5(col(textCol)))
    val seen = SK.mightContain(lit(bytes), xxhash64(col("__fp")))
    val certainlyNovel = probed.filter(!seen)
    val confirmedNovel = probed.filter(seen)
      .withColumn("__pfx", substring(col("__fp"), 1, 2))
      .join(fps, Seq("__pfx", "__fp"), "left_outer")
      .filter(col("__hist_id").isNull)
      .drop("__pfx", "__hist_id")
    certainlyNovel.unionByName(confirmedNovel).drop("__fp")
  }

  /** How many of `batchIds` appear in each named table's id column, in
    * ONE action: every table is semi-joined to the batch BEFORE the
    * union (O(batch) surviving rows, never the full stored id column),
    * tagged with its name, and counted per tag. A table no batch id
    * reaches is absent from the aggregate and counts 0. */
  private def overlaps(batchIds: DataFrame,
      tables: Seq[(String, DataFrame)]): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.{broadcast, countDistinct, lit}
    val found = tables.map { case (t, df) =>
      df.select("id")
        .join(broadcast(batchIds), Seq("id"), "left_semi")
        .select(lit(t).as("t"), col("id"))
    }.reduce(_ union _)
      .groupBy("t").agg(countDistinct("id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.map { case (t, _) => t -> found.getOrElse(t, 0L) }
  }

  /** Run `apply` on every micro-batch of `stream`, exactly once per
    * batchId through the checkpoint at `checkpointDir` — the one
    * foreachBatch sink every driver here and in [[StreamCurate]]
    * starts. */
  private[streaming] def startBatches(stream: DataFrame,
      checkpointDir: String, trigger: Trigger)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(apply)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** One micro-batch of an index-feeding stream, idempotent in batchId
    * — the replay protocol the seven witnessed drivers share, read off
    * the family's registry entry.
    *
    * Heal first: a previous micro-batch's append may have died
    * mid-transaction, and the family heal rolls its journal forward or
    * back, so a journaled crash window self-heals instead of tripping
    * the witness. `beforeWitness` runs next (a derived-sidecar backfill
    * the witness reads).
    *
    * The witnesses are the PAYLOAD TABLES ([[IndexFamily.payload]],
    * plus [[IndexFamily.storedIds]] when the family keeps an ids
    * sidecar), not the raw batch: an append stores one FILTERED id set
    * in every table it writes, so each table's overlap with the batch
    * is compared against `eligible` — the caller's count of what the
    * append WOULD store. A raw batch count would brick the stream on
    * any batch holding a doc the family's filter legitimately drops.
    *  - every count 0: the append never started — run `append`;
    *  - every count = eligible: the append completed and only the
    *    marker was lost — run `ifStored` instead of appending;
    *  - anything else: a crash between table writes that no journal
    *    covers, or a re-delivered batch that mixes stored and new ids —
    *    refuse rather than skip the new ids or re-append the stored ones.
    * Then the marker `indexDir/applied/<batchId>` is written. Every
    * `append` tags its segment `b<batchId>`, so a streamed batch
    * retires in O(segment) through [[IndexFamily.retireSrcs]] like a
    * batch-appended one.
    *
    * A marker alone is NOT proof of a replay: markers are keyed by
    * batchId and live in the index dir, so a checkpoint reset (batchIds
    * restart at 0 against the same index) re-presents a genuinely NEW
    * batch under a marked id, and a retire can drop a marked batch's
    * segment. A marker is honoured only when every count equals
    * `eligible`; otherwise the batch fails loudly instead of being
    * silently dropped. */
  private def applyWitnessed(fam: IndexFamily, batch: DataFrame,
      batchId: Long, indexDir: String, idCol: String = "id",
      eligible: DataFrame => Long = _.count(),
      beforeWitness: => Unit = (), ifStored: => Unit = ())(
      append: => Unit): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    fam.heal(spark, indexDir)
    beforeWitness
    val marker = new Path(s"$indexDir/applied/$batchId")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchIds = batch.select(col(idCol).as("id")).distinct()
    val n = eligible(batchIds)
    val witnesses = fam.payload.map { case (t, _) =>
        t -> IndexFiles.read(spark, s"$indexDir/$t") } ++
      fam.idsFrom.map(_ => "ids" -> fam.storedIds(spark, indexDir))
    val counts = overlaps(batchIds, witnesses)
    val stored = counts.forall(_._2 == n)
    def refuse(what: String, why: String) = new IllegalStateException(
      s"${fam.name} batch $batchId $what (" +
        counts.map { case (t, c) => s"$t=$c" }.mkString(" ") +
        s" of $n eligible) — $why")
    if (fs.exists(marker)) {
      if (stored) return
      throw refuse("carries a replay marker but is not stored",
        "a checkpoint reset recycled the batchId against a live index; " +
          s"wipe $indexDir/applied together with the checkpoint (or " +
          "point the stream at a fresh index)")
    }
    if (counts.forall(_._2 == 0)) append
    else if (stored) ifStored
    else throw refuse("inconsistently stored",
      "either a previous append crashed between table writes or a " +
        "re-delivered batch mixes stored and new ids; repair before " +
        "restarting")
    fs.create(marker, true).close()
  }

  /** The eligible count of the IVF families: ids of nonzero-norm
    * vectors, the filter their appends apply. */
  private def nonZeroIds(batch: DataFrame): Long =
    Ann.nonZeroVectors(batch).select("id").distinct().count()

  /** One micro-batch of [[dedupIngestStream]] ([[applyWitnessed]] over
    * the minhash family) — public so the replay semantics are directly
    * testable. Eligible ids are the docs that survive shingling under
    * the index's own parameters (short or fully-capped docs drop out).
    * A fresh batch writes its pairs first (the probe requires the batch
    * absent), then appends. A fully stored batch is a replay only if
    * the pairs for THIS batchId exist: their absence means the docs
    * were indexed under some other ledger (checkpoint reset,
    * re-delivery), so it fails instead of silently dropping the pair
    * output. (A stale pairs dir surviving a checkpoint reset under a
    * colliding batchId can still defeat this — pair outputs should be
    * wiped with the checkpoint; documented residual.) */
  def applyDedupBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String, textCol: String, pairsDir: String,
      tau: Double): Unit = {
    val spark = batch.sparkSession
    val pairsPath = new Path(s"$pairsDir/batch=$batchId")
    applyWitnessed(IndexFamily.minhash, batch, batchId, indexDir, idCol,
      eligible = _ => {
        val (w, _, _, maxDf) = Dedup.minhashMeta(spark, indexDir)
        Dedup.shingleHashSet(batch.select(col(idCol).as(idCol), col(textCol)),
            idCol, textCol, w, maxDf)
          .select("id").distinct().count()
      },
      ifStored = require(pairsPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(pairsPath),
        s"batch $batchId ids already indexed but no pairs output at " +
          s"$pairsPath — checkpoint/ledger mismatch, not a replay")) {
      val pairs = Dedup.dedupAgainstIndex(spark, indexDir, batch, idCol,
        textCol, tau)
      pairs.write.mode("overwrite").parquet(pairsPath.toString)
      // per-trigger release of the probe's pinned internals (batch
      // shingles + verify caches) — a long-lived stream must not
      // accumulate three pinned datasets per micro-batch
      graft.operators.CacheLifecycle.release(pairs)
      Dedup.appendToMinhashIndex(spark, indexDir, batch, idCol, textCol,
        s"b$batchId")
    }
  }

  /** Streaming near-dup dedup against a persisted minhash index — the
    * daily-ingest lifecycle ([[graft.operators.Dedup.buildMinhashIndex]]
    * / dedupAgainstIndex / appendToMinhashIndex) driven by a stream:
    * each micro-batch (1) emits its near-dup pairs vs the stored
    * corpus to `pairsDir/batch=<id>`, then (2) appends itself to the
    * index, so batch N+1 dedups against history INCLUDING batch N —
    * exactly the accumulate-as-you-ingest semantics of the reference's
    * repeated upload runs (embed_to_milvus.py:147-183). State lives in
    * the index directory, not the state store: per micro-batch the
    * work is O(batch) plus one stored-signature scan. Replay-safe
    * through the batchId — see [[applyDedupBatch]]. */
  def dedupIngestStream(docsStream: DataFrame, indexDir: String,
      idCol: String, textCol: String, pairsDir: String,
      checkpointDir: String, tau: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(docsStream, checkpointDir, trigger)(
      applyDedupBatch(_, _, indexDir, idCol, textCol, pairsDir, tau))

  /** One micro-batch of [[admitIngestStream]] — append-then-verdict
    * over the exact-dedup history index, CONVERGENT under re-execution
    * with no marker protocol: [[graft.operators.Dedup.appendToExactIndex]]
    * is replay-idempotent by design (replayed fps store nothing and
    * keep their ORIGINAL keep_id), so the append runs FIRST and the
    * verdicts read off the post-append index — first_id is then the
    * canonical keeper of each text (its historic first copy, or the
    * min batch id for batch-novel texts), which also self-dedups
    * within the batch. is_dup := first_id ≠ id re-executes to the
    * SAME ledger in every crash window: crash before the append →
    * plain re-run; crash between append and verdict write → the
    * re-run's append is a no-op and the probe reads identical
    * state; verdict write is an overwrite keyed by batchId. */
  def applyAdmitBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String, textCol: String, admitDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // per-batch src segment — a streamed day retires through
    // [[graft.operators.IndexFamily.retireSrcs]]; a replayed batch's
    // re-append stores nothing, so no duplicate segment appears
    graft.operators.Dedup.appendToExactIndex(spark, indexDir, batch,
      idCol, textCol, s"b$batchId")
    graft.operators.Dedup
      .dedupExactAgainstIndex(spark, indexDir, batch, idCol, textCol)
      .withColumn("is_dup",
        coalesce(col("first_id") =!= col("id"), lit(false)))
      .write.mode("overwrite").parquet(s"$admitDir/batch=$batchId")
  }

  /** Streaming exact-dedup admission ledger — the crawl-ingest
    * lifecycle ([[graft.operators.Dedup.buildExactIndex]] /
    * dedupExactAgainstIndex / appendToExactIndex) driven by a stream:
    * each micro-batch appends itself to the history index and writes
    * its admission verdicts (id, first_id, is_dup — first_id the
    * canonical keeper) to `admitDir/batch=<id>`, so batch N+1 rejects
    * replays of batch N and within-batch duplicates collapse to their
    * min id. State lives in the index directory, not the state store;
    * per micro-batch the work is O(batch) + the bloom-pruned
    * DPP-narrowed confirm. Idempotence needs no batch markers — see
    * [[applyAdmitBatch]]. */
  def admitIngestStream(docsStream: DataFrame, indexDir: String,
      idCol: String, textCol: String, admitDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(docsStream, checkpointDir, trigger)(
      applyAdmitBatch(_, _, indexDir, idCol, textCol, admitDir))

  /** One micro-batch of [[mineIngestStream]]: the arriving anchors get
    * their hard negatives from the persisted IVF index
    * ([[graft.operators.Ann.mineHardNegativesIndex]]). STATELESS — the
    * index is read-only here, so the batch-keyed overwrite needs no
    * marker protocol. Replay contract, precisely: while the index is
    * unchanged across the replay window, a re-executed batch
    * recomputes the IDENTICAL result (spec'd); if a concurrent
    * [[annIngestStream]] grew the index in between, the replay mines
    * against the index AS OF the replay — a fresher, not torn, result
    * (the overwrite replaces the whole batch partition atomically per
    * read). Acceptable for training-set enrichment; a consumer that
    * must never observe two versions of one batch should snapshot
    * `outDir` rather than read it live. */
  def applyMineBatch(batch: DataFrame, batchId: Long, indexDir: String,
      k: Int, dupThreshold: Double, window: Int, nprobe: Int,
      outDir: String): Unit = {
    if (batch.isEmpty) return
    graft.operators.Ann.mineHardNegativesIndex(batch.sparkSession,
        indexDir, batch, k, dupThreshold, window, nprobe)
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
  }

  /** Streaming hard-negative mining — the training-set side of a live
    * pipeline: as anchor vectors arrive (a fresh crawl's embeddings, a
    * user-query log), each micro-batch mines its DPR-style negatives
    * against the persisted IVF index and lands them under
    * `outDir/batch=<id>` for the training reader. Anchors are (qid,
    * qv) rows. Per micro-batch the work is the probed index search —
    * O(batch × nprobe/nlist of the store) — and nothing is stateful:
    * every crash window re-executes to identical output
    * ([[applyMineBatch]]). Compose with [[annIngestStream]] on the
    * same index to mine against a corpus that is itself growing
    * (each batch mines against the index AS OF its trigger). */
  def mineIngestStream(anchorsStream: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String, k: Int,
      dupThreshold: Double, window: Int, nprobe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(anchorsStream, checkpointDir, trigger)(
      applyMineBatch(_, _, indexDir, k, dupThreshold, window, nprobe, outDir))

  /** One micro-batch of [[lineDfIngestStream]], idempotent in batchId
    * across every crash window WITHOUT markers: the batch's verdict is
    * computed with its own src segment EXCLUDED from the history sum
    * (so it reads identically whether or not the append already
    * committed), the clean output overwrites its own `batch=<id>`
    * directory, and the append itself is a replay no-op once its src
    * partition is committed
    * ([[graft.operators.Dedup.appendToLineDfIndex]]). Filter-then-
    * append order means batch i's own lines never count toward batch
    * i's history — its within-batch df is counted in-flight instead,
    * which is what makes the drained outputs equal the batch operator
    * over the prefix union (the DedupSpec sequential contract). The
    * idempotence window is the ENGINE's: Structured Streaming only
    * re-delivers the most recent uncommitted batch, before any later
    * batch runs — re-applying an ANCIENT batch after later appends is
    * out of contract (later df would legitimately drop more lines). */
  def applyLineDfBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String, textCol: String, outDir: String,
      minDf: Int = 2, sep: String = "\n"): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    graft.operators.IndexFamily.linedf.heal(spark, indexDir)
    val src = s"b$batchId"
    graft.operators.Dedup
      .lineDfAgainstIndex(spark, indexDir, batch, idCol, textCol, minDf,
        sep, excludeSrc = Some(src))
      .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    graft.operators.Dedup.appendToLineDfIndex(spark, indexDir, batch,
      idCol, textCol, src, sep)
  }

  /** Streaming corpus-boilerplate filter — the daily-crawl lifecycle
    * of [[graft.operators.Dedup.buildLineDfIndex]]: each micro-batch
    * is cleaned against the accumulated line document frequencies
    * (history df + within-batch df ≥ minDf drops the line), writes
    * (id, clean) to `outDir/batch=<id>`, then appends its own df
    * increments under its src tag. State lives in the index directory,
    * not the state store; per micro-batch the work is O(batch) + the
    * bloom-pruned history sum for the recurring minority of lines. */
  def lineDfIngestStream(docsStream: DataFrame, indexDir: String,
      idCol: String, textCol: String, outDir: String,
      checkpointDir: String, minDf: Int = 2, sep: String = "\n",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(docsStream, checkpointDir, trigger)(
      applyLineDfBatch(_, _, indexDir, idCol, textCol, outDir, minDf, sep))

  /** One micro-batch of [[containmentIngestStream]], idempotent in
    * batchId without markers — [[applyLineDfBatch]]'s shape over the
    * containment family: verdicts are computed with the batch's own src
    * segment EXCLUDED from history (identical whether or not the append
    * already committed), the verdict frame overwrites its own
    * `batch=<id>` directory, and the append is id-guarded
    * ([[graft.operators.Dedup.appendToContainmentIndex]] drops
    * already-admitted ids), so a full replay appends nothing. Only
    * SURVIVORS are appended: the index is the admitted corpus, so a
    * doc is judged against what was actually kept — the greedy-chain
    * semantics [[graft.operators.Dedup.dropContainedAgainstIndex]]
    * documents. Same engine-bounded idempotence window as the line-df
    * driver: only the most recent uncommitted batch is ever
    * re-delivered. */
  def applyContainmentBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, textCol: String, outDir: String,
      tau: Double = 0.8): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    graft.operators.IndexFamily.containment.heal(spark, indexDir)
    val src = s"b$batchId"
    val verdicts = graft.operators.Dedup.dropContainedAgainstIndex(spark,
      indexDir, batch, idCol, textCol, tau, excludeSrc = Some(src))
    verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    // release the operator's internal caches per micro-batch
    // ([[graft.operators.CacheLifecycle]]) — a long-running stream
    // would otherwise pin one verdict plan's internals per trigger
    graft.operators.CacheLifecycle.release(verdicts)
    import org.apache.spark.sql.functions.col
    val survivors = batch.join(
      spark.read.parquet(s"$outDir/batch=$batchId")
        .filter(!col("is_contained"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    graft.operators.Dedup.appendToContainmentIndex(spark, indexDir,
      survivors, idCol, textCol, src)
  }

  /** Streaming containment admission — the daily-crawl lifecycle of
    * [[graft.operators.Dedup.buildContainmentIndex]]: each micro-batch
    * is judged against the admitted history (is this doc tau-contained
    * in a kept doc?), writes its verdict rows (id, is_contained,
    * container_id) to `outDir/batch=<id>`, then appends its survivors
    * under its src tag. State lives in the index directory, not the
    * state store; per micro-batch the work is O(batch) + one
    * bloom-pruned history scan with the batch's prefix hashes
    * broadcast. */
  def containmentIngestStream(docsStream: DataFrame, indexDir: String,
      idCol: String, textCol: String, outDir: String,
      checkpointDir: String, tau: Double = 0.8,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(docsStream, checkpointDir, trigger)(
      applyContainmentBatch(_, _, indexDir, idCol, textCol, outDir, tau))

  /** One micro-batch of [[domainCapIngestStream]], idempotent in
    * batchId without markers — [[applyLineDfBatch]]'s shape over the
    * per-domain admission ledger: verdicts are judged with the batch's
    * own src segment EXCLUDED from the budget sums (identical whether
    * or not the append already committed), the verdict frame
    * overwrites its own `batch=<id>` directory, and the append is a
    * src-listing replay no-op
    * ([[graft.operators.Dedup.appendToDomainCapLedger]]). Judge-then-
    * append order means a batch never spends its own budget before
    * ranking itself — which is what makes the drained verdicts equal
    * the sequential [[graft.operators.Dedup.capAgainstLedger]] chain.
    * Same engine-bounded idempotence window as every sibling: only the
    * most recent uncommitted batch is ever re-delivered. */
  def applyDomainCapBatch(batch: DataFrame, batchId: Long,
      ledgerDir: String, idCol: String, urlCol: String,
      qualityCol: String, outDir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    graft.operators.IndexFamily.domainCap.heal(spark, ledgerDir)
    val src = s"b$batchId"
    val verdicts = graft.operators.Dedup.capAgainstLedger(spark,
      ledgerDir, batch, idCol, urlCol, qualityCol,
      excludeSrc = Some(src))
    verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    graft.operators.Dedup.appendToDomainCapLedger(spark, ledgerDir,
      spark.read.parquet(s"$outDir/batch=$batchId"), src)
  }

  /** Streaming per-domain admission quota — the crawl-ingest lifecycle
    * of [[graft.operators.Dedup.capPerDomain]]: each micro-batch is
    * judged against the accumulated per-domain budgets (first-come
    * first-admitted across batches; quality-ranked within the batch),
    * writes its verdicts (id, domain, admitted, admitted_rank) to
    * `outDir/batch=<id>`, then spends its admitted slots under its src
    * tag. State lives in the ledger directory, not the state store;
    * per micro-batch the work is O(batch) + one domain-pruned sum over
    * the counts table — admitted id rows are never scanned. Start from
    * [[graft.operators.Dedup.initDomainCapLedger]]. */
  def domainCapIngestStream(docsStream: DataFrame, ledgerDir: String,
      idCol: String, urlCol: String, qualityCol: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(docsStream, checkpointDir, trigger)(
      applyDomainCapBatch(_, _, ledgerDir, idCol, urlCol, qualityCol, outDir))

  /** One micro-batch of [[annIngestStream]] — [[applyWitnessed]] over
    * [[Ann.appendToIvfIndex]]; zero-norm vectors are not eligible. */
  def applyAnnBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit =
    applyWitnessed(IndexFamily.ivf, batch, batchId, indexDir,
        eligible = _ => nonZeroIds(batch)) {
      Ann.appendToIvfIndex(batch.sparkSession, indexDir, batch, s"b$batchId")
    }

  /** Continuous ANN ingest — the reference's operating mode
    * (embed_to_milvus.py:147-183 keeps uploading batches into the
    * Milvus collection) as a stream into the persisted IVF index:
    * each micro-batch of (id, v) rows is assigned through the STORED
    * codebook and appended in O(batch); searches between micro-batches
    * see everything ingested so far. Same replay idempotency as
    * [[dedupIngestStream]]. */
  def annIngestStream(vecStream: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(vecStream, checkpointDir, trigger)(
      applyAnnBatch(_, _, indexDir))

  /** One micro-batch of [[sparseIngestStream]] — [[applyWitnessed]]
    * over [[Ann.appendToSparseIndex]]; every batch id is eligible (the
    * sparse append filters nothing). The one-off doclens backfill runs
    * after the heal so the witness can read doclens on a pre-BM25
    * index — this driver is a writer, so the mutation-path-only
    * backfill rule holds. */
  def applySparseBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit =
    applyWitnessed(IndexFamily.sparse, batch, batchId, indexDir,
        beforeWitness =
          Ann.backfillBm25Sidecars(batch.sparkSession, indexDir)) {
      Ann.appendToSparseIndex(batch.sparkSession, indexDir, batch,
        s"b$batchId")
    }

  /** Continuous sparse ingest — the streaming half of the persisted
    * sparse inverted index ([[graft.operators.Ann.buildSparseIndex]]):
    * each micro-batch of (id, term, w) postings rows is bucketed
    * through the index's stored parameters and appended in O(batch);
    * weight-sum and BM25 searches between micro-batches see everything
    * ingested so far (doclens/stats maintained per append). Same
    * replay idempotency as [[annIngestStream]]. */
  def sparseIngestStream(postingsStream: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(postingsStream, checkpointDir, trigger)(
      applySparseBatch(_, _, indexDir))

  /** One micro-batch of [[ivfPqIngestStream]] — [[applyWitnessed]]
    * over [[Ann.appendToIvfPqIndex]]; zero-norm vectors are not
    * eligible, mirroring the append's own filter. */
  def applyIvfPqBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit =
    applyWitnessed(IndexFamily.ivfPq, batch, batchId, indexDir,
        eligible = _ => nonZeroIds(batch)) {
      Ann.appendToIvfPqIndex(batch.sparkSession, indexDir, batch,
        s"b$batchId")
    }

  /** Continuous IVF-PQ ingest: micro-batches of (id, v) are assigned
    * and residual-encoded through the STORED codebooks and appended in
    * O(batch) — ADC searches between micro-batches see everything
    * ingested so far at 1/32-1/128 the corpus bytes. Same replay
    * idempotency as [[annIngestStream]]. */
  def ivfPqIngestStream(vecStream: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(vecStream, checkpointDir, trigger)(
      applyIvfPqBatch(_, _, indexDir))

  /** One micro-batch of [[binaryIngestStream]] — [[applyWitnessed]]
    * over [[Ann.appendToBinaryIndex]]; every batch id is eligible
    * (binarizeSign packs any vector, zero-norm included). */
  def applyBinaryBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit =
    applyWitnessed(IndexFamily.binary, batch, batchId, indexDir) {
      Ann.appendToBinaryIndex(batch.sparkSession, indexDir, batch,
        s"b$batchId")
    }

  /** Continuous binary ingest — the streaming half of the persisted
    * BIN_FLAT index ([[graft.operators.Ann.buildBinaryIndex]]): each
    * micro-batch of (id, v) float vectors is sign-packed through the
    * index's stored dim and appended in O(batch); Hamming searches
    * between micro-batches see everything ingested so far. Same replay
    * idempotency as [[annIngestStream]]. */
  def binaryIngestStream(vecStream: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(vecStream, checkpointDir, trigger)(
      applyBinaryBatch(_, _, indexDir))

  /** One micro-batch of [[phashIngestStream]] — [[applyWitnessed]]
    * over [[graft.operators.Multimodal.appendToPhashIndex]]; every
    * batch id is eligible (phashBits signs any feature vector). */
  def applyPhashBatch(batch: DataFrame, batchId: Long, indexDir: String,
      idCol: String, featuresCol: String): Unit =
    applyWitnessed(IndexFamily.phash, batch, batchId, indexDir, idCol) {
      graft.operators.Multimodal.appendToPhashIndex(batch.sparkSession,
        indexDir, batch, idCol, featuresCol, s"b$batchId")
    }

  /** Continuous media ingest into the persisted perceptual-hash index
    * ([[graft.operators.Multimodal.buildPhashIndex]]) — the daily
    * media-crawl shape: each micro-batch of (id, features) rows (from
    * the decodeFeatures seam) is signed and banded through the index's
    * STORED parameters and appended in O(batch);
    * [[graft.operators.Multimodal.dedupPhashAgainstIndex]] probes
    * between micro-batches see everything ingested so far. Same replay
    * idempotency as [[annIngestStream]]. */
  def phashIngestStream(mediaStream: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "id",
      featuresCol: String = "features",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(mediaStream, checkpointDir, trigger)(
      applyPhashBatch(_, _, indexDir, idCol, featuresCol))

  /** One micro-batch of [[lshIngestStream]] — [[applyWitnessed]] over
    * [[Ann.appendToLshIndex]]. LSH keeps no ids sidecar (appends are
    * unguarded because lshRank collapses per-(qid,id)), so the buckets
    * table alone witnesses the batch; its append is journaled like the
    * siblings', so after the heal the batch is fully present or fully
    * absent. Every batch id is eligible (lshBuckets hashes any vector,
    * zero-norm included). */
  def applyLshBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit =
    applyWitnessed(IndexFamily.lsh, batch, batchId, indexDir) {
      Ann.appendToLshIndex(batch.sparkSession, indexDir, batch,
        s"b$batchId")
    }

  /** One micro-batch of [[cosineIngestStream]]: admission verdicts
    * against the accumulated LSH history
    * ([[graft.operators.Dedup.cosineDedupAgainstIndex]]) land under
    * `outDir/batch=<id>`, then ONLY the admitted (non-dup) vectors
    * append as segment `b<batchId>` — the embedding-side
    * admit-then-ingest loop ([[lineDfIngestStream]]'s shape on
    * vectors). Crash-safe without an excludeSrc probe: verdicts are
    * fully written BEFORE the (journaled) append starts, so the one
    * replay window where recomputing would self-match — the append's
    * journal rolled FORWARD — is detected by the batch's own src
    * segment being present, and the replay is a no-op; every other
    * window recomputes against unchanged history to identical output.
    * The batch is NOT deduped against itself (run
    * [[graft.operators.Dedup.embeddingCosineLsh]] on it separately) —
    * within one trigger, near-identical arrivals all admit; they
    * become each other's history from the NEXT batch on. */
  def applyCosineDedupBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, vecCol: String, tau: Double,
      outDir: String): Unit = {
    // pinned at entry (the applyDriftBatch discipline): the batch feeds
    // the emptiness probe, the admission probe's signature collect, and
    // the admitted-side join — a non-replayable source must be read
    // once per trigger, or torn re-reads could make the written
    // verdicts and the appended segment disagree
    val pinned = batch.persist()
    try {
      if (pinned.isEmpty) return
      val spark = pinned.sparkSession
      graft.operators.IndexFamily.lsh.heal(spark, indexDir)
      val src = s"b$batchId"
      if (graft.operators.IndexFiles.listSrcs(spark, indexDir, "buckets")
          .contains(src)) return
      import org.apache.spark.sql.functions.col
      val verdicts = graft.operators.Dedup
        .cosineDedupAgainstIndex(spark, indexDir, pinned, idCol, vecCol, tau)
        .persist()
      try {
        verdicts.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
        val admitted = pinned
          .select(col(idCol).as("id"), col(vecCol).as("v"))
          .join(verdicts.filter(!col("is_dup")).select("id"),
            Seq("id"), "left_semi")
        if (!admitted.isEmpty)
          graft.operators.Ann.appendToLshIndex(spark, indexDir, admitted, src)
      } finally { verdicts.unpersist(); () }
    } finally { pinned.unpersist(); () }
  }

  /** Streaming embedding-dedup ADMISSION — arriving vectors are
    * admitted or flagged against everything admitted before them, and
    * the survivors join the history: the daily-crawl loop that keeps a
    * vector corpus near-dup-free incrementally (the [[lineDfIngestStream]]
    * lifecycle on the LSH index instead of line frequencies). Verdict
    * rows (id, dup_of, cos, is_dup) per batch under `outDir`; state
    * lives in the index directory, not the state store; per batch the
    * work is the bucket-pruned probe + an O(admitted) append. */
  def cosineIngestStream(vecStream: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String, idCol: String = "id",
      vecCol: String = "v", tau: Double = 0.9,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(vecStream, checkpointDir, trigger)(
      applyCosineDedupBatch(_, _, indexDir, idCol, vecCol, tau, outDir))

  /** Continuous LSH ingest — the streaming half of the persisted LSH
    * index ([[graft.operators.Ann.buildLshIndex]]): each micro-batch of
    * (id, v) vectors is hashed through the plane families recorded in
    * the index's own meta and appended in O(batch); bucket-pruned
    * searches between micro-batches see everything ingested so far.
    * Same replay idempotency as [[annIngestStream]]. */
  def lshIngestStream(vecStream: DataFrame, indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBatches(vecStream, checkpointDir, trigger)(
      applyLshBatch(_, _, indexDir))

  /** File-source → rotating parquet segments, exactly-once via the
    * checkpoint; AvailableNow drains what exists then stops (swap the
    * trigger for continuous micro-batching in production). */
  def run(spark: SparkSession, srcDir: String, schema: StructType,
      existing: DataFrame, outDir: String, checkpointDir: String,
      maxRecordsPerFile: Int = 100000): StreamingQuery =
    pipeline(spark.readStream.schema(schema).parquet(srcDir), existing)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .trigger(Trigger.AvailableNow())
      .start()
}
