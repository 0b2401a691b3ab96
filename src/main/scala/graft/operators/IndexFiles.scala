package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Compact `dir/ids` sidecar shared by the persisted IVF and minhash
  * indexes: one row per indexed doc id, written at build and extended
  * at append, so the append-time replayed-id guard scans O(corpus docs)
  * of bare ids instead of the index's payload tables (full-width cell
  * rows for IVF; doc-shingle pairs — many× corpus rows — for minhash).
  * At 100 TB that turns the guard from an O(history-payload) scan per
  * append into a read of the smallest column the index owns, and the
  * sidecar's byte size is what a daily append actually touches.
  *
  * Indexes built before the sidecar existed are backfilled lazily:
  * [[ensureIds]] materializes the fallback projection once on the first
  * append, then every later guard reads the sidecar.
  */
private[graft] object IndexFiles {

  /** Hash-route rows to writer tasks ahead of a hive partitionBy write
    * (guide §6: unrouted, every task writes a sliver into every
    * partition dir it touches — tasks×dirs tiny files), the
    * write.distribution-mode=hash shape with bounded file counts.
    * Routed on a partition column (`pfx`, `cell`): one writer task per
    * value. Routed on a row hash key (`h`, `sh`, `sig`, `key` — the
    * src-partitioned dedup payloads): a segment is at most
    * `spark.sql.shuffle.partitions` parallel files in its `src=` dir.
    * `graft.write.saltBuckets` (session conf, default 1) adds a
    * deterministic row-hash salt with N values so a HOT partition can
    * fan out across up to N writer tasks on a real cluster — a bare
    * repartition(cols) is a strict hash requirement AQE cannot split,
    * so a skewed value otherwise funnels through one straggler task
    * (ADVICE r19). The salt derives from xxhash64 of the row's
    * columns, never rand(): a re-run map task must reproduce the same
    * row-to-partition assignment or a fetch-failure retry duplicates/
    * loses rows (SPARK-38388). */
  def routeForWrite(df: DataFrame, cols: String*): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val n = df.sparkSession.conf.get("graft.write.saltBuckets", "1").toInt
    require(n >= 1, s"graft.write.saltBuckets must be >= 1: $n")
    if (n == 1) df.repartition(cols.map(col): _*)
    else df.repartition(
      cols.map(col) :+ pmod(xxhash64(df.columns.map(col): _*), lit(n)): _*)
  }

  /** `df.routeForWrite("sh")` sugar for the pre-write call sites. */
  implicit class WriteRouting(private val df: DataFrame) extends AnyVal {
    def routeForWrite(cols: String*): DataFrame =
      IndexFiles.routeForWrite(df, cols: _*)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/ids")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Per-table staging dir for [[appendStaged]] — INSIDE the live table
    * but underscore-prefixed, so every Spark read of the table ignores
    * it while the batch is being written. */
  private val StagingName = "_append_tmp"

  /** The append journal: its EXISTENCE (created by atomic rename only
    * after every staged table finished writing) is the commit point
    * that flips recovery from roll-back to roll-forward; its content is
    * the batch's id rows, from which an interrupted sidecar extension
    * is replayed idempotently. */
  private val JournalName = "_pending_append"
  private val JournalTmp = "_pending_append_tmp"

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Move the data files under `from` into `to`, preserving partition
    * subpaths, then drop `from` — a staged table slice into its live
    * table, or the committed journal's id files into `ids/`. No-op when
    * `from` is absent. Idempotent: files already moved by an
    * interrupted earlier pass are skipped (part-file names carry fresh
    * UUIDs, so an existing destination can only BE this batch's own
    * file). */
  private def moveIn(fs: org.apache.hadoop.fs.FileSystem,
      from: Path, to: Path): Unit = {
    if (!fs.exists(from)) return
    // listStatus returns scheme-qualified paths — qualify the prefix the
    // same way or the relativization silently yields absolute paths
    // (dest == source, "already moved", batch deleted with the staging)
    val prefix = fs.makeQualified(from).toString + "/"
    val liveDir = fs.makeQualified(to)
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (isDataFile(st.getPath.getName)) {
        val full = fs.makeQualified(st.getPath).toString
        require(full.startsWith(prefix), s"staged file $full outside $prefix")
        val dest = new Path(liveDir, full.stripPrefix(prefix))
        fs.mkdirs(dest.getParent)
        if (!fs.exists(dest))
          require(fs.rename(st.getPath, dest), s"move ${st.getPath} -> $dest failed")
      }
    }
    walk(from)
    require(fs.delete(from, true), s"delete $from failed")
  }

  private def staging(dir: String, table: String) =
    new Path(s"$dir/$table/$StagingName")

  /** Repair an interrupted [[appendStaged]] under `dir` — called at the
    * head of every append (and by the streaming drivers before their
    * witnesses). The journal's existence partitions every crash window
    * into exactly two cases: no journal → staging may be incomplete and
    * nothing is visible yet, so leftovers are discarded (roll BACK);
    * journal present → every staged table was completely written, so
    * the move is finished, the ids sidecar extended with whatever
    * journal ids it is missing — the journal files [[appendStaged]]
    * had not yet renamed into `ids/`, anti-joined so no id lands
    * twice — and the journal dropped (roll FORWARD).
    * Idempotent under repeated crashes at any point. Returns true iff a
    * batch was rolled forward — callers with derived artifacts beyond
    * the journaled tables (the sparse index's stats file) re-derive
    * them on true. */
  def healAppend(spark: SparkSession, dir: String,
      tables: Seq[String]): Boolean = {
    val fs = fsOf(spark, dir)
    fs.delete(new Path(s"$dir/$JournalTmp"), true) // never valid, never visible
    val journal = new Path(s"$dir/$JournalName")
    if (fs.exists(journal)) {
      tables.foreach(t => moveIn(fs, staging(dir, t), new Path(s"$dir/$t")))
      val hasIds = fs.listStatus(journal).exists(f =>
        f.isFile && isDataFile(f.getPath.getName))
      if (hasIds && exists(spark, dir)) {
        spark.read.parquet(journal.toString)
          .join(org.apache.spark.sql.functions
            .broadcast(spark.read.parquet(s"$dir/ids")), Seq("id"), "left_anti")
          .write.mode("append").parquet(s"$dir/ids")
      }
      require(fs.delete(journal, true), s"delete journal $journal failed")
      refresh(spark, dir)
      true
    } else {
      tables.foreach { t =>
        val st = staging(dir, t)
        if (fs.exists(st)) require(fs.delete(st, true),
          s"discard incomplete staging $st failed")
      }
      false
    }
  }

  /** Crash-safe batch append: write every table's batch slice to its
    * in-table staging dir, commit the batch by renaming the id journal
    * into place (atomic — the one instant the append becomes
    * roll-forward), move the staged files in, extend the ids sidecar by
    * renaming the journal's id files into `ids/` (no Spark job), drop
    * the journal. A job failure anywhere leaves
    * a state [[healAppend]] repairs completely on the next append: the
    * documented half-appended-index window of the bare
    * `write.mode("append")` form is gone. `batchIds` is None for
    * unguarded indexes (LSH) — the journal is then an empty commit
    * marker and no sidecar is touched. Callers run [[healAppend]] and
    * their replayed-id guard BEFORE building the staged frames. */
  def appendStaged(spark: SparkSession, dir: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])],
      batchIds: Option[DataFrame]): Unit = {
    val fs = fsOf(spark, dir)
    val journal = new Path(s"$dir/$JournalName")
    require(!fs.exists(journal),
      s"append journal $journal already exists — run healAppend first")
    tables.foreach { case (t, df, partCols) =>
      val w = df.write.mode("overwrite")
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(staging(dir, t).toString)
    }
    val tmp = new Path(s"$dir/$JournalTmp")
    batchIds match {
      case Some(ids) => ids.write.mode("overwrite").parquet(tmp.toString)
      case None => fs.mkdirs(tmp)
    }
    require(fs.rename(tmp, journal), s"commit journal $journal failed")
    tables.foreach { case (t, _, _) => moveIn(fs, staging(dir, t), new Path(s"$dir/$t")) }
    // an LSH commit marker holds no files: nothing moves, it is dropped
    moveIn(fs, journal, new Path(s"$dir/ids"))
    // refresh exactly the mutated table roots, not the whole dir:
    // recacheByPath invalidates every cached plan whose scan root
    // starts with the given path, so a dir-wide refresh used to
    // invalidate (and force a full recompute of) persisted decision
    // frames that only read UNTOUCHED sibling tables (r20 — measured
    // as whole-verdict re-runs inside the sighted appends)
    tables.foreach { case (t, _, _) => refresh(spark, s"$dir/$t") }
    if (batchIds.isDefined) refresh(spark, s"$dir/ids")
  }

  /** The one row of a fixed-schema sidecar (`meta`, `bloom`), read
    * with its schema pinned — inferring it costs a footer-read job. */
  def sidecarRow(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Row =
    spark.read.schema(schema).parquet(path).head()

  /** Write one [[appendStaged]]-shaped slice as the whole table (builds). */
  def writeTable(dir: String, slice: (String, DataFrame, Seq[String])): Unit =
    slice._2.write.partitionBy(slice._3: _*).mode("overwrite").parquet(s"$dir/${slice._1}")

  /** Overwrite the sidecar at build time. `ids` must be one row per
    * distinct indexed id. */
  def writeIds(ids: DataFrame, dir: String): Unit =
    ids.write.mode("overwrite").parquet(s"$dir/ids")

  /** Delete the `srcs` segments' hive partitions from src-partitioned
    * payload tables — the rolling-window retirement primitive (a
    * bounded-history crawl pipeline retires day k−N when day k lands;
    * also the takedown path for a whole contributed batch). O(segment
    * listing): partition directories are removed, no surviving row is
    * rewritten. [[IndexFamily.retireSrcs]] heals first and rebuilds
    * the family's sidecars after. The whole doomed set is validated
    * BEFORE anything is deleted. With `strict` (the default), a src
    * present in no named table is loud — the typo guard; pass
    * strict = false from a scheduled rolling-window job, where an
    * absent segment is the normal footprint of a ZERO-YIELD day (every
    * family's append writes no partitions for an empty batch) and must
    * retire as a no-op, not a crash. With `requireSurvivor` (families
    * whose readers infer schema from the stored files), refuses when a
    * table would keep no partition outside `srcs` — checked against
    * the set as a whole, so a catch-up backlog never retires half and
    * then refuses; retiring everything is [[dropIndex]]-and-rebuild's
    * job. One cache flush for the lot. Returns true when anything
    * dropped. */
  def retireSrcsPartitions(spark: SparkSession, dir: String,
      tables: Seq[String], srcs: Seq[String],
      requireSurvivor: Boolean = true,
      strict: Boolean = true): Boolean = {
    srcs.foreach(src => require(src.matches("[A-Za-z0-9._\\-]+"),
      s"src tag '$src' is not a plain partition value — retire by the " +
        "exact tag the append used"))
    require(srcs.distinct.size == srcs.size,
      s"duplicate src tags in ${srcs.mkString(", ")}")
    val fs = fsOf(spark, dir)
    // ONE listing per table feeds both the presence map and the
    // survivor check — per-src fs.exists probes would cost
    // |srcs|×|tables| metadata round trips, the exact backlog case
    // the bulk form is for
    val srcsOf: Map[String, Set[String]] = tables.map { t =>
      val p = new Path(s"$dir/$t")
      t -> (if (!fs.exists(p)) Set.empty[String]
            else fs.listStatus(p).iterator
              .filter(st => st.isDirectory &&
                st.getPath.getName.startsWith("src="))
              .map(_.getPath.getName.stripPrefix("src=")).toSet)
    }.toMap
    val presentBy = srcs.map(src => src ->
      tables.filter(t => srcsOf(t).contains(src)))
    presentBy.foreach { case (src, present) =>
      require(present.nonEmpty || !strict,
        s"src '$src' not present in any of [${tables.mkString(", ")}] " +
          s"under $dir — nothing to retire (a zero-yield day's segment " +
          "writes no partitions; retire it with strict = false)")
    }
    val live = presentBy.filter(_._2.nonEmpty)
    if (live.isEmpty) return false
    // validate EVERY table's survivor condition before deleting ANY
    // partition — a require tripping after earlier tables (or earlier
    // segments) were already deleted would abort mid-retire and leave
    // the family partially retired (orphaned sibling rows, sidecar
    // rebuilds never reached)
    if (requireSurvivor) {
      val doomed = live.map(_._1).toSet
      live.flatMap(_._2).distinct.foreach { t =>
        require(srcsOf(t).exists(s => !doomed.contains(s)),
          s"retiring src(s) ${live.map(_._1).mkString(", ")} would " +
            s"empty $dir/$t — drop and rebuild the index instead")
      }
    }
    live.foreach { case (src, present) => present.foreach { t =>
      require(fs.delete(new Path(s"$dir/$t/src=$src"), true),
        s"delete $dir/$t/src=$src failed")
    } }
    // Deleting a partition directory that a later append may RE-CREATE
    // under the same path is the one lifecycle where stale captured
    // listings can resurface: a still-registered cached plan fragment
    // over this index (a probe's internal persist) sameResult-matches
    // a post-retire query — the index path and schema compare equal,
    // and a rebuilt-then-re-merged bloom can be byte-identical — and
    // recomputing it replays the PRE-retire file listing captured in
    // its relation (FileNotFound at best, resurrected rows at worst).
    // Appends never hit this (they only create new files). Drop the
    // session's dataset cache and the shared listing cache outright;
    // retirement is rare maintenance, the blunt flush is fine.
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.FsCache.invalidate(spark)
    refresh(spark, dir)
    true
  }

  /** The src segment tags currently present in `table` under `dir` —
    * the rolling-window driver's view of its own history (a hive
    * partition listing; no data read). Sorted ascending in NATURAL
    * order — digit runs compare numerically — so every tag scheme this
    * engine generates or documents comes back oldest-first: ISO dates
    * (digit runs are equal-width, natural = lexical), zero-padded
    * sequence numbers, AND the streaming drivers' unpadded per-batch
    * tags (`b2` < `b10`, where plain lexical sorting would retire the
    * NEWEST segments once ten batches exist). Mixing naming schemes in
    * one index (e.g. date tags plus default-"ingest" batch appends) is
    * the caller's responsibility — the window can only order what one
    * scheme makes comparable. */
  def listSrcs(spark: SparkSession, dir: String,
      table: String): Seq[String] = {
    val p = new Path(s"$dir/$table")
    val fs = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("src="))
      .map(_.getPath.getName.stripPrefix("src="))
      .sorted(naturalOrdering)
  }

  /** Read a payload table projected to `schema`'s columns, or
    * synthesize an EMPTY frame with that schema when the table has
    * ZERO partition directories (an all-filtered build legitimately
    * writes a partitioned table with no partitions — nothing to infer
    * a schema from; the caller supplies the batch-derived id type).
    * Partition columns are projected away either way. */
  def readOrEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    try spark.read.parquet(path).select(
      schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    }

  /** Natural (human) ordering: split into digit / non-digit runs,
    * compare digit runs as integers (shorter-after-stripping-zeros
    * first; equal values fall back to the lexical form so ordering is
    * total), non-digit runs lexically. */
  private[graft] val naturalOrdering: Ordering[String] =
    new Ordering[String] {
      private def chunks(s: String): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          val digit = s.charAt(i).isDigit
          var j = i
          while (j < s.length && s.charAt(j).isDigit == digit) j += 1
          out += s.substring(i, j)
          i = j
        }
        out.result()
      }
      def compare(a: String, b: String): Int = {
        val (ca, cb) = (chunks(a), chunks(b))
        var i = 0
        while (i < ca.length && i < cb.length) {
          val (x, y) = (ca(i), cb(i))
          val c =
            if (x.nonEmpty && y.nonEmpty &&
                x.charAt(0).isDigit && y.charAt(0).isDigit) {
              val n = BigInt(x).compare(BigInt(y))
              if (n != 0) n else x.compareTo(y)
            } else x.compareTo(y)
          if (c != 0) return c
          i += 1
        }
        ca.length - cb.length
      }
    }

  /** Fail fast when an interrupted append's journal is pending. The
    * journal's existence means the move phase may have landed only part
    * of the batch's files, so a payload read can be TORN — a doc scored
    * on a fraction of its rows, which is silently WRONG, not merely
    * stale. Searches are read-only by contract (they must work against
    * read-only mounts and race no writer), so they refuse loudly
    * instead of healing; any append or compact on the index heals
    * first and clears the journal. */
  def requireNoPendingAppend(spark: SparkSession, dir: String): Unit =
    require(!fsOf(spark, dir).exists(new Path(s"$dir/$JournalName")),
      s"incomplete append at $dir ($JournalName pending) — payload tables " +
        "may be torn mid-move; run this index's heal entry (or any " +
        "append/compact on it: they heal first) before searching")

  /** The stored id set, reading the sidecar when present and falling
    * back to `fallback` (the index's own id column, already distinct)
    * for pre-sidecar indexes. Read-only — use [[ensureIds]] on paths
    * that will extend the sidecar afterwards. */
  def storedIds(spark: SparkSession, dir: String,
      fallback: => DataFrame): DataFrame =
    if (exists(spark, dir)) spark.read.parquet(s"$dir/ids") else fallback

  /** Like [[storedIds]], but backfills a missing sidecar from the
    * fallback first, so [[appendStaged]]'s journal-driven sidecar
    * extension leaves it complete. Must be called BEFORE the batch's
    * payload is appended (the fallback projection would otherwise
    * include the batch). */
  def ensureIds(spark: SparkSession, dir: String,
      fallback: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) writeIds(fallback, dir)
    spark.read.parquet(s"$dir/ids")
  }

  /** Invalidate (and rebuild) any cached plan reading under `dir`.
    * Every mutation of a persisted index MUST call this: Spark's
    * CacheManager matches by logical plan, so a search fragment cached
    * before a compaction/append/delete (operators legitimately cache
    * branching sub-plans) would otherwise keep serving the OLD file
    * set forever — the same reason Spark's own INSERT paths call
    * refreshByPath after writing. */
  def refresh(spark: SparkSession, dir: String): Unit =
    spark.catalog.refreshByPath(dir)

  /** Tombstone ids into `dir/deleted` — the shared delete model of
    * every persisted index (Milvus materializes deletes the same way:
    * tombstones merged away at compaction): O(batch) per call, no
    * payload rewrite; searches anti-join the set out; each index's
    * compact() purges physically and re-opens the ids. */
  def writeTombstones(ids: DataFrame, dir: String): Unit = {
    ids.select(org.apache.spark.sql.functions.col("id")).distinct()
      .write.mode("append").parquet(s"$dir/deleted")
    // only dir/deleted changed — a dir-wide refresh would needlessly
    // invalidate cached plans over the untouched payload tables (r20)
    refresh(ids.sparkSession, s"$dir/deleted")
  }

  /** Drop the tombstone table outright — called at the head of every
    * index BUILD: a rebuild starts a fresh history, and a prior
    * generation's tombstones must not outlive it (ids are commonly
    * recycled across rebuilds, so a stale `deleted` row would silently
    * anti-join a legitimately re-indexed doc out of every search —
    * the buildExactIndex `deleted_fps` lesson, uniform here). */
  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    fsOf(spark, dir).delete(new Path(s"$dir/deleted"), true); ()
  }

  /** The tombstone set, None when none were ever written. */
  def tombstones(spark: SparkSession, dir: String,
      table: String = "deleted"): Option[DataFrame] = {
    val p = new Path(s"$dir/$table")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(s"$dir/$table"))
    else None
  }

  /** Session conf key capping how many ON-DISK bytes of a tombstone
    * table any family will force-broadcast for its anti-joins; above
    * the cap the hint drops and Spark plans a plain shuffled anti-join
    * on the key. Takedown-sized tombstones (the usual case) broadcast;
    * the sighting-window retires grow the table DAY-sized between
    * compactions — GBs at daily-crawl churn, which a forced hint would
    * ship to every executor past Spark's own broadcast ceiling. */
  private[graft] val TombstoneBroadcastCapKey =
    "graft.tombstoneBroadcastCapBytes"
  private[graft] val TombstoneBroadcastCapDefault: Long = 32L << 20

  /** `df` with a broadcast hint iff the files under `path` total at
    * most the cap — one FS content summary, file lengths only. */
  private[graft] def sizeCappedBroadcast(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val cap = spark.conf.getOption(TombstoneBroadcastCapKey)
      .map(_.toLong).getOrElse(TombstoneBroadcastCapDefault)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    if (bytes <= cap) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** Drop tombstoned rows from a search-side payload scan. The
    * anti-join side is size-dispatched ([[sizeCappedBroadcast]]). */
  def dropTombstones(spark: SparkSession, dir: String,
      payload: DataFrame): DataFrame =
    tombstones(spark, dir).map(d =>
      payload.join(sizeCappedBroadcast(spark, s"$dir/deleted", d),
        Seq("id"), "left_anti")).getOrElse(payload)

  /** Swap a freshly staged table into place without a data-loss
    * window: the live table is renamed ASIDE first, the staged copy
    * renamed in, then the old copy deleted. A crash between the two
    * renames leaves the data intact under `<path>_old` (an outage a
    * human can repair by renaming back — never a loss); a crash after
    * rename-in leaves at worst the `_old` leftover, deleted on the
    * next compact. Leftovers are handled by explicit existence checks
    * — Hadoop rename into an existing directory NESTS the source
    * inside it and returns true, so a rename would never surface them
    * (single concurrent compactor assumed, as everywhere here): an
    * `_old` beside an intact live table is the benign crash-after-
    * rename-in window and self-heals (deleted, compact proceeds); an
    * `_old` with the live table MISSING is the crash-between-renames
    * window — fail with the rename-back repair instruction. */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
      staged: Path, live: Path): Unit = {
    val old = new Path(live.getParent, live.getName + "_old")
    if (fs.exists(old)) {
      require(fs.exists(live),
        s"crashed compact: $live is missing and its data sits at $old — " +
          "rename it back before compacting")
      require(fs.delete(old, true), s"delete leftover $old failed")
    }
    require(fs.rename(live, old), s"rename $live aside failed")
    require(fs.rename(staged, live), s"swap $staged into place failed")
    require(fs.delete(old, true), s"delete $old failed")
  }

  /** Stage `df` as `dir/<name>_tmp` and swap it over the live table via
    * [[swapIn]] — the shared rewrite primitive of every maintenance
    * rewrite (compaction, re-train). The staged write fully
    * materializes `df` BEFORE the live table moves, so plans reading
    * the live table feed the rewrite safely. */
  /** Fail with the `_old` rename-back repair instruction when `name` is
    * in the crash-between-renames state — called BEFORE any read of the
    * live table, which would otherwise fail with a raw PATH_NOT_FOUND
    * and no pointer to the repair (swapIn's own message is unreachable
    * then — it only runs after the read succeeds). */
  def requireLiveTable(spark: SparkSession, dir: String, name: String): Unit = {
    val fs = fsOf(spark, dir)
    require(fs.exists(new Path(s"$dir/$name")) ||
        !fs.exists(new Path(s"$dir/${name}_old")),
      s"crashed rewrite: $dir/$name is missing and its data sits at " +
        s"$dir/${name}_old — rename it back before proceeding")
  }

  def replaceTable(spark: SparkSession, dir: String, name: String,
      df: DataFrame, partCols: Seq[String]): Unit = {
    val fs = fsOf(spark, dir)
    requireLiveTable(spark, dir, name)
    val w = df.write.mode("overwrite")
    (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
      .parquet(s"$dir/${name}_tmp")
    swapIn(fs, new Path(s"$dir/${name}_tmp"), new Path(s"$dir/$name"))
    // only dir/name changed (the swap renames under that root); a
    // dir-wide refresh invalidated every cached plan over the sibling
    // payload tables — measured as whole-verdict recomputes in the
    // appends that merge a bloom sidecar mid-flight (r20)
    refresh(spark, s"$dir/$name")
  }

  /** Physically purge tombstones: rewrite each payload table under
    * `dir` without the dead ids (staged, then swapped via [[swapIn]] —
    * no crash window loses data), shrink the ids sidecar when the
    * index keeps one, drop `dir/deleted`. `payloads` maps table name →
    * partition columns (empty for unpartitioned). No-op when nothing
    * was deleted. */
  def compact(spark: SparkSession, dir: String,
      payloads: Map[String, Seq[String]]): Unit = {
    // an interrupted append's staged batch lives INSIDE the payload
    // tables, and its journal holds ids not yet in the sidecar.
    // replaceTable's rename-aside would silently destroy the staged
    // files while the journal survives — the next healAppend would
    // then roll the journal's ids forward with no payload behind them
    // (a lying sidecar: ids that reject re-appends but never match a
    // search). Heal first, unconditionally, before any table moves.
    healAppend(spark, dir, payloads.keys.toSeq)
    tombstones(spark, dir).foreach { dead =>
      val fs = fsOf(spark, dir)
      payloads.keys.foreach(requireLiveTable(spark, dir, _))
      payloads.foreach { case (name, partCols) =>
        val kept = spark.read.parquet(s"$dir/$name")
          .join(org.apache.spark.sql.functions.broadcast(dead),
            Seq("id"), "left_anti")
        replaceTable(spark, dir, name, kept, partCols)
      }
      // indexes without an append guard (LSH) keep no sidecar — don't
      // invent one here that later appends would silently let go stale
      if (exists(spark, dir)) {
        val keptIds = spark.read.parquet(s"$dir/ids")
          .join(org.apache.spark.sql.functions.broadcast(dead),
            Seq("id"), "left_anti")
        writeIds(keptIds, s"$dir/ids_staging")
        swapIn(fs, new Path(s"$dir/ids_staging/ids"), new Path(s"$dir/ids"))
        fs.delete(new Path(s"$dir/ids_staging"), true)
      }
      fs.delete(new Path(s"$dir/deleted"), true)
      // compaction rewrites payload tables under their live paths —
      // the delete-then-recreate shape where a cached plan fragment
      // can replay a pre-compact listing (the retirement lesson; here
      // the bloom sidecar is UNCHANGED by the purge, so a pre-compact
      // fragment sameResult-matches a post-compact query). Flush.
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.FsCache.invalidate(spark)
      refresh(spark, dir)
    }
  }

  /** Describe a persisted index — the Milvus describe_index /
    * get_collection_stats surface over our on-disk layout. One row per
    * stored table (payloads, sidecars, tombstones alike):
    * (table, files, bytes, rows, kind, fill_est, fpp_est), plus a
    * `_pending_append` row when an interrupted append's journal is
    * present (rows = journaled ids). Row counts come from the parquet
    * footers (a metadata-only count job), so describing a 100 TB index
    * reads no data pages. A Bloom sidecar row additionally reports its
    * saturation health — fill_est = fraction of set bits, fpp_est =
    * fill^k — NULL for every other table; a fpp_est well above the
    * sidecar's stored design fpp means appends have outgrown the
    * original sizing and [[Dedup.rebuildExactSidecar]] is due. */
  def describeIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, dir)
    val root = new Path(dir)
    require(fs.exists(root), s"index dir $dir does not exist")
    def kindOf(name: String): String = name match {
      case "ids"        => "sidecar"
      case "bloom"      => "sidecar"
      case "deleted"    => "tombstones"
      case "meta" | "stats" | "centroids" | "codebook" | "codebooks"
                        => "metadata"
      case _            => "payload"
    }
    // payload tables may be partitioned (cells/cell=0/part-*.parquet),
    // so the data-file probe has to recurse, not just look one level in
    def hasParquet(p: Path): Boolean = fs.listStatus(p).exists { f =>
      (f.isFile && f.getPath.getName.endsWith(".parquet")) ||
        (f.isDirectory && !f.getPath.getName.startsWith("_") &&
          hasParquet(f.getPath))
    }
    val tables = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_") &&
        st.getPath.getName != "applied")
      .map(_.getPath)
      .filter(hasParquet)
    val rows = tables.map { p =>
      val sum = fs.getContentSummary(p)
      val df = spark.read.parquet(p.toString)
      // Bloom sidecar health: one-row read of the serialized sketch
      val (fill, fppEst): (Option[Double], Option[Double]) =
        if (p.getName == "bloom" && df.columns.contains("bloom")) {
          val (f, fpp) = Dedup.bloomHealth(
            df.select("bloom").head().getAs[Array[Byte]](0))
          (Some(f), Some(fpp))
        } else (None, None)
      (p.getName, sum.getFileCount, sum.getLength, df.count(),
        kindOf(p.getName), fill, fppEst)
    }
    val journal = new Path(s"$dir/_pending_append")
    val pending =
      if (!fs.exists(journal)) Nil
      else {
        val sum = fs.getContentSummary(journal)
        val n = try spark.read.parquet(journal.toString).count()
          catch { case _: Exception => 0L } // empty commit marker (LSH)
        Seq(("_pending_append", sum.getFileCount, sum.getLength, n,
          "journal", None: Option[Double], None: Option[Double]))
      }
    (rows ++ pending).toDF("table", "files", "bytes", "rows", "kind",
      "fill_est", "fpp_est")
  }

  /** Drop a persisted index — the Milvus drop_collection surface
    * (milvus_connector.py:188-190). Deletes the whole dir (payloads,
    * sidecars, replay markers) and invalidates any cached scans so a
    * stale fragment can never serve a search against the dead index. */
  def dropIndex(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    refresh(spark, dir)
    require(fs.delete(new Path(dir), true) || !fs.exists(new Path(dir)),
      s"failed to delete index dir $dir")
  }
}

/** One persisted index family's on-disk lifecycle — retire, heal, ids
  * rebuild, the sighting window — written once over what the family
  * keeps on disk. The 12 families are the values of the companion
  * object; [[Maintenance]] and every caller reach a family's lifecycle
  * through them. Build, the append verdicts, search and compaction
  * stay family code.
  *
  * @param name        the family name [[Maintenance]] specs use
  * @param payload     the `src=`-segmented payload tables; the head is
  *                    the one segment listings walk and, for a family
  *                    with a delete model, the live table
  * @param idsFrom     the table the `ids` sidecar is rebuilt from (None
  *                    for families that keep no sidecar)
  * @param deletes     the tombstone model (None: the history mutates
  *                    only by segment retirement)
  * @param requireSurvivor refuse a retire that would empty a payload
  *                    table (false only where readers pin schemas)
  * @param afterRetire derived state to rebuild after segments drop
  * @param afterHeal   runs after every heal, before any other mutation
  *                    (the flag: a journal was rolled forward) — a
  *                    derived-state refresh, or a guard
  * @param sighting    the `seen` ledger's key column and the noun its
  *                    refusal names (None: no sighted variant)
  */
final case class IndexFamily(
    name: String,
    payload: Seq[String],
    idsFrom: Option[String] = None,
    deletes: Option[IndexFamily.Deletes] = None,
    requireSurvivor: Boolean = true,
    afterRetire: (SparkSession, String) => Unit = (_, _) => (),
    afterHeal: (SparkSession, String, Boolean) => Unit = (_, _, _) => (),
    sighting: Option[IndexFamily.Sighting] = None) {
  import org.apache.spark.sql.functions.col

  def sighted: Boolean = sighting.isDefined

  private def hasSeen(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/seen")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** What a heal rolls forward or back: the payload tables, plus the
    * sighted variant's `seen` table when this dir records sightings —
    * a crashed SIGHTED append must roll its seen segment forward no
    * matter which entry point heals next. */
  def healTables(spark: SparkSession, dir: String): Seq[String] =
    if (hasSeen(spark, dir)) payload :+ "seen" else payload

  /** Repair an interrupted append without appending a new batch —
    * searches are read-only by contract and refuse a pending journal,
    * so something read-write must run the roll-forward/roll-back
    * repair ([[IndexFiles.healAppend]]). Idempotent no-op on a healthy
    * index. */
  def heal(spark: SparkSession, dir: String): Unit =
    afterHeal(spark, dir,
      IndexFiles.healAppend(spark, dir, healTables(spark, dir)))

  /** Rewrite the ids sidecar from the surviving payload — the O(index)
    * scan a retire runs after dropping segments, and the recovery call
    * for a crash that left the sidecar stale. No-op for families that
    * keep no sidecar. */
  def rebuildIds(spark: SparkSession, dir: String): Unit =
    idsFrom.foreach { t =>
      IndexFiles.replaceTable(spark, dir, "ids",
        spark.read.parquet(s"$dir/$t").select("id").distinct(), Seq.empty)
    }

  private def delModel: IndexFamily.Deletes = deletes.getOrElse(
    throw new IllegalArgumentException(s"family $name has no tombstone model"))

  /** The stored identity rows, tombstoned ones included: the family's
    * own reader when it has one (exact's (fp, keep_id) rows), else the
    * ids sidecar when present, else the live table's distinct key. */
  def liveKeys(spark: SparkSession, dir: String): DataFrame = {
    val d = delModel
    d.live.map(_(spark, dir)).getOrElse(IndexFiles.storedIds(spark, dir,
      spark.read.parquet(s"$dir/${payload.head}")
        .select(d.key.map(col): _*).distinct()))
  }

  /** [[liveKeys]] minus the tombstones; the anti-join side is
    * size-dispatched ([[IndexFiles.sizeCappedBroadcast]]). */
  private def liveRows(spark: SparkSession, dir: String): DataFrame = {
    val d = delModel
    IndexFiles.tombstones(spark, dir, d.table).map(dead =>
      liveKeys(spark, dir).join(
        IndexFiles.sizeCappedBroadcast(spark, s"$dir/${d.table}", dead),
        d.key, "left_anti")).getOrElse(liveKeys(spark, dir))
  }

  /** Retire appended segments — the rolling-window form of every
    * family ("dedup/search against the last N crawl days"): one heal,
    * one validated partition drop ([[IndexFiles.retireSrcsPartitions]]:
    * O(segment), no surviving row rewritten), then ONE ids-sidecar
    * rebuild, one prune of the tombstones whose keys left with the
    * segments (a stale tombstone would silently kill a later re-ingest
    * of the same key) and the family's [[afterRetire]] for the whole
    * doomed set — a catch-up backlog of N segments pays the per-retire
    * Spark jobs once, not N times. Survivor verdicts are bit-equal to
    * an index that never saw the segments: payload rows are
    * deterministic per doc and segments never mix partitions. The
    * retired tags become appendable again (re-crawl semantics). Crash
    * windows are all safe-stale: after the partition delete, an
    * orphaned sidecar or Bloom entry can only suppress re-appends or
    * admit extra candidates; re-run the retire (or [[rebuildIds]]) to
    * finish. `strict = false` makes an absent segment a no-op (a
    * zero-yield day appends no partitions, and the scheduled window
    * job must not crash on it). */
  def retireSrcs(spark: SparkSession, dir: String, srcs: Seq[String],
      strict: Boolean = true): Unit = {
    heal(spark, dir)
    if (IndexFiles.retireSrcsPartitions(spark, dir, payload, srcs,
        requireSurvivor = requireSurvivor, strict = strict)) {
      rebuildIds(spark, dir)
      deletes.foreach { d =>
        IndexFiles.tombstones(spark, dir, d.table).foreach { dead =>
          IndexFiles.replaceTable(spark, dir, d.table,
            dead.join(liveKeys(spark, dir), d.key, "left_semi"), Seq.empty)
        }
      }
      afterRetire(spark, dir)
    }
  }

  /** Retire every APPENDED segment except the newest `keep` — the
    * scheduled rolling-window call. Tags sort in
    * [[IndexFiles.listSrcs]]'s NATURAL order (digit runs numeric), so
    * date-named tags AND the streaming drivers' unpadded b<batchId>
    * tags age out oldest-first; the build segment ("base") is never
    * retired — drop-and-rebuild is its lifecycle. Returns the retired
    * tags (empty when the window already fits — the idempotent steady
    * state of a daily job). While a STREAMING driver feeds the index,
    * keep >= 1 is the floor: the latest per-batch segment must stay
    * inside the window until its checkpoint commits — a crash replay
    * of a batch whose segment was retired fails LOUDLY instead of
    * silently resurrecting it. The doomed set retires in ONE
    * [[retireSrcs]] call, survivor-validated as a whole before
    * anything deletes. */
  def retireWindow(spark: SparkSession, dir: String,
      keep: Int): Seq[String] = {
    require(keep >= 0, s"keep must be non-negative: $keep")
    val doomed = IndexFiles.listSrcs(spark, dir, payload.head)
      .filterNot(_ == "base").dropRight(keep)
    if (doomed.nonEmpty) retireSrcs(spark, dir, doomed)
    doomed
  }

  /** Fail unless `dir` records sightings — the guard of every
    * sighting-window entry point. */
  def requireSighted(spark: SparkSession, dir: String): IndexFamily.Sighting = {
    val s = sighting.getOrElse(throw new IllegalArgumentException(
      s"family $name keeps no sightings ledger"))
    require(hasSeen(spark, dir),
      s"$dir has no sightings ledger — build it with the $name family's " +
        "sighted build (the admission index at this dir has no last-seen " +
        "data to window on)")
    s
  }

  /** Retire sighting days older than the newest `keep` — the "seen in
    * the last N days" window, in DELTA form: the keys whose LAST
    * sighting aged out (distinct keys of the doomed days minus the kept
    * days') are resolved against the live rows and TOMBSTONED through
    * the family's one delete model — probes stop matching them
    * immediately, the ratio-scheduled compactor purges them — then the
    * doomed `seen` day-partitions drop in O(segment). A key re-seen in
    * a kept day survives untouched under its original id. Unlike the
    * append-segment windows the build day ages out too (`keep` counts
    * sighting DAYS, so keep >= 1 always leaves the newest day's
    * survivors). Refuses atomically, before anything mutates, when no
    * kept day re-saw any live key. Crash-safe by re-run: tombstones
    * commit BEFORE the seen drop, and a re-run re-resolves the delta
    * against live rows (already-tombstoned keys resolve to nothing).
    * Takedown-sized joins; never an O(index) rewrite. Returns the
    * retired day tags, oldest first. */
  def retireSeenWindow(spark: SparkSession, dir: String,
      keep: Int): Seq[String] = {
    require(keep >= 1,
      s"keep must be >= 1: retiring every sighting day would empty the " +
        s"history (got $keep)")
    val s = requireSighted(spark, dir)
    heal(spark, dir)
    val days = IndexFiles.listSrcs(spark, dir, "seen")
    val doomed = days.dropRight(keep)
    if (doomed.nonEmpty) {
      val seen = spark.read.parquet(s"$dir/seen")
      def keysOf(tags: Seq[String]) =
        seen.filter(col("src").isin(tags: _*)).select(s.key).distinct()
      val forgotten = keysOf(doomed)
        .join(keysOf(days.takeRight(keep)), Seq(s.key), "left_anti")
      val live = liveRows(spark, dir)
      val dead = live.join(forgotten, Seq(s.key), "left_semi").persist()
      // survivor guard by COUNT: dead ⊆ live by construction (a
      // semi-join of live) and both row sets are unique, so "something
      // survives" ⟺ live > dead — two cheap counts instead of
      // materializing a live⟕dead anti-join just to probe emptiness,
      // and the dead count doubles as the write-skip check (r19)
      val deadN = dead.count()
      require(live.count() > deadN,
        s"retiring ${doomed.mkString(", ")} would forget every live " +
          s"${s.noun} (no kept day re-saw anything) — drop and rebuild " +
          "the index instead")
      if (deadN > 0)
        dead.write.mode("append").parquet(s"$dir/${delModel.table}")
      dead.unpersist()
      IndexFiles.retireSrcsPartitions(spark, dir, Seq("seen"), doomed,
        strict = true)
      IndexFiles.refresh(spark, dir)
    }
    doomed
  }

  /** [[retireSeenWindow]] keyed by an explicit horizon: every sighting
    * day strictly OLDER than `day` (natural order — dates, zero-padded
    * or b<batchId> tags all compare correctly) retires. The form a
    * date-driven nightly calls: `retireSeenBefore(spark, dir,
    * "2026-08-09")` keeps exactly the last week regardless of how many
    * zero-yield days wrote no segment. */
  def retireSeenBefore(spark: SparkSession, dir: String,
      day: String): Seq[String] = {
    requireSighted(spark, dir)
    heal(spark, dir)
    val days = IndexFiles.listSrcs(spark, dir, "seen")
    val doomedN = days.count(d => IndexFiles.naturalOrdering.lt(d, day))
    retireSeenWindow(spark, dir, keep = days.size - doomedN)
  }
}

object IndexFamily {

  /** A family's tombstone model: the tombstone table, the compactor
    * that purges it, the key a tombstone row carries, and — when the
    * live identity rows are not the distinct key of the live table —
    * their reader. */
  final case class Deletes(table: String,
      compact: (SparkSession, String) => Unit,
      key: Seq[String] = Seq("id"),
      live: Option[(SparkSession, String) => DataFrame] = None)

  /** The `seen` ledger's key column and the noun its refusal names. */
  final case class Sighting(key: String, noun: String)

  private def idDeletes(compact: (SparkSession, String) => Unit) =
    Some(Deletes("deleted", compact))

  /** A Bloom sidecar rebuild at the design fpp stored in its own row —
    * a retire must not re-size the filter away from its build's fpp. */
  private def atStoredFpp(rebuild: (SparkSession, String, Double) => Unit) =
    (s: SparkSession, d: String) =>
      rebuild(s, d, Dedup.readBloom(s, d).getAs[Double]("fpp"))

  val exact = IndexFamily("exact", Seq("fps"),
    // pair-keyed: a text re-admitted after its takedown gets a fresh
    // live row under a new keep_id that the old tombstone must not touch
    deletes = Some(Deletes("deleted_fps", Dedup.compactExactIndex(_, _),
      Seq("fp", "keep_id"),
      Some((s, d) => Dedup.readFps(s, d).select("fp", "keep_id")))),
    afterRetire = atStoredFpp(Dedup.rebuildExactSidecar(_, _, _)),
    sighting = Some(Sighting("fp", "fingerprint")))
  val linedf = IndexFamily("linedf", Seq("lines"),
    afterRetire = atStoredFpp(Dedup.rebuildLineDfSidecar(_, _, _)))
  val containment = IndexFamily("containment", Seq("shingles", "sizes"),
    idsFrom = Some("sizes"),
    deletes = idDeletes(Dedup.compactContainmentIndex(_, _)),
    afterRetire = atStoredFpp(Dedup.rebuildContainmentSidecar(_, _, _)),
    sighting = Some(Sighting("id", "doc")))
  val minhash = IndexFamily("minhash", Seq("shingles", "sigs"),
    idsFrom = Some("shingles"),
    deletes = idDeletes(Dedup.compactMinhashIndex(_, _)),
    sighting = Some(Sighting("id", "doc")))
  // ledger readers pass explicit schemas: an emptied ledger reads as
  // zero counts, the init state
  val domainCap = IndexFamily("domain_cap", Seq("counts", "admitted"),
    requireSurvivor = false)
  val phash = IndexFamily("phash", Seq("bands"), idsFrom = Some("bands"),
    deletes = idDeletes(Multimodal.compactPhashIndex(_, _)),
    sighting = Some(Sighting("id", "asset")))
  val ivf = IndexFamily("ivf", Seq("cells"), idsFrom = Some("cells"),
    deletes = idDeletes(Ann.compactIvfIndex(_, _)))
  val ivfSq8 = IndexFamily("ivf_sq8", Seq("cells"), idsFrom = Some("cells"),
    deletes = idDeletes(Ann.compactIvfSq8Index(_, _)))
  // codes are meaningless without the codebooks that produced them:
  // every mutation refuses while a retrain is pending
  val ivfPq = IndexFamily("ivf_pq", Seq("codes"), idsFrom = Some("codes"),
    deletes = idDeletes(Ann.compactIvfPqIndex(_, _)),
    afterHeal = (s, d, _) => Ann.requireNoPendingRetrain(s, d))
  // BM25's N/avgdl derive from doclens: re-derived whenever doclens moves
  val sparse = IndexFamily("sparse", Seq("postings", "doclens"),
    idsFrom = Some("postings"),
    deletes = idDeletes(Ann.compactSparseIndex(_, _)),
    afterRetire = (s, d) =>
      if (Ann.hasBm25Sidecars(s, d)) Ann.refreshSparseStats(s, d),
    afterHeal = (s, d, rolled) => if (rolled) Ann.refreshSparseStats(s, d))
  val binary = IndexFamily("binary", Seq("bits"), idsFrom = Some("bits"),
    deletes = idDeletes(Ann.compactBinaryIndex(_, _)))
  // unguarded appends keep no ids sidecar: live ids are the buckets' own
  val lsh = IndexFamily("lsh", Seq("buckets"),
    deletes = idDeletes(Ann.compactLshIndex(_, _)),
    sighting = Some(Sighting("id", "vector")))

  val all: Seq[IndexFamily] = Seq(exact, linedf, containment, minhash,
    domainCap, phash, ivf, ivfSq8, ivfPq, sparse, binary, lsh)
}
