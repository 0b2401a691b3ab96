package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

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
  *
  * Payload writes `repartition` on their partition column (`pfx`,
  * `cell`: one writer task per value) or on the row hash key (`h`,
  * `sh`, `sig`, `key`: a src-partitioned segment lands as at most
  * `spark.sql.shuffle.partitions` parallel files) before the hive
  * partitionBy write — unrouted, every task writes a sliver into every
  * partition dir it touches: tasks×dirs tiny files.
  */
private[graft] object IndexFiles {

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

  /** Repair an interrupted [[appendStaged]] under `dir` — run through
    * [[IndexFamily.heal]] at the head of every append, compaction and
    * retire (and by the streaming drivers before their witnesses). The
    * journal's existence partitions every crash window
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
        read(spark, journal.toString)
          .join(broadcast(read(spark, s"$dir/ids")), Seq("id"), "left_anti")
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
    * in-table staging dir and the id journal to its tmp dir, all
    * concurrently ([[settleAll]]: every write settles before the first
    * failure is rethrown, so a following heal never races a writer),
    * commit the batch by renaming the id journal
    * into place (atomic — the one instant the append becomes
    * roll-forward), move the staged files in, extend the ids sidecar by
    * renaming the journal's id files into `ids/` (no Spark job), drop
    * the journal. A job failure anywhere leaves
    * a state [[healAppend]] repairs completely on the next append: the
    * documented half-appended-index window of the bare
    * `write.mode("append")` form is gone. `batchIds` is None for
    * unguarded indexes (LSH) — the journal is then an empty commit
    * marker and no sidecar is touched. Callers run
    * [[IndexFamily.beginAppend]] and their replayed-id guard
    * ([[IndexFamily.requireNew]]) BEFORE building the staged frames. */
  def appendStaged(spark: SparkSession, dir: String,
      tables: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])],
      batchIds: Option[DataFrame]): Unit = {
    val fs = fsOf(spark, dir)
    val journal = new Path(s"$dir/$JournalName")
    require(!fs.exists(journal),
      s"append journal $journal already exists — run healAppend first")
    val tmp = new Path(s"$dir/$JournalTmp")
    settleAll(tables.map { case (t, df, partCols) => () =>
      val w = df.write.mode("overwrite")
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(staging(dir, t).toString)
    } ++ batchIds.map(ids => () =>
      ids.write.mode("overwrite").parquet(tmp.toString)))
    if (batchIds.isEmpty) fs.mkdirs(tmp)
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

  /** Run `thunks` concurrently, wait until every one has settled, then
    * rethrow the first failure in `thunks` order — nothing is still
    * running when this returns or throws. The threads start from the
    * calling thread, so they inherit its Spark local properties (the
    * job group that cancellation and job tallies key on). A lone thunk
    * runs inline. */
  private[graft] def settleAll[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.size <= 1) thunks.map(_.apply())
    else {
      val out = new Array[Either[Throwable, A]](thunks.size)
      val threads = thunks.zipWithIndex.map { case (t, i) =>
        val th = new Thread(() =>
          out(i) = try Right(t()) catch { case e: Throwable => Left(e) })
        th.setDaemon(true)
        th.start()
        th
      }
      // an interrupt of the caller (a stopping stream) must not let it
      // leave while a writer still runs: wait on, then re-raise the flag
      var interrupted = false
      threads.foreach { th =>
        while (th.isAlive)
          try th.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread.interrupt()
      out.toSeq.map(_.fold(e => throw e, identity))
    }

  /** Spark's footer key for the schema its writer stored. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The data files under `p` (recursing into partition dirs, skipping
    * `_`/`.` names), lazily, in full-path order — the file order
    * Spark's own schema inference takes its first footer from; none
    * when `p` is absent. */
  private def dataFiles(fs: FileSystem, p: Path): Iterator[Path] =
    if (!fs.exists(p)) Iterator.empty
    else fs.listStatus(p).filter(st => isDataFile(st.getPath.getName))
      .sortBy(st => st.getPath.getName + (if (st.isDirectory) "/" else ""))
      .iterator.flatMap(st =>
        if (st.isDirectory) dataFiles(fs, st.getPath) else Iterator(st.getPath))

  /** The schema Spark's writer stored in `path`'s first data file, read
    * on the driver; None without a data file or a stored schema. */
  private def storedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(fsOf(spark, path), new Path(path)).nextOption().flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    }.map(DataType.fromJson).collect { case s: StructType => s }
  }

  /** Open an index table without a Spark job: under the schema stored in
    * its first data file's footer (a bare `spark.read.parquet` infers
    * it with a footer-read job). Partition columns are still discovered
    * from the paths. Without a data file or a stored schema this is the
    * bare read — its refusals ([[readOrEmpty]]'s UNABLE_TO_INFER_SCHEMA,
    * a missing path) included. */
  def read(spark: SparkSession, path: String): DataFrame =
    storedSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The one row of a fixed-schema sidecar (`meta`, `bloom`) under its
    * pinned schema, read on the driver — as a Spark read it costs a
    * one-row job. Falls back to that read (and its refusals: a missing
    * path, an empty sidecar) whenever the stored columns do not match
    * the pinned types one to one. */
  def sidecarRow(spark: SparkSession, path: String, schema: StructType): Row =
    driverRow(spark, path, schema).getOrElse(spark.read.schema(schema).parquet(path).head())

  private def driverRow(spark: SparkSession, path: String,
      schema: StructType): Option[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def physical(t: DataType): Option[PrimitiveTypeName] = t match {
      case IntegerType => Some(PrimitiveTypeName.INT32)
      case LongType => Some(PrimitiveTypeName.INT64)
      case DoubleType => Some(PrimitiveTypeName.DOUBLE)
      case BinaryType | StringType => Some(PrimitiveTypeName.BINARY)
      case _ => None
    }
    def value(g: Group, f: StructField): Any =
      if (g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case IntegerType => g.getInteger(f.name, 0)
        case LongType => g.getLong(f.name, 0)
        case DoubleType => g.getDouble(f.name, 0)
        case BinaryType => g.getBinary(f.name, 0).getBytes
        case StringType => g.getString(f.name, 0)
      }
    // the first row in file order, or None (→ the Spark read) on any
    // column the pinned schema does not name with its own physical type
    val rows = dataFiles(fsOf(spark, path), new Path(path)).map { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f).withConf(conf).build()
      try Option(reader.read()).map { g =>
        val t = g.getType
        if (!schema.forall(sf => t.containsField(sf.name) &&
            t.getType(sf.name).isPrimitive &&
            physical(sf.dataType).contains(
              t.getType(sf.name).asPrimitiveType.getPrimitiveTypeName))) None
        else Some(new GenericRowWithSchema(schema.map(value(g, _)).toArray, schema): Row)
      }
      finally reader.close()
    }
    rows.collectFirst { case Some(r) => r }.flatten
  }

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
      schema: StructType): DataFrame =
    try read(spark, path).select(
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
    if (exists(spark, dir)) read(spark, s"$dir/ids") else fallback

  /** Like [[storedIds]], but backfills a missing sidecar from the
    * fallback first, so [[appendStaged]]'s journal-driven sidecar
    * extension leaves it complete. Must be called BEFORE the batch's
    * payload is appended (the fallback projection would otherwise
    * include the batch). */
  def ensureIds(spark: SparkSession, dir: String,
      fallback: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) writeIds(fallback, dir)
    read(spark, s"$dir/ids")
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
      Some(read(spark, s"$dir/$table"))
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

  /** `c IN values` over `raw`'s partition column `c`, the literals typed
    * to `raw`'s own type for it — the static partition prune of every
    * literal-pruned index scan. Spark's partition-type inference narrows
    * `c` to INT when every directory value fits; a literal of another
    * type makes the analyzer compare through a cast on the attribute,
    * and the file index can prune on that only if the optimizer
    * unwraps the cast again (Spark 4 does for integral IN lists; the
    * rule is version-bound). Typed literals reach the file index as a
    * bare attribute comparison on any version. No values: `lit(false)`
    * (an empty `isin` is not a prune). */
  private[graft] def partitionIn(raw: DataFrame, c: String,
      values: Seq[Long]): Column =
    if (values.isEmpty) lit(false)
    else if (raw.schema(c).dataType == IntegerType)
      col(c).isin(values.map(_.toInt): _*)
    else col(c).isin(values: _*)

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
    * was deleted. Callers heal the whole family first
    * ([[IndexFamily.compact]]): an interrupted append's staged batch
    * lives INSIDE the payload tables, and replaceTable's rename-aside
    * would silently destroy it while its journal survives — the next
    * heal would then roll the journal's ids forward with no payload
    * behind them (a lying sidecar). */
  def compact(spark: SparkSession, dir: String,
      payloads: Map[String, Seq[String]]): Unit = {
    tombstones(spark, dir).foreach { dead =>
      val fs = fsOf(spark, dir)
      payloads.keys.foreach(requireLiveTable(spark, dir, _))
      payloads.foreach { case (name, partCols) =>
        val kept = read(spark, s"$dir/$name")
          .join(broadcast(dead),
            Seq("id"), "left_anti")
        replaceTable(spark, dir, name, kept, partCols)
      }
      // indexes without an append guard (LSH) keep no sidecar — don't
      // invent one here that later appends would silently let go stale
      if (exists(spark, dir)) {
        val keptIds = read(spark, s"$dir/ids")
          .join(broadcast(dead),
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
    val tombstoneTables = IndexFamily.all.flatMap(_.deletes).map(_.table).toSet
    val ledgers = IndexFamily.all.flatMap(_.ledger).toSet
    def kindOf(name: String): String = name match {
      case "ids" | "bloom" => "sidecar"
      case t if tombstoneTables(t) => "tombstones"
      case t if ledgers(t) => "sightings"
      case "meta" | "stats" | "centroids" | "pq" | "train_stats" => "metadata"
      case _ => "payload"
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
      val df = read(spark, p.toString)
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
        val n = try read(spark, journal.toString).count()
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

/** One persisted index family's on-disk lifecycle — the append gate,
  * the sighted commit, heal, compaction, retire, ids rebuild, the
  * sighting window — written once over what the family keeps on disk.
  * The 12 families are the values of the companion object;
  * [[Maintenance]] and every caller reach a family's lifecycle through
  * them. Build bodies, the append verdicts and search stay family code.
  *
  * @param name        the family name [[Maintenance]] specs use
  * @param payload     the `src=`-segmented payload tables with their
  *                    partition columns; the head is the one segment
  *                    listings walk and, for a family with a delete
  *                    model, the live table
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
    payload: Seq[(String, Seq[String])],
    idsFrom: Option[String] = None,
    deletes: Option[IndexFamily.Deletes] = None,
    requireSurvivor: Boolean = true,
    afterRetire: (SparkSession, String) => Unit = (_, _) => (),
    afterHeal: (SparkSession, String, Boolean) => Unit = (_, _, _) => (),
    sighting: Option[IndexFamily.Sighting] = None) {
  def sighted: Boolean = sighting.isDefined

  /** The sightings ledger table, when this family keeps one. */
  def ledger: Option[String] = sighting.map(_ => "seen")

  private def tables: Seq[String] = payload.map(_._1)

  private def hasSeen(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/seen")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** What a heal rolls forward or back: the payload tables, plus the
    * sighted variant's `seen` table when this dir records sightings —
    * a crashed SIGHTED append must roll its seen segment forward no
    * matter which entry point heals next. */
  def healTables(spark: SparkSession, dir: String): Seq[String] =
    if (hasSeen(spark, dir)) tables :+ "seen" else tables

  /** Repair an interrupted append without appending a new batch —
    * searches are read-only by contract and refuse a pending journal,
    * so something read-write must run the roll-forward/roll-back
    * repair ([[IndexFiles.healAppend]]). Idempotent no-op on a healthy
    * index. */
  def heal(spark: SparkSession, dir: String): Unit =
    afterHeal(spark, dir,
      IndexFiles.healAppend(spark, dir, healTables(spark, dir)))

  /** The gate every append into this family passes before it reads
    * anything: the segment tag must be an append tag
    * ([[IndexFamily.requireTag]]); a sighted append needs the ledger
    * ([[requireSighted]]), and an unsighted append into a dir that
    * records sightings is refused — it would store entries no sighting
    * day contains, which the window could never retire. Then [[heal]]. */
  def beginAppend(spark: SparkSession, dir: String, tag: String,
      sighted: Boolean): Unit = {
    IndexFamily.requireTag(tag)
    if (sighted) requireSighted(spark, dir)
    else require(!hasSeen(spark, dir),
      s"$dir records sightings — append with appendTo${name.capitalize}" +
        "IndexSighted (an unsighted append stores entries no sighting " +
        "window could ever retire)")
    heal(spark, dir)
  }

  /** The distinct ids of the [[idsFrom]] table. */
  private def idsOf(spark: SparkSession, dir: String): DataFrame = {
    val t = idsFrom.getOrElse(throw new IllegalArgumentException(
      s"family $name keeps no ids sidecar"))
    IndexFiles.read(spark, s"$dir/$t").select("id").distinct()
  }

  /** The stored id set, tombstoned ids included: the sidecar, or the
    * [[idsFrom]] table's ids for a pre-sidecar index. Read-only. */
  def storedIds(spark: SparkSession, dir: String): DataFrame =
    IndexFiles.storedIds(spark, dir, idsOf(spark, dir))

  /** The replayed-id guard: fail when any of `batchIds` is already
    * stored; `why` names what the replay would corrupt. The sidecar is
    * backfilled first on a pre-sidecar index ([[IndexFiles.ensureIds]]),
    * so the journal's sidecar extension leaves it complete. Runs after
    * [[beginAppend]], before the batch lands. */
  def requireNew(spark: SparkSession, dir: String, batchIds: DataFrame,
      why: String): Unit =
    IndexFamily.refuseStored(IndexFiles.ensureIds(spark, dir, idsOf(spark, dir)),
      batchIds, why)

  /** A sighted build's `seen` ledger: the distinct `keys`, all sighted
    * on the build `day` (which ages out of the window like any other). */
  def writeSeen(keys: DataFrame, dir: String, day: String): Unit =
    keys.distinct().withColumn("src", lit(day))
      .write.partitionBy("src").mode("overwrite").parquet(s"$dir/seen")

  /** Commit a sighted append in ONE [[IndexFiles.appendStaged]]: the
    * payload `slices` plus the day's `seen` slice — the `admitted` keys
    * and the stored keys the rejections `touched` (their clocks reset)
    * — so a crash can never land entries without their sightings. The
    * `*Any` flags come from the caller's counts of persisted frames:
    * they skip an empty seen slice, and a commit with nothing to write,
    * without an emptiness probe. The ids journal is `admitted` when the
    * family keeps a sidecar and anything was admitted. */
  def commitSighted(spark: SparkSession, dir: String, day: String,
      slices: Seq[(String, DataFrame, Seq[String])],
      admitted: DataFrame, admittedAny: Boolean,
      touched: Option[DataFrame] = None, touchedAny: Boolean = false): Unit = {
    val keys = touched.fold(admitted)(admitted.unionByName(_).distinct())
    val seen =
      if (admittedAny || touchedAny)
        Seq(("seen", keys.withColumn("src", lit(day)), Seq("src")))
      else Nil
    if ((slices ++ seen).nonEmpty)
      IndexFiles.appendStaged(spark, dir, slices ++ seen,
        if (admittedAny && idsFrom.isDefined) Some(admitted) else None)
  }

  /** The admission tail of the verdict-probing sighted appends.
    * `pairs` are the verdict's (id_new, id_old) — each rejected batch
    * id with the stored id it matched, id_old null for a rejection
    * inside the batch; pins it hands off ([[CacheLifecycle]]) are
    * released once it is checkpointed. The rows of `batch` (keyed by
    * `id`) it did not reject are admitted; `slices` builds the payload
    * from them, only when there are any, and the pins its frames hand
    * off are released after the one [[commitSighted]] that lands the
    * payload, the admitted ids and the touched stored ids. */
  def admitSighted(spark: SparkSession, dir: String, day: String,
      batch: DataFrame, pairs: DataFrame)(
      slices: DataFrame => Seq[(String, DataFrame, Seq[String])]): Unit = {
    // localCheckpoint + persist, not bare persist: the verdict scans
    // $dir, and the staged writes refreshByPath($dir) between slices —
    // a bare persist was invalidated and every later slice re-ran the
    // whole verdict (r20, event-logged: 119 s + 151 s of task CPU for
    // one 123 s verdict at sf0.1); the persist restores the planner
    // statistics a checkpointed RDD lacks, so the anti-join broadcasts
    val p = pairs.select("id_new", "id_old").localCheckpoint().persist()
    CacheLifecycle.release(pairs)
    val touched = p.filter(col("id_old").isNotNull).select(col("id_old").as("id"))
    // counts of persisted frames, not isEmpty probes: each extra action
    // pays a driver planning round over the composed plan (r19)
    val admitted = batch.join(p.select(col("id_new").as("id")), Seq("id"),
      "left_anti").persist()
    val Seq(touchedN, admittedN) =
      IndexFiles.settleAll(Seq(() => touched.count(), () => admitted.count()))
    val payload = if (admittedN == 0) Seq.empty else slices(admitted)
    commitSighted(spark, dir, day, payload, admitted.select("id"),
      admittedN > 0, Some(touched), touchedN > 0)
    payload.foreach(s => CacheLifecycle.release(s._2))
    p.unpersist(); admitted.unpersist(); ()
  }

  /** Physically purge tombstones: the family's own compactor when its
    * delete model has one, else one [[heal]] — payload AND `seen`, so a
    * crashed sighted batch keeps its sightings — then
    * [[IndexFiles.compact]] over the payload tables. */
  def compact(spark: SparkSession, dir: String): Unit =
    delModel.compact match {
      case Some(own) => own(spark, dir)
      case None =>
        heal(spark, dir)
        IndexFiles.compact(spark, dir, payload.toMap)
    }

  /** Rewrite the ids sidecar from the surviving payload — the O(index)
    * scan a retire runs after dropping segments, and the recovery call
    * for a crash that left the sidecar stale. No-op for families that
    * keep no sidecar. */
  def rebuildIds(spark: SparkSession, dir: String): Unit =
    if (idsFrom.isDefined)
      IndexFiles.replaceTable(spark, dir, "ids", idsOf(spark, dir), Seq.empty)

  private def delModel: IndexFamily.Deletes = deletes.getOrElse(
    throw new IllegalArgumentException(s"family $name has no tombstone model"))

  /** The stored identity rows, tombstoned ones included: the family's
    * own reader when it has one (exact's (fp, keep_id) rows), else the
    * ids sidecar when present, else the live table's distinct key. */
  def liveKeys(spark: SparkSession, dir: String): DataFrame = {
    val d = delModel
    d.live.map(_(spark, dir)).getOrElse(IndexFiles.storedIds(spark, dir,
      IndexFiles.read(spark, s"$dir/${tables.head}")
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
    if (IndexFiles.retireSrcsPartitions(spark, dir, tables, srcs,
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
    val doomed = IndexFiles.listSrcs(spark, dir, tables.head)
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
      val seen = IndexFiles.read(spark, s"$dir/seen")
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

  /** Refuse an empty segment tag or the build's own "base": every
    * append names its segment, and every sighted build its day, with a
    * tag retirement can drop. */
  def requireTag(tag: String): Unit =
    require(tag.nonEmpty && tag != "base",
      s"tag must be a non-empty tag other than 'base': '$tag'")

  /** The replayed-id guard over a given stored id set: fail when any of
    * `batchIds` is in `stored`; `why` names what the replay would
    * corrupt. Read-only — [[IndexFamily.requireNew]] is the append form
    * that backfills a missing sidecar first. */
  def refuseStored(stored: DataFrame, batchIds: DataFrame, why: String): Unit = {
    // at most one row per partition in ONE job: a limit(1) take scans
    // one partition first, then relaunches over the rest when it is empty
    val hits = stored.join(broadcast(batchIds), "id").select("id")
    val replayed = hits.mapPartitions(_.take(1))(Encoders.row(hits.schema)).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already " +
        s"exists in the index — $why")
  }

  /** A family's tombstone model: the tombstone table, the key a
    * tombstone row carries, the reader of the live identity rows when
    * they are not the distinct key of the live table, and the family's
    * own compactor where the generic [[IndexFamily.compact]] does not
    * fit. */
  final case class Deletes(table: String,
      key: Seq[String] = Seq("id"),
      live: Option[(SparkSession, String) => DataFrame] = None,
      compact: Option[(SparkSession, String) => Unit] = None)

  /** The `seen` ledger's key column and the noun its refusal names. */
  final case class Sighting(key: String, noun: String)

  private val idDeletes = Some(Deletes("deleted"))
  private val bySrc = Seq("src")

  /** A Bloom sidecar rebuild at the design fpp stored in its own row —
    * a retire must not re-size the filter away from its build's fpp. */
  private def atStoredFpp(rebuild: (SparkSession, String, Double) => Unit) =
    (s: SparkSession, d: String) =>
      rebuild(s, d, Dedup.readBloom(s, d).getAs[Double]("fpp"))

  val exact = IndexFamily("exact", Seq("fps" -> Seq("src", "pfx")),
    // pair-keyed: a text re-admitted after its takedown gets a fresh
    // live row under a new keep_id that the old tombstone must not touch
    deletes = Some(Deletes("deleted_fps", Seq("fp", "keep_id"),
      Some((s, d) => Dedup.readFps(s, d).select("fp", "keep_id")),
      Some(Dedup.compactExactIndex(_, _)))),
    afterRetire = atStoredFpp(Dedup.rebuildExactSidecar(_, _, _)),
    sighting = Some(Sighting("fp", "fingerprint")))
  val linedf = IndexFamily("linedf", Seq("lines" -> bySrc),
    afterRetire = atStoredFpp(Dedup.rebuildLineDfSidecar(_, _, _)))
  val containment = IndexFamily("containment",
    Seq("shingles" -> bySrc, "sizes" -> bySrc),
    idsFrom = Some("sizes"), deletes = idDeletes,
    afterRetire = atStoredFpp(Dedup.rebuildContainmentSidecar(_, _, _)),
    sighting = Some(Sighting("id", "doc")))
  val minhash = IndexFamily("minhash",
    Seq("shingles" -> bySrc, "sigs" -> bySrc),
    idsFrom = Some("shingles"), deletes = idDeletes,
    sighting = Some(Sighting("id", "doc")))
  // ledger readers pass explicit schemas: an emptied ledger reads as
  // zero counts, the init state
  val domainCap = IndexFamily("domain_cap",
    Seq("counts" -> bySrc, "admitted" -> bySrc), requireSurvivor = false)
  val phash = IndexFamily("phash", Seq("bands" -> bySrc),
    idsFrom = Some("bands"), deletes = idDeletes,
    sighting = Some(Sighting("id", "asset")))
  val ivf = IndexFamily("ivf", Seq("cells" -> Seq("src", "cell")),
    idsFrom = Some("cells"), deletes = idDeletes)
  val ivfSq8 = IndexFamily("ivf_sq8", Seq("cells" -> Seq("src", "cell")),
    idsFrom = Some("cells"), deletes = idDeletes)
  // codes are meaningless without the codebooks that produced them:
  // every mutation refuses while a retrain is pending
  val ivfPq = IndexFamily("ivf_pq", Seq("codes" -> Seq("src", "cell")),
    idsFrom = Some("codes"), deletes = idDeletes,
    afterHeal = (s, d, _) => Ann.requireNoPendingRetrain(s, d))
  // BM25's N/avgdl derive from doclens: re-derived whenever doclens moves
  val sparse = IndexFamily("sparse",
    Seq("postings" -> Seq("src", "tbucket"), "doclens" -> bySrc),
    idsFrom = Some("postings"),
    deletes = Some(Deletes("deleted",
      compact = Some(Ann.compactSparseIndex(_, _)))),
    afterRetire = (s, d) =>
      if (Ann.hasBm25Sidecars(s, d)) Ann.refreshSparseStats(s, d),
    afterHeal = (s, d, rolled) => if (rolled) Ann.refreshSparseStats(s, d))
  val binary = IndexFamily("binary", Seq("bits" -> bySrc),
    idsFrom = Some("bits"), deletes = idDeletes)
  // unguarded appends keep no ids sidecar: live ids are the buckets' own
  val lsh = IndexFamily("lsh", Seq("buckets" -> Seq("src", "tbl", "sig")),
    deletes = idDeletes, sighting = Some(Sighting("id", "vector")))

  val all: Seq[IndexFamily] = Seq(exact, linedf, containment, minhash,
    domainCap, phash, ivf, ivfSq8, ivfPq, sparse, binary, lsh)
}
