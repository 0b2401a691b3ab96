package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scheduled index maintenance — the ONE nightly call a long-lived
  * ingestion driver makes after a day's appends land: age out every
  * segment beyond each index's retention window, uniformly across
  * every persisted history/index family this engine ships (the
  * reference's analog is load_data/parquet_manager.py's rotating
  * segment design, applied store-wide).
  *
  * Declarative: the caller lists (dir, family, keep) specs; the
  * driver dispatches each to that family's
  * [[IndexFamily.retireWindow]] and returns the audit trail a
  * scheduled job logs — one row per RETIRED segment, (dir, family,
  * keep, tag), tags in the retirement (oldest-first) order.
  * Idempotent by composition: each window call retires only segments
  * beyond its window, so the steady state of a daily run is one
  * retired tag per spec (or none). Failures are
  * loud and ordered: specs run in the given order and a failing
  * family aborts the run BEFORE later specs touch their indexes —
  * each family's own retire leaves its index consistent (heal-first,
  * sidecars rebuilt), so a crashed nightly resumes by re-running.
  */
object Maintenance {

  /** The [[IndexFamily]] each spec names, among `accepted` (spec name
    * → family); unknown names are loud BEFORE anything runs (a typo'd
    * nightly must not half-age the store). */
  private def resolve(specNames: Seq[String],
      accepted: Seq[(String, IndexFamily)], what: String): Seq[IndexFamily] = {
    val byName = accepted.toMap
    val unknown = specNames.filterNot(byName.contains).distinct
    require(unknown.isEmpty,
      s"unknown $what families ${unknown.mkString(", ")} — " +
        s"expected one of ${accepted.map(_._1).sorted.mkString(", ")}")
    specNames.map(byName)
  }

  private def named(p: IndexFamily => Boolean) =
    IndexFamily.all.filter(p).map(f => f.name -> f)

  /** Run the windows. `specs` = (indexDir, family, keep) — family one
    * of [[IndexFamily.all]]'s names, each retired through its
    * [[IndexFamily.retireWindow]]; unknown names are loud BEFORE any
    * retirement runs. The report is driver-sized by construction (one
    * row per retired segment). */
  def nightly(spark: SparkSession,
      specs: Seq[(String, String, Int)]): DataFrame = {
    import spark.implicits._
    val fams = resolve(specs.map(_._2), named(_ => true), "maintenance")
    specs.zip(fams).flatMap { case ((dir, family, keep), fam) =>
      fam.retireWindow(spark, dir, keep)
        .map(tag => (dir, family, keep, tag))
    }.toDF("dir", "family", "keep", "tag")
  }

  /** Run the sighting windows — the OTHER retention contract, for the
    * sighted-admission indexes: "seen in the last N days"
    * ([[IndexFamily.retireSeenWindow]] — a re-seen document's clock
    * resets), which [[nightly]] cannot drive (its contract never
    * retires the build segment, exactly the semantics the sighted
    * ledgers exist to replace). `specs` = (indexDir, `<family>_seen`
    * for a sighted family, keep sighting-DAYS). EVERY spec validates
    * BEFORE any retirement runs (the [[nightly]] convention, plus this
    * driver's own pre-flights): unknown family names, keep < 1
    * (retiring every sighting day empties a history), and dirs with NO
    * sightings ledger are all loud up front — a typo'd or mis-pointed
    * nightly must not half-age the store. Returns the same audit shape
    * as [[nightly]]: one row per retired sighting day, (dir, family,
    * keep, tag), oldest first per spec. Composes with
    * [[nightlyCompact]]: the sighted retires express forgetting
    * through each family's ONE tombstone model, so the ratio triggers
    * below see (and eventually purge) exactly what these windows
    * wrote. */
  def nightlySighted(spark: SparkSession,
      specs: Seq[(String, String, Int)]): DataFrame = {
    import spark.implicits._
    val fams = resolve(specs.map(_._2),
      IndexFamily.all.filter(_.sighted).map(f => s"${f.name}_seen" -> f),
      "sighted maintenance")
    specs.foreach { case (dir, _, keep) =>
      require(keep >= 1,
        s"keep must be >= 1 for $dir: retiring every sighting day would " +
          s"empty the history (got $keep)")
    }
    val unsighted = specs.map(_._1).distinct.filterNot(d =>
      fsOf(spark, d).exists(new Path(s"$d/seen")))
    require(unsighted.isEmpty,
      s"no sightings ledger at ${unsighted.mkString(", ")} — these are " +
        "admission-ledger indexes (or typos); window them with nightly(), " +
        "or rebuild with the family's buildSighted entry point")
    specs.zip(fams).flatMap { case ((dir, family, keep), fam) =>
      fam.retireSeenWindow(spark, dir, keep)
        .map(tag => (dir, family, keep, tag))
    }.toDF("dir", "family", "keep", "tag")
  }

  /** DISTINCT tombstone rows (0 when never deleted): delete entries
    * append per-batch-distinct rows, so a re-issued takedown list
    * duplicates tombstones — raw row counts would inflate the fraction
    * (past 1.0, even) and trigger rewrites that are not due. */
  private def deadCount(spark: SparkSession, dir: String,
      fam: IndexFamily): Long =
    fam.deletes.flatMap(d => IndexFiles.tombstones(spark, dir, d.table))
      .map(_.distinct().count()).getOrElse(0L)

  /** dead/live with the degenerate ends pinned: nothing tombstoned →
    * 0.0 (live never counted), everything gone → 1.0. The ONE fraction
    * semantics — [[nightlyCompact]] gates on it and [[storeReport]]
    * displays it, so they can never drift apart. */
  private def fractionOf(dead: Long, live: => Long): Double =
    if (dead == 0L) 0.0
    else { val l = live; if (l == 0L) 1.0 else dead.toDouble / l }

  private def compactable =
    named(_.deletes.isDefined)

  /** Fraction of an index's live identity set currently tombstoned —
    * the compaction trigger a scheduled job thresholds on (Milvus's
    * own compaction heuristic shape: deletes accumulate as tombstone
    * segments until a ratio trips a rewrite). The distinct tombstone
    * rows count against the family's [[IndexFamily.liveKeys]] (the ids
    * sidecar, the payload's distinct ids for pre-sidecar indexes, the
    * fp rows for exact). 0.0 when nothing is tombstoned — including
    * when the tombstone table does not exist. line-df and domain-cap
    * have no tombstone model (their histories mutate only by segment
    * retirement) and are loud here. */
  def tombstoneFraction(spark: SparkSession, dir: String,
      family: String): Double = {
    val fam = resolve(Seq(family), compactable, "tombstone-model").head
    fractionOf(deadCount(spark, dir, fam), fam.liveKeys(spark, dir).count())
  }

  /** The compaction half of the scheduled nightly: `specs` = (indexDir,
    * family, threshold) — compact when [[tombstoneFraction]] reaches
    * the threshold (Milvus-style ratio trigger; 0.0 compacts on any
    * tombstone at all, large values effectively disable). Unknown families are loud BEFORE any
    * compaction runs, like [[nightly]]. Returns one row per spec:
    * (dir, family, fraction, compacted) — the audit trail records the
    * measured fraction that drove each decision. Compaction is the one
    * honest O(index) rewrite, so the threshold is the knob that
    * amortizes it: a 100 TB store compacts an index when takedowns
    * have actually accumulated, not on every nightly. */
  def nightlyCompact(spark: SparkSession,
      specs: Seq[(String, String, Double)]): DataFrame = {
    import spark.implicits._
    val fams = resolve(specs.map(_._2), compactable, "compaction")
    // every spec validated BEFORE anything compacts — a bad threshold
    // mid-list must not leave the store half-compacted with the audit
    // of the applied half never returned (the nightly() contract)
    specs.foreach { case (dir, _, threshold) =>
      require(threshold >= 0.0, s"negative threshold $threshold for $dir")
    }
    specs.zip(fams).map { case ((dir, family, threshold), fam) =>
      val frac = tombstoneFraction(spark, dir, family)
      // HALF_UP like Spark's and DuckDB's round(), NOT math.rint's
      // half-even — the audited fraction must hash-match the oracle.
      // The decision compares the SAME rounded value the audit row
      // records, so the report always explains the decision.
      val frac4 = BigDecimal(frac)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val due = frac4 > 0.0 && frac4 >= threshold
      if (due) fam.deletes.get.compact(spark, dir)
      (dir, family, frac4, due)
    }.toDF("dir", "family", "fraction", "compacted")
  }

  /** The store health report — the dashboard row a scheduled driver
    * logs per index so retention ([[nightly]]), compaction
    * ([[nightlyCompact]]), and backup ([[snapshotStore]]) decisions
    * have numbers behind them: per (dir, family) spec one row of
    * (live identity count, segment count + oldest/newest tag,
    * distinct tombstones, 4dp tombstone fraction, file count, bytes).
    * `live` and `fraction` are NULL for the families without a delete
    * model (line-df, domain-cap — their histories mutate only by
    * segment retirement); `oldest`/`newest` are NULL for an index with
    * zero segment partitions. Unknown families and missing dirs are
    * loud BEFORE anything is read (the [[nightly]] convention).
    * Driver-sized by construction: one row per spec, and every count
    * is sidecar/footer work — fps rows, the bare ids sidecar, distinct
    * tombstones — never a payload scan. */
  def storeReport(spark: SparkSession,
      specs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val fams = resolve(specs.map(_._2), named(_ => true), "report")
    val missing = specs.map(_._1).filterNot(d =>
      fsOf(spark, d).exists(new Path(d)))
    require(missing.isEmpty,
      s"no index at ${missing.mkString(", ")} — fix the spec list first")
    specs.zip(fams).map { case ((dir, family), fam) =>
      // the report's numbers drive compaction/retention/backup
      // decisions — a torn mid-append index must refuse loudly (the
      // search contract), not report half-landed segments as live
      IndexFiles.requireNoPendingAppend(spark, dir)
      val srcs = IndexFiles.listSrcs(spark, dir, fam.payload.head)
      // `oldest`/`newest` are SEGMENT-TAG order, not file age: 'base'
      // (the build segment) precedes every append by construction but
      // sorts AFTER the streaming drivers' b<batchId> tags, so it is
      // pinned oldest explicitly; appended tags keep listSrcs's natural
      // (digit-aware) order — the same order retention retires in, so
      // the dashboard's "newest" is the segment [[nightly]] keeps last
      val appended = srcs.filterNot(_ == "base")
      val oldest =
        if (srcs.contains("base")) "base" else appended.headOption.orNull
      val newest = appended.lastOption
        .getOrElse(if (srcs.contains("base")) "base" else null)
      val live: Option[Long] =
        fam.deletes.map(_ => fam.liveKeys(spark, dir).count())
      val tomb: Long = deadCount(spark, dir, fam)
      val frac: Option[Double] = live.map(l =>
        BigDecimal(fractionOf(tomb, l))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      // files/bytes through the FS's own summary — ONE namenode call on
      // HDFS (getContentSummary is server-side there), not a recursive
      // client walk per dashboard tick over millions of segment files.
      // Crash scratch can never inflate this: snapshot staging/aside
      // and restore scratch are created as SIBLINGS of their targets
      // (<name>__snap_tmp / __snap_old / __restore_tmp next to the
      // dir, never inside it), so a crashed run's leftovers sit
      // outside every index dir this summary reads. Do NOT nest a
      // snapDir inside its index dir — the backup would count as data.
      val summary = fsOf(spark, dir).getContentSummary(new Path(dir))
      // sighting-ledger coverage (r19): a SIGHTED index's retention
      // state must be observable from the one call operators run —
      // retireSeenBefore decisions key on how many sighting days are
      // on disk and how old the oldest is. NULL for admission-ledger
      // dirs (no seen/ table); day tags in listSrcs's natural order,
      // the same order the sighted windows retire in.
      val hasSeen = fsOf(spark, dir).exists(new Path(s"$dir/seen"))
      val seenSrcs =
        if (hasSeen) IndexFiles.listSrcs(spark, dir, "seen") else Seq.empty
      (dir, family, live, srcs.size.toLong, oldest,
        newest, tomb, frac,
        if (hasSeen) Some(seenSrcs.size.toLong) else None,
        seenSrcs.headOption.orNull, seenSrcs.lastOption.orNull,
        summary.getFileCount, summary.getLength)
    }.toDF("dir", "family", "live", "segments", "oldest", "newest",
      "tombstones", "fraction", "seen_days", "oldest_seen", "newest_seen",
      "files", "bytes")
  }


  // ---- point-in-time snapshot / restore ----------------------------------

  private val ManifestName = "_snapshot_manifest"
  private val RestoreTmp = "__restore_tmp"
  private val SnapTmp = "__snap_tmp"
  private val SnapOld = "__snap_old"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every data file under `root`, recursively, as (relative path,
    * length) — the manifest's integrity unit. The manifest itself (and
    * its staging twin) and snapshot/restore scratch (directories NAMED
    * `<basename>__restore_tmp` / `<basename>__snap_tmp`) are never
    * data. */
  private def walkFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(String, Long)] = {
    val prefix = fs.makeQualified(root).toString + "/"
    val out = Seq.newBuilder[(String, Long)]
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) {
        if (!name.endsWith(RestoreTmp) && !name.endsWith(SnapTmp) &&
            !name.endsWith(SnapOld))
          walk(st.getPath)
      } else if (name != ManifestName && name != s"${ManifestName}_tmp") {
        val full = fs.makeQualified(st.getPath).toString
        require(full.startsWith(prefix), s"file $full outside $prefix")
        out += ((full.stripPrefix(prefix), st.getLen))
      }
    }
    walk(root)
    out.result()
  }

  /** Copy `files` from srcRoot to dstRoot as ONE Spark job over the
    * file list — at production scale an index tree is millions of
    * segment files, and a driver-sequential loop is a days-long wall
    * on exactly the machine that must stay responsive. Each task opens
    * its own FileSystem pair from the rebuilt Hadoop conf (the conf is
    * shipped as entries: Configuration is not serializable and Spark's
    * wrapper is private), so each side resolves through ITS OWN
    * filesystem — the DR topology (HDFS index, object-store backup) is
    * the point of the primitive, and a single-FS copy would throw
    * Hadoop's "Wrong FS" on the first cross-scheme spec. Task retries
    * are safe: FileUtil.copy overwrites a half-copied destination. */
  /** Below this many files copyTree runs a driver-local loop: one
    * Spark job launch + 32 task schedulings cost more wall than
    * copying a few dozen small files (the sf0.1 maintenance flagship
    * pays SIX copyTree calls over trees of tens of files — measured
    * A/B in SCALE.md "snapshot copy"); the distributed path's win is
    * real from thousands of files up, which is where production
    * trees live. The Bpe.encode two-tier dispatch, applied to byte
    * movement. */
  private val CopyTreeDriverCutoff = 64

  private def copyTree(spark: SparkSession,
      srcRoot: String, dstRoot: String,
      files: Seq[(String, Long)]): Unit = {
    if (files.isEmpty) return
    if (files.size < CopyTreeDriverCutoff) {
      val conf = spark.sparkContext.hadoopConfiguration
      val srcFs = new Path(srcRoot).getFileSystem(conf)
      val dstFs = new Path(dstRoot).getFileSystem(conf)
      files.foreach { case (rel, _) =>
        val dst = new Path(s"$dstRoot/$rel")
        dstFs.mkdirs(dst.getParent)
        if (!FileUtil.copy(srcFs, new Path(s"$srcRoot/$rel"), dstFs, dst,
            false, conf))
          throw new IllegalStateException(
            s"copy $srcRoot/$rel -> $dst failed")
      }
      return
    }
    val confKV: Seq[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    val slices =
      math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files.map(_._1), slices)
      .foreachPartition { rels =>
        if (rels.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration()
          confKV.foreach { case (k, v) => conf.set(k, v) }
          val srcFs = new Path(srcRoot).getFileSystem(conf)
          val dstFs = new Path(dstRoot).getFileSystem(conf)
          rels.foreach { rel =>
            val dst = new Path(s"$dstRoot/$rel")
            dstFs.mkdirs(dst.getParent)
            if (!FileUtil.copy(srcFs, new Path(s"$srcRoot/$rel"), dstFs, dst,
                false, conf))
              throw new IllegalStateException(
                s"copy $srcRoot/$rel -> $dst failed")
          }
        }
      }
  }

  /** Finish an interrupted snapshot SWAP before anything else looks at
    * `snapDir`: after a crash between rename(snap → aside) and
    * rename(staging → snap), the aside holds the ONLY complete backup
    * — an entry path that deleted it as "stale" and started a fresh
    * copy would open a second-crash window with no complete snapshot
    * anywhere, violating the swap's at-every-instant invariant. If the
    * final path is missing or incomplete and the aside parses as a
    * complete snapshot, the aside renames back into place (any
    * incomplete final-path leftovers are discarded first). A complete
    * final path leaves the aside to the caller's stale-discard — there
    * it really is a finished swap's undeleted leftover. */
  private def healSnapshotSwap(snapFs: org.apache.hadoop.fs.FileSystem,
      snapDir: String): Unit = {
    val snap = snapFs.makeQualified(new Path(snapDir))
    val old = new Path(snap.getParent, snap.getName + SnapOld)
    if (snapFs.exists(old) && parseManifest(snapFs, old.toString).isDefined
        && parseManifest(snapFs, snapDir).isEmpty) {
      if (snapFs.exists(snap))
        require(snapFs.delete(snap, true),
          s"discard incomplete snapshot $snap failed")
      require(snapFs.rename(old, snap),
        s"heal rename $old -> $snap failed")
    }
  }

  /** The snapshot commit record, parsed defensively: a manifest that is
    * missing, empty, or torn mid-write reads as NO manifest — an
    * incomplete snapshot — never as a crash deeper in restore. */
  private def parseManifest(snapFs: org.apache.hadoop.fs.FileSystem,
      snapDir: String): Option[(Long, Long)] = {
    val p = new Path(s"$snapDir/$ManifestName")
    if (!snapFs.exists(p)) None
    else {
      val in = snapFs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      txt.split(" ") match {
        case Array(n, b) if n.matches("\\d+") && b.matches("\\d+") =>
          Some((n.toLong, b.toLong))
        case _ => None
      }
    }
  }

  /** Write the manifest ATOMICALLY: content lands in a `_tmp` sibling
    * and renames into place, so no reader can ever observe a manifest
    * file that exists but lacks its content (fs.create materializes
    * the path before the write — the torn-commit window this rename
    * closes). */
  private def writeManifest(snapFs: org.apache.hadoop.fs.FileSystem,
      snapDir: String, files: Seq[(String, Long)]): Unit = {
    val tmp = new Path(s"$snapDir/${ManifestName}_tmp")
    val out = snapFs.create(tmp, true)
    try out.write(
      s"${files.size} ${files.map(_._2).sum}\n".getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(s"$snapDir/$ManifestName")
    if (snapFs.exists(dst)) snapFs.delete(dst, false)
    require(snapFs.rename(tmp, dst),
      s"manifest commit rename $tmp -> $dst failed")
  }

  /** Point-in-time backup of a persisted index directory — the call a
    * scheduled driver makes BEFORE the risky mutations ([[nightly]]
    * retirement, [[nightlyCompact]]'s physical rewrites, a bulk
    * takedown): the one recovery primitive that makes every later
    * mistake reversible. Family-agnostic: the whole tree is copied
    * verbatim — payload tables WITH their partition directories,
    * sidecars, tombstones, even a pending append journal (a restored
    * journal heals exactly like a crashed one, so the snapshot point
    * may sit anywhere in the append protocol). The manifest (file
    * count + total bytes) is written LAST and is the commit point: a
    * snapshot without one is an interrupted copy and [[restoreIndex]]
    * refuses it. Re-snapshotting over an interrupted attempt heals it;
    * overwriting a COMPLETE snapshot requires `overwrite = true` (a
    * backup silently replaced after the index it guards was mutated is
    * the exact loss the primitive exists to prevent).
    *
    * Scale shape: O(index bytes) moved by ONE Spark job over the file
    * list (see [[copyTree]] — tasks copy independent files, the driver
    * only lists and commits), amortized like one compaction (snapshot
    * before risky maintenance, not per batch). On HDFS/S3 production
    * stores the FS-native bulk path (`hdfs dfs -cp`/DistCp, S3
    * server-side copy) can substitute for the byte movement under the
    * same directory contract; this distributed copy is the engine's
    * own path.
    *
    * Crash-safe by staging: bytes AND manifest land in a
    * `<snapDir>__snap_tmp` scratch sibling first; the swap then moves
    * the old backup ASIDE (`__snap_old`), renames the staging in, and
    * deletes the aside LAST — at every instant a complete snapshot
    * (manifest included) exists at the final path or the aside path,
    * and a crash anywhere heals by re-running (stale scratch and aside
    * are discarded at entry). */
  def snapshotIndex(spark: SparkSession, dir: String, snapDir: String,
      overwrite: Boolean = false): Unit = {
    // each side through its own FS: index on HDFS, backup on an object
    // store is the DR topology this exists for
    val fs = fsOf(spark, dir)
    val snapFs = fsOf(spark, snapDir)
    require(fs.exists(new Path(dir)), s"no index at $dir to snapshot")
    // an interrupted swap's aside may be the only complete backup —
    // put it back FIRST; the stale-discards below then only ever
    // remove genuinely redundant state
    healSnapshotSwap(snapFs, snapDir)
    val snap = new Path(snapDir)
    if (snapFs.exists(snap)) {
      val complete = parseManifest(snapFs, snapDir).isDefined
      require(overwrite || !complete,
        s"complete snapshot already at $snapDir — pass overwrite=true " +
          "to replace it (refusing: the backup may be the only copy of " +
          "a state the live index no longer has)")
    }
    val snapNorm = snapFs.makeQualified(snap)
    val tmp = new Path(snapNorm.getParent, snapNorm.getName + SnapTmp)
    val old = new Path(snapNorm.getParent, snapNorm.getName + SnapOld)
    if (snapFs.exists(tmp))
      require(snapFs.delete(tmp, true), s"discard stale staging $tmp failed")
    if (snapFs.exists(old))
      require(snapFs.delete(old, true), s"discard stale aside $old failed")
    val files = walkFiles(fs, new Path(dir))
    snapFs.mkdirs(tmp)
    copyTree(spark, dir, tmp.toString, files)
    writeManifest(snapFs, tmp.toString, files)
    // the staged snapshot is complete (manifest written LAST, above) —
    // swap with the old backup deleted LAST: the previous backup moves
    // ASIDE first, so at every instant of the swap a complete snapshot
    // exists either at the final path or at the aside path, and a
    // crash anywhere heals by re-running (stale aside/staging
    // discarded above)
    if (snapFs.exists(snap)) {
      require(snapFs.rename(snap, old), s"rename $snap -> $old failed")
      require(snapFs.rename(tmp, snap), s"rename $tmp -> $snap failed")
      require(snapFs.delete(old, true), s"delete old snapshot $old failed")
    } else
      require(snapFs.rename(tmp, snap), s"rename $tmp -> $snap failed")
  }

  /** The whole-store form of [[snapshotIndex]] — the call a scheduled
    * driver makes at the HEAD of its nightly, before [[nightly]]'s
    * retirements and [[nightlyCompact]]'s rewrites touch anything:
    * `specs` = (indexDir, snapDir) rows, each snapshotted with
    * overwrite (a pre-maintenance backup REPLACES yesterday's by
    * design — it guards tonight's run, not history; keep dated
    * snapDirs for retention). Every live dir is validated BEFORE the
    * first copy (a typo'd spec must not half-back-up the store — the
    * [[nightly]] convention), and the returned audit row per spec
    * carries what the manifest recorded: (dir, snap_dir, files,
    * bytes). */
  def snapshotStore(spark: SparkSession,
      specs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    val missing = specs.map(_._1).filterNot(d =>
      fsOf(spark, d).exists(new Path(d)))
    require(missing.isEmpty,
      s"no index at ${missing.mkString(", ")} — refusing to run a " +
        "store backup with missing members (fix the spec list first)")
    specs.map { case (dir, snapDir) =>
      snapshotIndex(spark, dir, snapDir, overwrite = true)
      val files = walkFiles(fsOf(spark, snapDir), new Path(snapDir))
      (dir, snapDir, files.size.toLong, files.map(_._2).sum)
    }.toDF("dir", "snap_dir", "files", "bytes")
  }

  /** Restore an index directory from a [[snapshotIndex]] backup,
    * replacing whatever state (tombstones, compactions, retirements,
    * appends — or corruption) accumulated since. Loud on an incomplete
    * snapshot: the manifest must exist and its file count + byte total
    * must match what is actually on disk. Crash-safe by re-run: the
    * copy lands in a scratch dir first (a leftover scratch from an
    * earlier crash is discarded), the live dir is replaced only after
    * the copy is complete, and the commit point is the final rename —
    * a crash anywhere is repaired by running restore again. Cached
    * plans over the index are invalidated, so in-session searches see
    * the restored state immediately. */
  def restoreIndex(spark: SparkSession, snapDir: String,
      dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val snapFs = fsOf(spark, snapDir)
    // a crash mid-swap may have left the only complete backup at the
    // ASIDE path — recover it rather than refusing a restore the
    // bytes on disk can honor
    healSnapshotSwap(snapFs, snapDir)
    // a missing, empty, or torn manifest all read as "no manifest" —
    // the interrupted-snapshot refusal, never a parse crash
    val manifest = parseManifest(snapFs, snapDir)
    require(manifest.isDefined,
      s"no complete snapshot at $snapDir ($ManifestName missing or " +
        "unreadable — interrupted snapshot?); refusing to restore from it")
    val (expectN, expectBytes) = manifest.get
    val files = walkFiles(snapFs, new Path(snapDir))
    require(files.size == expectN && files.map(_._2).sum == expectBytes,
      s"snapshot at $snapDir does not match its manifest " +
        s"(${files.size} files/${files.map(_._2).sum} bytes on disk vs " +
        s"$expectN/$expectBytes recorded) — refusing to restore")
    // scratch path from the NORMALIZED live path — raw `s"$dir$suffix"`
    // on a trailing-slash dir would nest the scratch INSIDE the live
    // tree, and the delete below would take the fresh copy with it
    val live = new Path(dir)
    val tmp = new Path(live.getParent, live.getName + RestoreTmp)
    if (fs.exists(tmp))
      require(fs.delete(tmp, true), s"discard stale restore $tmp failed")
    fs.mkdirs(tmp)
    copyTree(spark, snapDir, tmp.toString, files)
    if (fs.exists(live))
      require(fs.delete(live, true), s"delete live index $live failed")
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    IndexFiles.refresh(spark, dir)
  }

  /** The whole-store twin of [[restoreIndex]] — the call that recovers
    * from a bad nightly in ONE line instead of N hand-paired restores:
    * `specs` = the SAME (indexDir, snapDir) rows [[snapshotStore]] took
    * (a driver keeps one spec list for both directions). Every member's
    * snapshot is validated complete BEFORE the first byte moves (a
    * missing backup must not leave the store half-restored — the
    * [[nightly]] convention), then each restores through
    * [[restoreIndex]]'s scratch-and-swap. Returns one audit row per
    * member: (dir, snap_dir, files, bytes) as restored.
    *
    * Include the alias REGISTRY directory (Aliases.scala) in the spec
    * list: snapshot/restore are family-agnostic verbatim tree copies,
    * and a restored store is only servable when the blue/green pointers
    * that route searches to its members travel with it. */
  def restoreStore(spark: SparkSession,
      specs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    // validation is the FULL per-member check restoreIndex would make
    // (manifest parseable AND matching the files on disk), not just
    // manifest presence — a member that would fail DEEP in the loop
    // would leave the store half-restored, the exact outcome the
    // up-front pass exists to prevent
    val incomplete = specs.map(_._2).filter { sd =>
      val snapFs = fsOf(spark, sd)
      healSnapshotSwap(snapFs, sd)
      parseManifest(snapFs, sd) match {
        case None => true
        case Some((n, bytes)) =>
          val files = walkFiles(snapFs, new Path(sd))
          files.size != n || files.map(_._2).sum != bytes
      }
    }
    require(incomplete.isEmpty,
      s"no complete snapshot at ${incomplete.mkString(", ")} — refusing " +
        "to restore a store from incomplete backups (fix the spec list " +
        "first)")
    specs.map { case (dir, snapDir) =>
      restoreIndex(spark, snapDir, dir)
      val files = walkFiles(fsOf(spark, dir), new Path(dir))
      (dir, snapDir, files.size.toLong, files.map(_._2).sum)
    }.toDF("dir", "snap_dir", "files", "bytes")
  }
}
