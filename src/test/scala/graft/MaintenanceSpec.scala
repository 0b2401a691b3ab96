package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Dedup, IndexFamily, IndexFiles, Maintenance}

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("nightly: windows run in spec order, report one row per retired tag, steady state empty") {
    val root = java.nio.file.Files.createTempDirectory("maint").toString
    val docs0 = Seq((1L, "alpha\nfooter"), (2L, "beta\nunique2"))
      .toDF("doc_id", "text")
    Dedup.buildLineDfIndex(docs0, "doc_id", "text", s"$root/lines")
    Seq(1, 2, 3).foreach(i => Dedup.appendToLineDfIndex(spark,
      s"$root/lines", Seq((10L + i, s"gamma$i\nfooter")).toDF("doc_id", "text"),
      "doc_id", "text", s"d$i"))
    val vecs = (1 to 60).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs.filter(col("id") <= 40), s"$root/ivf", nlist = 4)
    Seq(41L, 51L).foreach(lo => Ann.appendToIvfIndex(spark, s"$root/ivf",
      vecs.filter(col("id") >= lo && col("id") < lo + 10), s"d$lo"))
    val got = Maintenance.nightly(spark, Seq(
        (s"$root/lines", "linedf", 1), (s"$root/ivf", "ivf", 1)))
      .as[(String, String, Int, String)].collect().toSeq
    assert(got == Seq(
      (s"$root/lines", "linedf", 1, "d1"), (s"$root/lines", "linedf", 1, "d2"),
      (s"$root/ivf", "ivf", 1, "d41")), s"got $got")
    // steady state: every window already fits — the daily run no-ops
    assert(Maintenance.nightly(spark, Seq(
      (s"$root/lines", "linedf", 1), (s"$root/ivf", "ivf", 1))).isEmpty)
    // an unknown family is loud BEFORE anything retires
    val err = intercept[IllegalArgumentException] {
      Maintenance.nightly(spark, Seq(
        (s"$root/lines", "linedf", 0), (s"$root/ivf", "no-such", 0)))
    }
    assert(err.getMessage.contains("no-such"), err.getMessage)
    assert(graft.operators.IndexFiles.listSrcs(spark, s"$root/lines", "lines")
      == Seq("base", "d3"), "the typo'd nightly must not half-age the store")
    // every advertised family name resolves (the registry stays total)
    assert(IndexFamily.all.map(_.name).toSet == Set("exact", "linedf",
      "containment", "minhash", "domain_cap", "phash", "ivf", "ivf_sq8",
      "ivf_pq", "sparse", "binary", "lsh"))
  }

  test("nightlySighted: pre-flights abort whole, audit rows, steady state, compaction hand-off") {
    val root = java.nio.file.Files.createTempDirectory("msight").toString
    val ex = s"$root/ex"
    Dedup.buildExactIndexSighted(
      Seq((1L, "alpha one"), (2L, "beta two")).toDF("doc_id", "text"),
      "doc_id", "text", ex, day = "d0")
    // d1 re-sights doc 1's text under a fresh id (touch-on-reject)
    Dedup.appendToExactIndexSighted(spark, ex,
      Seq((11L, "gamma three"), (1000001L, "alpha one"))
        .toDF("doc_id", "text"), "doc_id", "text", "d1")
    Dedup.appendToExactIndexSighted(spark, ex,
      Seq((21L, "delta four")).toDF("doc_id", "text"),
      "doc_id", "text", "d2")
    // pre-flight 1: an unknown family ANYWHERE aborts before the good
    // spec retires (the nightly() half-aged-store rule)
    val e1 = intercept[IllegalArgumentException] {
      Maintenance.nightlySighted(spark,
        Seq((ex, "exact_seen", 2), (ex, "no-such_seen", 1)))
    }
    assert(e1.getMessage.contains("no-such_seen"), e1.getMessage)
    // pre-flight 2: keep < 1 would empty a history — loud up front
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.nightlySighted(spark,
        Seq((ex, "exact_seen", 2), (ex, "exact_seen", 0)))
    }
    assert(e2.getMessage.contains("keep must be >= 1"), e2.getMessage)
    // pre-flight 3: a dir with no sightings ledger (an admission-ledger
    // index, or a typo'd path) refuses before anything ages
    val plain = s"$root/plain"
    Dedup.buildExactIndex(
      Seq((5L, "unrelated text")).toDF("doc_id", "text"),
      "doc_id", "text", plain)
    val e3 = intercept[IllegalArgumentException] {
      Maintenance.nightlySighted(spark,
        Seq((ex, "exact_seen", 2), (plain, "exact_seen", 1)))
    }
    assert(e3.getMessage.contains(plain), e3.getMessage)
    assert(graft.operators.IndexFiles.listSrcs(spark, ex, "seen")
      == Seq("d0", "d1", "d2"),
      "a rejected pre-flight must leave every sighting day in place")
    // the real run: keep=2 retires exactly d0; the re-seen text
    // survives under its ORIGINAL id, the forgotten one tombstones
    val got = Maintenance.nightlySighted(spark, Seq((ex, "exact_seen", 2)))
      .as[(String, String, Int, String)].collect().toSeq
    assert(got == Seq((ex, "exact_seen", 2, "d0")), s"got $got")
    val verdicts = Dedup.dedupExactAgainstIndex(spark, ex,
        Seq((31L, "alpha one"), (32L, "beta two")).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Option[Long], Boolean)].collect()
      .map { case (id, fid, dup) => id -> ((fid, dup)) }.toMap
    assert(verdicts(31L) == ((Some(1L), true)),
      "re-seen text must survive d0's retirement under its original id")
    assert(verdicts(32L) == ((None, false)),
      "a text seen only in the retired day must be forgotten")
    // steady state: the daily re-run retires nothing
    assert(Maintenance.nightlySighted(spark,
      Seq((ex, "exact_seen", 2))).isEmpty)
    // compaction hand-off: the sighted retire wrote through the exact
    // family's ONE tombstone model, so the ratio trigger sees it and
    // the scheduled compactor purges it
    assert(Maintenance.tombstoneFraction(spark, ex, "exact") > 0.0)
    val comp = Maintenance.nightlyCompact(spark, Seq((ex, "exact", 0.0)))
      .select("compacted").as[Boolean].collect().toSeq
    assert(comp == Seq(true))
    assert(Maintenance.tombstoneFraction(spark, ex, "exact") == 0.0)
    // the sighted registry stays total (the families assert's twin)
    assert(IndexFamily.all.filter(_.sighted).map(_.name + "_seen").toSet
      == Set("exact_seen", "minhash_seen", "phash_seen",
        "containment_seen", "lsh_seen"))
  }

  test("rolling windows order segments NATURALLY: unpadded b10 is newer than b2, never retired first") {
    // the streaming drivers tag per-batch segments b0, b1, ..., b10 —
    // a plain lexical sort would place b10 before b2 and the window
    // would retire the NEWEST crawl batches while keeping stale ones
    val ord = graft.operators.IndexFiles.naturalOrdering
    assert(Seq("b10", "b2", "b1", "b0", "b11").sorted(ord)
      == Seq("b0", "b1", "b2", "b10", "b11"))
    // equal-width digit runs (ISO dates, zero-padded) stay lexical
    assert(Seq("2026-01-10", "2026-01-02", "2025-12-31").sorted(ord)
      == Seq("2025-12-31", "2026-01-02", "2026-01-10"))
    assert(ord.compare("d02", "d2") != 0, "ordering must stay total")
    // end to end: eleven unpadded segments, keep the newest two
    val dir = java.nio.file.Files.createTempDirectory("natord")
      .toString + "/idx"
    val vecs = (1 to 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs.filter(col("id") <= 18), dir, nlist = 4)
    (0 to 10).foreach(b => Ann.appendToIvfIndex(spark, dir,
      vecs.filter(col("id") === (19 + b).toLong), s"b$b"))
    assert(IndexFamily.ivf.retireWindow(spark, dir, keep = 2)
      == (0 to 8).map(b => s"b$b"),
      "window must retire b0..b8 and keep b9, b10 — the newest two")
    assert(graft.operators.IndexFiles.listSrcs(spark, dir, "cells")
      == Seq("b9", "b10", "base").sorted(ord))
  }

  test("bulk window retirement equals sequential per-segment retires; refusal is atomic") {
    val rootA = java.nio.file.Files.createTempDirectory("bulkA").toString
    val rootB = java.nio.file.Files.createTempDirectory("bulkB").toString
    def docs(lo: Long) = (lo until lo + 6).map(i =>
      (i, s"line-$i\nshared-footer")).toDF("doc_id", "text")
    val vecs = (1 to 90).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    def vslice(lo: Long, n: Long) =
      vecs.filter(col("id") >= lo && col("id") < lo + n)
    Seq(rootA, rootB).foreach { root =>
      Dedup.buildLineDfIndex(docs(0), "doc_id", "text", s"$root/lines")
      Dedup.buildExactIndex(docs(0), "doc_id", "text", s"$root/exact")
      Ann.buildIvfIndex(vslice(1, 30), s"$root/ivf", nlist = 4)
      Seq("d1", "d2", "d3").zipWithIndex.foreach { case (tag, k) =>
        val lo = 100L * (k + 1)
        Dedup.appendToLineDfIndex(spark, s"$root/lines", docs(lo),
          "doc_id", "text", tag)
        Dedup.appendToExactIndex(spark, s"$root/exact", docs(lo),
          "doc_id", "text", tag)
        Ann.appendToIvfIndex(spark, s"$root/ivf",
          vslice(31 + 20 * k, 20), tag)
      }
    }
    // A: the per-segment path, one retire at a time (the pre-bulk
    // protocol); B: the window's single bulk call
    Seq("d1", "d2").foreach { tag =>
      IndexFamily.linedf.retireSrcs(spark, s"$rootA/lines", Seq(tag))
      IndexFamily.exact.retireSrcs(spark, s"$rootA/exact", Seq(tag))
      IndexFamily.ivf.retireSrcs(spark, s"$rootA/ivf", Seq(tag))
    }
    assert(IndexFamily.linedf.retireWindow(spark, s"$rootB/lines", keep = 1)
      == Seq("d1", "d2"))
    assert(IndexFamily.exact.retireWindow(spark, s"$rootB/exact", keep = 1)
      == Seq("d1", "d2"))
    assert(IndexFamily.ivf.retireWindow(spark, s"$rootB/ivf", keep = 1)
      == Seq("d1", "d2"))
    // stored payloads identical...
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(s"$rootA/lines/lines") == rows(s"$rootB/lines/lines"))
    assert(rows(s"$rootA/exact/fps") == rows(s"$rootB/exact/fps"))
    assert(rows(s"$rootA/ivf/cells") == rows(s"$rootB/ivf/cells"))
    assert(rows(s"$rootA/ivf/ids") == rows(s"$rootB/ivf/ids"))
    // ...and so is observable behavior through the rebuilt sidecars
    val probe = docs(300)
    def verdict(root: String) = Dedup.lineDfAgainstIndex(spark,
      s"$root/lines", probe, "doc_id", "text", minDf = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(verdict(rootA) == verdict(rootB))
    def exactVerdict(root: String) = Dedup.dedupExactAgainstIndex(spark,
      s"$root/exact", docs(100).union(docs(300)), "doc_id", "text")
      .collect().map(_.toString).sorted.toSeq
    assert(exactVerdict(rootA) == exactVerdict(rootB))
    // refusal is ATOMIC: a doomed set that would empty the table
    // refuses BEFORE deleting anything (the sequential loop would have
    // dropped the first segment and then crashed mid-window)
    intercept[IllegalArgumentException] {
      IndexFamily.linedf.retireSrcs(spark, s"$rootB/lines", Seq("d3", "base"))
    }
    assert(graft.operators.IndexFiles.listSrcs(spark, s"$rootB/lines",
      "lines") == Seq("base", "d3"),
      "atomic refusal must leave every doomed segment in place")
  }

  test("nightlyCompact: ratio-triggered physical compaction with an audited fraction") {
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    val vecs = (1 to 30).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs, s"$root/ivf", nlist = 4)
    val docs = (1L to 12L).map(i => (i, s"text body $i")).toDF("doc_id", "text")
    Dedup.buildExactIndex(docs, "doc_id", "text", s"$root/exact")
    // nothing tombstoned: fractions 0, nothing compacts
    val clean = Maintenance.nightlyCompact(spark, Seq(
        (s"$root/ivf", "ivf", 0.2), (s"$root/exact", "exact", 0.2)))
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(clean == Seq((s"$root/ivf", "ivf", 0.0, false),
      (s"$root/exact", "exact", 0.0, false)), s"got $clean")
    // tombstone 10 of 30 ids (1/3) and 3 of 12 fps (1/4)
    IndexFiles.writeTombstones(vecs.filter(col("id") <= 10).select("id"), s"$root/ivf")
    Dedup.deleteFromExactIndex(spark, s"$root/exact",
      docs.filter(col("doc_id") <= 3), "text")
    val searchPre = Ann.searchIvfIndex(spark, s"$root/ivf",
        vecs.limit(3).select(col("id").as("qid"), col("v").as("qv")),
        k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    // thresholds above the fractions: measured, reported, NOT compacted
    val below = Maintenance.nightlyCompact(spark, Seq(
        (s"$root/ivf", "ivf", 0.5), (s"$root/exact", "exact", 0.5)))
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(below == Seq((s"$root/ivf", "ivf", 0.3333, false),
      (s"$root/exact", "exact", 0.25, false)), s"got $below")
    assert(graft.operators.IndexFiles
      .tombstones(spark, s"$root/ivf").isDefined)
    // thresholds at/below the fractions: compaction runs, tombstones
    // purge, and the post-compaction search equals the tombstone-
    // filtered pre-compaction one
    val due = Maintenance.nightlyCompact(spark, Seq(
        (s"$root/ivf", "ivf", 0.25), (s"$root/exact", "exact", 0.25)))
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(due == Seq((s"$root/ivf", "ivf", 0.3333, true),
      (s"$root/exact", "exact", 0.25, true)), s"got $due")
    assert(graft.operators.IndexFiles
      .tombstones(spark, s"$root/ivf").isEmpty)
    val searchPost = Ann.searchIvfIndex(spark, s"$root/ivf",
        vecs.limit(3).select(col("id").as("qid"), col("v").as("qv")),
        k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(searchPost == searchPre,
      "compaction changed what searches see")
    // steady state: fraction back to 0
    val after = Maintenance.nightlyCompact(spark, Seq(
        (s"$root/ivf", "ivf", 0.25)))
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(after == Seq((s"$root/ivf", "ivf", 0.0, false)))
    // unknown family loud BEFORE anything compacts
    intercept[IllegalArgumentException] {
      Maintenance.nightlyCompact(spark, Seq((s"$root/ivf", "nope", 0.1)))
    }
    // every tombstone-model family is registered (linedf/domain_cap
    // excluded by design)
    assert(IndexFamily.all.filter(_.deletes.isDefined).map(_.name).toSet ==
      IndexFamily.all.map(_.name).toSet -- Set("linedf", "domain_cap"))
  }

  test("whole-store nightly: every registered family builds, appends two segments, and ages the older one out") {
    import graft.operators.Multimodal
    val root = java.nio.file.Files.createTempDirectory("maintall").toString
    val sent = "the quick brown fox jumps over the lazy dog again and again "
    def docs(lo: Long) = (lo until lo + 8).map(i =>
      (i, s"line-one $i\n${sent * 3} $i")).toDF("doc_id", "text")
    val vecs = (1 to 120).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    def vslice(lo: Long, n: Long) =
      vecs.filter(col("id") >= lo && col("id") < lo + n)
    def postings(lo: Long) = (lo until lo + 8).flatMap(i =>
      Seq((i, i % 5, 2.0), (i, (i + 1) % 5, 1.0))).toDF("id", "term", "w")
    def verdicts(lo: Long) = (lo until lo + 4).map(i =>
      (i, s"dom${i % 2}.com", true)).toDF("id", "domain", "admitted")
    def feats(lo: Long) = (lo until lo + 8).map(i =>
      (i, Seq.tabulate(12)(j => (i * 7 + j) % 3 / 2.0))).toDF("id", "features")

    Dedup.buildExactIndex(docs(0), "doc_id", "text", s"$root/exact")
    Dedup.buildLineDfIndex(docs(0), "doc_id", "text", s"$root/linedf")
    Dedup.buildContainmentIndex(docs(0), "doc_id", "text", s"$root/containment")
    Dedup.buildMinhashIndex(docs(0), "doc_id", "text", s"$root/minhash")
    Dedup.initDomainCapLedger(spark, s"$root/domain_cap", n = 100)
    Multimodal.buildPhashIndex(feats(0), "id", "features", s"$root/phash",
      dim = 12)
    Ann.buildIvfIndex(vslice(1, 40), s"$root/ivf", nlist = 4)
    Ann.buildIvfSq8Index(vslice(1, 40), s"$root/ivf_sq8", nlist = 4)
    Ann.buildIvfPqIndex(vslice(1, 40), s"$root/ivf_pq", nlist = 4,
      m = 4, ksub = 4)
    Ann.buildSparseIndex(postings(0), s"$root/sparse", buckets = 4)
    Ann.buildBinaryIndex(vslice(1, 40), s"$root/binary", dim = 8)
    Ann.buildLshIndex(vslice(1, 40), s"$root/lsh", dim = 8, planes = 4)

    Seq("d1", "d2").zipWithIndex.foreach { case (tag, k) =>
      val lo = 100L * (k + 1)
      Dedup.appendToExactIndex(spark, s"$root/exact", docs(lo),
        "doc_id", "text", tag)
      Dedup.appendToLineDfIndex(spark, s"$root/linedf", docs(lo),
        "doc_id", "text", tag)
      Dedup.appendToContainmentIndex(spark, s"$root/containment", docs(lo),
        "doc_id", "text", tag)
      Dedup.appendToMinhashIndex(spark, s"$root/minhash", docs(lo),
        "doc_id", "text", tag)
      Dedup.appendToDomainCapLedger(spark, s"$root/domain_cap",
        verdicts(lo), tag)
      Multimodal.appendToPhashIndex(spark, s"$root/phash", feats(lo),
        "id", "features", tag)
      Ann.appendToIvfIndex(spark, s"$root/ivf", vslice(41 + 40 * k, 20), tag)
      Ann.appendToIvfSq8Index(spark, s"$root/ivf_sq8",
        vslice(41 + 40 * k, 20), tag)
      Ann.appendToIvfPqIndex(spark, s"$root/ivf_pq",
        vslice(41 + 40 * k, 20), tag)
      Ann.appendToSparseIndex(spark, s"$root/sparse", postings(lo), tag)
      Ann.appendToBinaryIndex(spark, s"$root/binary",
        vslice(41 + 40 * k, 20), tag)
      Ann.appendToLshIndex(spark, s"$root/lsh", vslice(41 + 40 * k, 20), tag)
    }
    val specs = IndexFamily.all.map(_.name).sorted
      .map(f => (s"$root/$f", f, 1))
    val got = Maintenance.nightly(spark, specs)
      .as[(String, String, Int, String)].collect().toSeq
    assert(got == specs.map { case (d, f, k) => (d, f, k, "d1") },
      s"one oldest segment per family expected, got $got")
    // the second nightly is the steady state: nothing left to age out
    assert(Maintenance.nightly(spark, specs).isEmpty)
  }

  test("snapshotIndex/restoreIndex: backup survives append+delete+compact; guards are loud") {
    val root = java.nio.file.Files.createTempDirectory("snap").toString
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs, s"$root/ivf", nlist = 4)
    val qs = vecs.filter(col("id") <= 3)
      .select(col("id").as("qid"), col("v").as("qv"))
    def search() = Ann.searchIvfIndex(spark, s"$root/ivf", qs, k = 5,
        nprobe = 4)
      .select("qid", "id", "score", "rank")
      .collect().map(_.toString).toSet
    val before = search()
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    // a COMPLETE snapshot refuses silent replacement...
    val err = intercept[IllegalArgumentException] {
      Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    }
    assert(err.getMessage.contains("overwrite"), err.getMessage)
    // ...and replaces under the explicit flag
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak",
      overwrite = true)
    // mutate the live index in BOTH directions, then physically rewrite
    Ann.appendToIvfIndex(spark, s"$root/ivf", vecs.filter(col("id") <= 10)
      .select((col("id") + 100L).as("id"), col("v")), "d1")
    IndexFiles.writeTombstones(vecs.filter(col("id") <= 5).select("id"), s"$root/ivf")
    Ann.compactIvfIndex(spark, s"$root/ivf")
    assert(search() != before, "mutations must actually change the search")
    // a stale crash leftover from an earlier restore is discarded
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/ivf__restore_tmp/junk"))
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search() == before,
      "restored index must answer exactly like the snapshot point")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/ivf__restore_tmp")))
    // re-runnable: a crash anywhere in restore is repaired by running again
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search() == before)
    // a trailing-slash live path must not nest the scratch inside the
    // tree it is about to replace
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf/")
    assert(search() == before)
    // the restored index is fully live: appends still work
    Ann.appendToIvfIndex(spark, s"$root/ivf", vecs.filter(col("id") <= 2)
      .select((col("id") + 200L).as("id"), col("v")), "d2")
    assert(search().size == before.size)
    // a manifest that disagrees with the files on disk is refused
    val mf = new org.apache.hadoop.fs.Path(s"$root/bak/_snapshot_manifest")
    val out = fs.create(mf, true)
    out.write("1 1\n".getBytes("UTF-8")); out.close()
    val err2 = intercept[IllegalArgumentException] {
      Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    }
    assert(err2.getMessage.contains("manifest"), err2.getMessage)
    // an INCOMPLETE snapshot (interrupted copy: no manifest) is refused...
    fs.delete(mf, false)
    val err3 = intercept[IllegalArgumentException] {
      Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    }
    assert(err3.getMessage.contains("manifest"), err3.getMessage)
    // ...and re-snapshotting over it heals WITHOUT the overwrite flag
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search().size == before.size)
  }

  test("snapshotStore: whole-store backup, loud on missing members; the exact index (bloom sidecar included) restores bit-identically") {
    val root = java.nio.file.Files.createTempDirectory("snapstore").toString
    val docs = (1 to 40).map(i => (i.toLong, s"alpha $i beta gamma delta"))
      .toDF("doc_id", "text")
    Dedup.buildExactIndex(docs.filter(col("doc_id") < 20),
      "doc_id", "text", s"$root/exact")
    Dedup.appendToExactIndex(spark, s"$root/exact",
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 30),
      "doc_id", "text", "d1")
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs, s"$root/ivf", nlist = 4)
    // the probe drives the WHOLE read path: fps + segments + the bloom
    // sidecar's prune
    def probe() = Dedup.dedupExactAgainstIndex(spark, s"$root/exact",
      docs, "doc_id", "text").collect().map(_.toString).toSet
    val before = probe()
    val report = Maintenance.snapshotStore(spark, Seq(
        (s"$root/exact", s"$root/bak/exact"),
        (s"$root/ivf", s"$root/bak/ivf")))
      .as[(String, String, Long, Long)].collect().toSeq
    assert(report.map(_._1) == Seq(s"$root/exact", s"$root/ivf"))
    assert(report.forall(r => r._3 > 0 && r._4 > 0), s"empty audit: $report")
    // a missing member is loud BEFORE the first copy — nothing lands
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val err = intercept[IllegalArgumentException] {
      Maintenance.snapshotStore(spark, Seq(
        (s"$root/no-such", s"$root/bak/no-such"),
        (s"$root/exact", s"$root/bak/exact2")))
    }
    assert(err.getMessage.contains("no-such"), err.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/bak/exact2")),
      "a failed store backup must not half-copy")
    // mutate the exact index through its WHOLE lifecycle surface:
    // takedown + physical compaction + segment retirement
    Dedup.deleteFromExactIndex(spark, s"$root/exact",
      docs.filter(col("doc_id") < 5), "text")
    Dedup.compactExactIndex(spark, s"$root/exact")
    IndexFamily.exact.retireSrcs(spark, s"$root/exact", Seq("d1"))
    assert(probe() != before, "mutations must change the probe verdicts")
    // family-agnostic restore: the verbatim copy carries the fp table,
    // the src segments, AND the bloom sidecar back
    Maintenance.restoreIndex(spark, s"$root/bak/exact", s"$root/exact")
    assert(probe() == before,
      "restored exact index diverged from the snapshot point")
  }

  test("a snapshot taken inside the append crash window restores to a healable state (journal rolls forward)") {
    // the 16j docstring's claim, end to end: the verbatim copy carries
    // a pending journal + complete staging, and the restored index
    // heals exactly like the crashed original would have
    import graft.operators.IndexFiles
    val root = java.nio.file.Files.createTempDirectory("snapjournal").toString
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    val batch = vecs.filter(col("id") <= 6)
      .select((col("id") + 100L).as("id"), col("v"))
    // A = the victim frozen mid-append; B = the same build fully
    // appended (deterministic fit: same corpus, same seed)
    Ann.buildIvfIndex(vecs, s"$root/a", nlist = 4)
    Ann.buildIvfIndex(vecs, s"$root/b", nlist = 4)
    Ann.appendToIvfIndex(spark, s"$root/b", batch, "d1")
    // reconstruct the roll-FORWARD window on A: complete staging
    // (B's committed d1 partitions, which are the post-move form of
    // the staged files) + the committed id journal
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/b/cells/src=d1"), fs,
      new org.apache.hadoop.fs.Path(s"$root/a/cells/_append_tmp/src=d1"),
      false, spark.sparkContext.hadoopConfiguration)
    batch.select("id").write.parquet(s"$root/a/_pending_append")
    // the window is real: searches refuse the torn index
    val qs = vecs.filter(col("id") <= 3)
      .select(col("id").as("qid"), col("v").as("qv"))
    def search(d: String) = Ann.searchIvfIndex(spark, d, qs, k = 5,
      nprobe = 4).collect().map(_.toString).toSet
    intercept[IllegalArgumentException](search(s"$root/a"))
    // snapshot INSIDE the window, restore, heal: the journal rolls
    // forward and the restored index answers exactly like the fully
    // appended twin
    Maintenance.snapshotIndex(spark, s"$root/a", s"$root/bak")
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/a")
    intercept[IllegalArgumentException](search(s"$root/a")) // still torn
    assert(IndexFiles.healAppend(spark, s"$root/a", Seq("cells")),
      "restored journal did not roll forward")
    assert(search(s"$root/a") == search(s"$root/b"),
      "healed restore diverged from the fully appended twin")
    assert(spark.read.parquet(s"$root/a/ids").count() ==
      spark.read.parquet(s"$root/b/ids").count(),
      "ids sidecar not extended by the rolled-forward journal")
  }

  test("a torn manifest (created but never written) reads as an incomplete snapshot: restore refuses loudly, re-snapshot heals without overwrite") {
    val root = java.nio.file.Files.createTempDirectory("tornmf").toString
    val vecs = (1 to 20).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs, s"$root/ivf", nlist = 4)
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    // reconstruct the pre-fix crash window: fs.create materializes the
    // manifest path, the process dies before the content lands
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(s"$root/bak/_snapshot_manifest")
    fs.create(mf, true).close() // zero bytes — torn
    // restore refuses with the DESIGNED incomplete-snapshot message,
    // not a MatchError/NumberFormatException from parsing garbage
    val err = intercept[IllegalArgumentException] {
      Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    }
    assert(err.getMessage.contains("unreadable"), err.getMessage)
    // ...and the torn snapshot heals WITHOUT overwrite=true (it is not
    // a complete backup the guard should protect)
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    // garbage content (not two integers) is equally incomplete
    val out = fs.create(mf, true)
    out.write("not a manifest\n".getBytes("UTF-8")); out.close()
    intercept[IllegalArgumentException] {
      Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    }
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
  }

  test("crash between the swap renames: the aside is the ONLY complete backup and every entry point heals it back, never deletes it") {
    val root = java.nio.file.Files.createTempDirectory("swapheal").toString
    val vecs = (1 to 20).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs, s"$root/ivf", nlist = 4)
    val qs = vecs.filter(col("id") <= 3)
      .select(col("id").as("qid"), col("v").as("qv"))
    def search() = Ann.searchIvfIndex(spark, s"$root/ivf", qs, k = 5,
      nprobe = 4).collect().map(_.toString).toSet
    val before = search()
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    // reconstruct the crash window between rename(snap -> aside) and
    // rename(staging -> snap): the aside holds the only complete copy
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/bak"),
      new org.apache.hadoop.fs.Path(s"$root/bak__snap_old")))
    // restore heals the swap and restores from the recovered backup
    IndexFiles.writeTombstones(vecs.filter(col("id") <= 5).select("id"), s"$root/ivf")
    Ann.compactIvfIndex(spark, s"$root/ivf")
    assert(search() != before)
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search() == before,
      "restore did not recover the aside backup")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/bak__snap_old")))
    // the same crash state at SNAPSHOT entry: the healed backup is a
    // complete snapshot again, so overwrite=false refuses — proof the
    // entry path renamed the aside back instead of deleting it
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/bak"),
      new org.apache.hadoop.fs.Path(s"$root/bak__snap_old")))
    val err = intercept[IllegalArgumentException] {
      Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak")
    }
    assert(err.getMessage.contains("overwrite"), err.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/bak__snap_old")))
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search() == before)
    // the OTHER crash phase (staging already swapped in, aside not yet
    // deleted): final is complete, so the aside really is stale — the
    // overwrite re-snapshot discards it and lands a fresh backup
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/bak__snap_old/junk"))
    Maintenance.snapshotIndex(spark, s"$root/ivf", s"$root/bak",
      overwrite = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/bak__snap_old")))
    Maintenance.restoreIndex(spark, s"$root/bak", s"$root/ivf")
    assert(search() == before)
  }

  test("restoreStore: one call recovers the store INCLUDING the alias registry; incomplete members refuse before anything moves") {
    import graft.operators.Aliases
    val root = java.nio.file.Files.createTempDirectory("restorestore").toString
    val vecs = (1 to 40).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    val docs = (1 to 20).map(i => (i.toLong, s"body text $i"))
      .toDF("doc_id", "text")
    Ann.buildIvfIndex(vecs.filter(col("id") <= 20), s"$root/blue", nlist = 4)
    Ann.buildIvfIndex(vecs, s"$root/green", nlist = 4)
    Dedup.buildExactIndex(docs, "doc_id", "text", s"$root/exact")
    Aliases.createAlias(spark, s"$root/registry", "prod", s"$root/blue")
    val qs = vecs.filter(col("id") <= 3)
      .select(col("id").as("qid"), col("v").as("qv"))
    def searchProd() = Ann.searchIvfIndex(spark,
        Aliases.resolveAlias(spark, s"$root/registry", "prod"), qs,
        k = 5, nprobe = 4)
      .collect().map(_.toString).toSet
    def probe() = Dedup.dedupExactAgainstIndex(spark, s"$root/exact",
      docs, "doc_id", "text").collect().map(_.toString).toSet
    val (searchBefore, probeBefore) = (searchProd(), probe())
    // ONE spec list drives both directions
    val specs = Seq(
      (s"$root/blue", s"$root/bak/blue"),
      (s"$root/exact", s"$root/bak/exact"),
      (s"$root/registry", s"$root/bak/registry"))
    Maintenance.snapshotStore(spark, specs)
    // mutate everything the restore must undo: index contents AND the
    // pointer that makes the store servable
    IndexFiles.writeTombstones(vecs.filter(col("id") <= 8).select("id"), s"$root/blue")
    Ann.compactIvfIndex(spark, s"$root/blue")
    Dedup.deleteFromExactIndex(spark, s"$root/exact",
      docs.filter(col("doc_id") <= 5), "text")
    Aliases.alterAlias(spark, s"$root/registry", "prod", s"$root/green")
    assert(searchProd() != searchBefore && probe() != probeBefore,
      "mutations must change what the store answers")
    // an incomplete member refuses BEFORE the first restore — the
    // complete members stay mutated, nothing half-restores
    val err = intercept[IllegalArgumentException] {
      Maintenance.restoreStore(spark,
        specs :+ (s"$root/gone", s"$root/bak/gone"))
    }
    assert(err.getMessage.contains("incomplete"), err.getMessage)
    assert(searchProd() != searchBefore,
      "a refused store restore must not have restored any member")
    val report = Maintenance.restoreStore(spark, specs)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(report.map(_._1) == specs.map(_._1))
    assert(report.forall(r => r._3 > 0 && r._4 > 0), s"empty audit: $report")
    assert(searchProd() == searchBefore,
      "restored store (registry included) must answer like the snapshot " +
        "point — prod must again resolve to blue with its full contents")
    assert(probe() == probeBefore)
    assert(Aliases.resolveAlias(spark, s"$root/registry", "prod")
      == s"$root/blue")
    // the up-front validation is the DEEP check: a member whose files
    // disagree with its manifest (tampering, partial deletion) refuses
    // BEFORE any other member restores — not a mid-loop crash that
    // leaves the store half-restored
    Aliases.alterAlias(spark, s"$root/registry", "prod", s"$root/green")
    val fs2 = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(
      s"$root/bak/exact/_snapshot_manifest")
    val out = fs2.create(mf, true)
    out.write("1 1\n".getBytes("UTF-8")); out.close()
    val err2 = intercept[IllegalArgumentException] {
      Maintenance.restoreStore(spark, specs)
    }
    assert(err2.getMessage.contains("incomplete"), err2.getMessage)
    assert(Aliases.resolveAlias(spark, s"$root/registry", "prod")
      == s"$root/green",
      "a mismatched member must refuse before ANY member restores")
  }

  test("storeReport: crashed snapshot/restore scratch lives as SIBLINGS of the index, so files/bytes never inflate") {
    val root = java.nio.file.Files.createTempDirectory("reportscratch")
      .toString
    val docs = (1 to 20).map(i => (i.toLong, s"scratch doc $i body"))
      .toDF("doc_id", "text")
    Dedup.buildExactIndex(docs, "doc_id", "text", s"$root/exact")
    def row() = Maintenance.storeReport(spark, Seq((s"$root/exact", "exact")))
      .select("files", "bytes").as[(Long, Long)].head()
    val clean = row()
    // the REAL crash layouts: a complete backup beside the index, plus
    // the sibling scratch dirs snapshot/restore create (staging, aside,
    // restore scratch are all <name>-suffixed SIBLINGS, never children)
    Maintenance.snapshotIndex(spark, s"$root/exact", s"$root/bak")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"$root/bak__snap_tmp/part-0", s"$root/exact__restore_tmp/f",
        s"$root/bak__snap_old/g").foreach { p =>
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      out.write(Array.fill(128)(7.toByte)); out.close()
    }
    assert(row() == clean,
      s"sibling scratch inflated the dashboard: ${row()} vs $clean")
  }

  test("storeReport pins 'base' oldest under streaming b<batchId> tags (which sort after it naturally)") {
    val root = java.nio.file.Files.createTempDirectory("reportord").toString
    val vecs = (1 to 60).map(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
    Ann.buildIvfIndex(vecs.filter(col("id") <= 30), s"$root/ivf", nlist = 4)
    Seq(2, 10).foreach(b => Ann.appendToIvfIndex(spark, s"$root/ivf",
      vecs.filter(col("id") === (30 + b).toLong), s"b$b"))
    val r = Maintenance.storeReport(spark, Seq((s"$root/ivf", "ivf")))
      .collect().head
    assert(r.getAs[String]("oldest") == "base" &&
      r.getAs[String]("newest") == "b10", r.toString)
  }

  test("storeReport: hand-checkable dashboard; loud on unknown/missing; compaction zeroes the fraction") {
    val root = java.nio.file.Files.createTempDirectory("report").toString
    val docs = (1 to 20).map(i => (i.toLong, s"unique text $i delta"))
      .toDF("doc_id", "text")
    Dedup.buildExactIndex(docs, "doc_id", "text", s"$root/exact")
    Dedup.deleteFromExactIndex(spark, s"$root/exact",
      docs.filter(col("doc_id") <= 5), "text")
    def report() = Maintenance.storeReport(spark,
        Seq((s"$root/exact", "exact"))).collect().head
    val r = report()
    assert(r.getAs[Long]("live") == 20 && r.getAs[Long]("segments") == 1 &&
      r.getAs[String]("oldest") == "base" &&
      r.getAs[String]("newest") == "base" &&
      r.getAs[Long]("tombstones") == 5 &&
      r.getAs[Double]("fraction") == 0.25, r.toString)
    assert(r.getAs[Long]("files") > 0 && r.getAs[Long]("bytes") > 0,
      r.toString)
    // misconfiguration is loud BEFORE anything is read
    val e1 = intercept[IllegalArgumentException] {
      Maintenance.storeReport(spark, Seq((s"$root/exact", "no-such")))
    }
    assert(e1.getMessage.contains("no-such"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.storeReport(spark, Seq((s"$root/gone", "exact")))
    }
    assert(e2.getMessage.contains("gone"), e2.getMessage)
    // compaction purges the tombstones the report counted
    Dedup.compactExactIndex(spark, s"$root/exact")
    val after = report()
    assert(after.getAs[Long]("live") == 15 &&
      after.getAs[Long]("tombstones") == 0 &&
      after.getAs[Double]("fraction") == 0.0, after.toString)
    // an admission-ledger dir reports NULL sighting coverage — the
    // seen columns exist for every row but only sighted dirs fill them
    assert(after.isNullAt(after.fieldIndex("seen_days")) &&
      after.isNullAt(after.fieldIndex("oldest_seen")) &&
      after.isNullAt(after.fieldIndex("newest_seen")), after.toString)
  }

  test("storeReport surfaces the sighting ledger: day count and oldest/newest day, hand-counted") {
    val root = java.nio.file.Files.createTempDirectory("sreport").toString
    val idx = s"$root/exsee"
    Dedup.buildExactIndexSighted(
      Seq((1L, "alpha one"), (2L, "beta two")).toDF("doc_id", "text"),
      "doc_id", "text", idx, day = "d0")
    Dedup.appendToExactIndexSighted(spark, idx,
      Seq((11L, "gamma three")).toDF("doc_id", "text"),
      "doc_id", "text", "d1")
    Dedup.appendToExactIndexSighted(spark, idx,
      Seq((21L, "delta four")).toDF("doc_id", "text"),
      "doc_id", "text", "d2")
    def row() = Maintenance.storeReport(spark, Seq((idx, "exact")))
      .collect().head
    val r = row()
    assert(r.getAs[Long]("seen_days") == 3 &&
      r.getAs[String]("oldest_seen") == "d0" &&
      r.getAs[String]("newest_seen") == "d2", r.toString)
    assert(r.getAs[Long]("live") == 4 && r.getAs[Long]("segments") == 3,
      r.toString)
    // the sighted retire is visible on the dashboard: one day drops
    // from the coverage, its forgotten fps surface as tombstones
    assert(IndexFamily.exact.retireSeenWindow(spark, idx, keep = 2) == Seq("d0"))
    val r2 = row()
    assert(r2.getAs[Long]("seen_days") == 2 &&
      r2.getAs[String]("oldest_seen") == "d1" &&
      r2.getAs[String]("newest_seen") == "d2", r2.toString)
    assert(r2.getAs[Long]("tombstones") == 2, r2.toString)
  }
}
