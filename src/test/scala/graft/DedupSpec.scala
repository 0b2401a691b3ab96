package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexFamily, IndexFiles}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedupLinesInDoc: keeps first occurrence per doc, preserves order, no shuffle") {
    val docs = Seq(
      (1L, "a\nb\na\nc\nb\nd"),   // scattered dups
      (2L, "x\nx\nx"),             // all-dup collapses to one
      (3L, "only one line"),
      (4L, ""),                    // empty stays empty
      (5L, "b\na")                 // doc 1's lines: per-DOC dedup only
    ).toDF("id", "text")
    val out = Dedup.dedupLinesInDoc(docs, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a\nb\nc\nd", 2L -> "x", 3L -> "only one line",
      4L -> "", 5L -> "b\na"), s"got $out")
    // zero-shuffle claim: no Exchange anywhere in the plan
    val phys = Dedup.dedupLinesInDoc(docs, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!phys.contains("Exchange"), s"unexpected shuffle:\n$phys")
  }

  test("pairRecall: counts hits against ground truth; minhashLsh precision is 1.0 by construction") {
    // hand frames: exact = 4 pairs, found = 3 (2 hits + 1 spurious)
    val exact = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("id_a", "id_b")
    val found = Seq((1L, 2L), (4L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Dedup.pairRecall(exact, found)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(r.toSeq == Seq((4L, 3L, 2L, 0.6667, 0.5)), s"got ${r.toSeq}")
    // integration: the engine's minhashLsh exact-verifies candidates,
    // so against the same-space exact Jaccard its precision is 1.0 and
    // n_found <= n_exact whatever the banding
    val phrase = "the quick brown fox jumps over the lazy dog near the bank "
    val docs = (1 to 12).map { i =>
      val tail = if (i % 3 == 0) s"suffix $i distinct tail content here"
                 else s"shared ending block"
      (i.toLong, phrase * 3 + tail)
    }.toDF("doc_id", "text")
    val truth = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.5)
    val mined = Dedup.minhashLsh(docs, "doc_id", "text", w = 8,
      numHashes = 12, bands = 2, tau = 0.5)
    val rep = Dedup.pairRecall(truth, mined)
      .as[(Long, Long, Long, Double, Double)].collect().head
    assert(rep._1 > 0, "fixture must have true pairs")
    assert(rep._2 == rep._3, s"spurious pairs from a verified finder: $rep")
    assert(rep._4 == 1.0, s"precision must pin at 1.0: $rep")
    assert(rep._5 <= 1.0 && rep._5 > 0.0)
  }

  test("tuneBands: ladder sweep monotone in recall, stops at first clear, refuses non-monotone ladders") {
    val phrase = "the quick brown fox jumps over the lazy dog near the bank "
    val docs = (1 to 12).map { i =>
      val tail = if (i % 3 == 0) s"suffix $i distinct tail content here"
                 else s"shared ending block"
      (i.toLong, phrase * 3 + tail)
    }.toDF("doc_id", "text")
    val sweep = Dedup.tuneBands(docs, "doc_id", "text", w = 8,
        numHashes = 12, ladder = Seq(2, 4, 6), tau = 0.5,
        targetRecall = 1.0)
      .as[(Int, Double, Boolean)].collect().toSeq
    assert(sweep.nonEmpty)
    assert(sweep.map(_._1) == Seq(2, 4, 6).take(sweep.length), s"$sweep")
    // nested candidates (r >= 2r'−1 chain): recall monotone up the ladder
    assert(sweep.map(_._2).sliding(2).forall(s =>
      s.length < 2 || s(0) <= s(1)), s"recall not monotone: $sweep")
    // stop-at-first-clear: only the last row may meet the target
    assert(sweep.init.forall(!_._3), s"$sweep")
    // a trivially-met target yields the one-row sweep
    assert(Dedup.tuneBands(docs, "doc_id", "text", w = 8, numHashes = 12,
      ladder = Seq(2, 4, 6), tau = 0.5, targetRecall = 0.0001).count() == 1)
    // the 2 -> 3 step is NOT candidate-nested (r=6 -> r'=4 fails
    // r >= 2r'−1: a pair matching only hashes 4..7 has no bands=2 band)
    // — refused up front instead of sweeping a meaningless curve
    val err = intercept[IllegalArgumentException] {
      Dedup.tuneBands(docs, "doc_id", "text", w = 8, numHashes = 12,
        ladder = Seq(2, 3), tau = 0.5, targetRecall = 1.0)
    }
    assert(err.getMessage.contains("monotone"), err.getMessage)
    // a step that does not divide numHashes is loud
    intercept[IllegalArgumentException] {
      Dedup.tuneBands(docs, "doc_id", "text", w = 8, numHashes = 12,
        ladder = Seq(5), tau = 0.5, targetRecall = 1.0)
    }
    // zero ground truth is loud, not recall-NULL rows
    val unique = (1 to 6).map(i =>
      (i.toLong, s"completely unrelated content block number $i with " +
        s"its own distinct words ${"xyz" * i}")).toDF("doc_id", "text")
    val err2 = intercept[IllegalArgumentException] {
      Dedup.tuneBands(unique, "doc_id", "text", w = 8, numHashes = 12,
        ladder = Seq(2, 4, 6), tau = 0.9, targetRecall = 1.0)
    }
    assert(err2.getMessage.contains("ground truth"), err2.getMessage)
  }

  test("tuneMaxHam: nested thresholds sweep — recall monotone, precision reported per step, stop at first clear; guards loud") {
    val phrase = "the quick brown fox jumps over the lazy dog near the bank "
    val docs = (1 to 12).map { i =>
      val tail = if (i % 3 == 0) s"suffix $i distinct tail content here"
                 else s"shared ending block"
      (i.toLong, phrase * 3 + tail)
    }.toDF("doc_id", "text")
    val sweep = Dedup.tuneMaxHam(docs, "doc_id", "text", w = 8,
        ladder = Seq(0, 1, 2, 3), tau = 0.5, targetRecall = 1.0)
      .as[(Int, Option[Double], Double, Boolean)].collect().toSeq
    assert(sweep.nonEmpty)
    assert(sweep.map(_._1) == Seq(0, 1, 2, 3).take(sweep.length), s"$sweep")
    // hamming <= h sets nest: recall monotone up the ladder
    assert(sweep.map(_._3).sliding(2).forall(s =>
      s.length < 2 || s(0) <= s(1)), s"recall not monotone: $sweep")
    // stop-at-first-clear: only the last row may meet the target
    assert(sweep.init.forall(!_._4), s"$sweep")
    // the threshold-filter mechanism: each emitted step's recall equals
    // pairRecall of the thresholded pair set against the same truth
    val truth = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.5)
    val all = Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 3)
    sweep.foreach { case (h, prec, rec, _) =>
      val rep = Dedup.pairRecall(truth, all.filter(col("hamming") <= h))
        .as[(Long, Long, Long, Option[Double], Double)].collect().head
      assert(rep._5 == rec && rep._4 == prec,
        s"step $h diverged from pairRecall: got ($prec, $rec) vs $rep")
    }
    // guards: descending ladders and empty ground truth are loud
    intercept[IllegalArgumentException] {
      Dedup.tuneMaxHam(docs, "doc_id", "text", ladder = Seq(3, 1))
    }
    val unique = (1 to 6).map(i =>
      (i.toLong, s"completely unrelated content block number $i with " +
        s"its own distinct words ${"xyz" * i}")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Dedup.tuneMaxHam(unique, "doc_id", "text", tau = 0.9)
    }
    assert(err.getMessage.contains("ground truth"), err.getMessage)
  }

  test("sighting-window exact dedup: a day-1 text re-seen later survives day 1's retirement — the contract retireExactSrc cannot express") {
    val A = "alpha text seen on day one and again on day five"
    val B = "beta text seen on day one only"
    val C = "gamma text first seen on day five"
    val D = "delta text only ever in the build corpus"
    val d0 = Seq((1L, D)).toDF("doc_id", "text")
    val d1 = Seq((11L, A), (12L, B)).toDF("doc_id", "text")
    val d5 = Seq((51L, A), (52L, C)).toDF("doc_id", "text") // A re-seen
    val probe = Seq((101L, A), (102L, B), (103L, C), (104L, D))
      .toDF("doc_id", "text")
    def verdicts(dir: String) =
      Dedup.dedupExactAgainstIndex(spark, dir, probe, "doc_id", "text")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

    // ---- the admission-ledger contract: first-occurrence segments ----
    val rootA = java.nio.file.Files.createTempDirectory("ledger").toString
    Dedup.buildExactIndex(d0, "doc_id", "text", s"$rootA/idx")
    Dedup.appendToExactIndex(spark, s"$rootA/idx", d1, "doc_id", "text", "d1")
    Dedup.appendToExactIndex(spark, s"$rootA/idx", d5, "doc_id", "text", "d5")
    IndexFamily.exact.retireSrcs(spark, s"$rootA/idx", Seq("d1"))
    val ledger = verdicts(s"$rootA/idx")
    // A's ONE admitted copy lived in d1 — retiring d1 forgets A even
    // though day 5 re-saw it (the d5 append stored nothing for a replay)
    assert(ledger(101L) == ((None, false)),
      s"admission ledger must forget A with its segment: $ledger")
    assert(ledger(103L) == ((Some(52L), true)))

    // ---- the sighting-window contract: last-seen, touch-on-reject ----
    val rootS = java.nio.file.Files.createTempDirectory("sighted").toString
    val idx = s"$rootS/idx"
    Dedup.buildExactIndexSighted(d0, "doc_id", "text", idx, day = "d0")
    Dedup.appendToExactIndexSighted(spark, idx, d1, "doc_id", "text", "d1")
    Dedup.appendToExactIndexSighted(spark, idx, d5, "doc_id", "text", "d5")
    // the ledger records every sighting day, one row per distinct fp
    assert(graft.operators.IndexFiles.listSrcs(spark, idx, "seen")
      == Seq("d0", "d1", "d5"))
    assert(spark.read.parquet(s"$idx/seen")
      .filter(col("src") === "d5").count() == 2) // A (replay touch) + C
    // keep only day 5's sightings
    assert(IndexFamily.exact.retireSeenWindow(spark, idx, keep = 1)
      == Seq("d0", "d1"))
    val sighted = verdicts(idx)
    // A was RE-SEEN in the kept window: it survives under its ORIGINAL
    // first id (11, the d1 admission), exactly what the ledger lost
    assert(sighted(101L) == ((Some(11L), true)),
      s"sighted window must remember the re-seen text: $sighted")
    assert(sighted(103L) == ((Some(52L), true)))
    // B and D were last seen in retired days: forgotten
    assert(sighted(102L) == ((None, false)))
    assert(sighted(104L) == ((None, false)))
    // the seen ledger itself is windowed
    assert(graft.operators.IndexFiles.listSrcs(spark, idx, "seen")
      == Seq("d5"))
    // idempotent steady state; keep >= 1 enforced; unsighted dirs loud
    assert(IndexFamily.exact.retireSeenWindow(spark, idx, keep = 1).isEmpty)
    assert(verdicts(idx) == sighted)
    intercept[IllegalArgumentException] {
      IndexFamily.exact.retireSeenWindow(spark, idx, keep = 0)
    }
    val err = intercept[IllegalArgumentException] {
      IndexFamily.exact.retireSeenWindow(spark, s"$rootA/idx", keep = 1)
    }
    assert(err.getMessage.contains("sightings ledger"), err.getMessage)
    // an all-replay day still writes its sighting segment (the touch is
    // the point), and that touch alone carries a text across a window
    Dedup.appendToExactIndexSighted(spark, idx,
      Seq((61L, A)).toDF("doc_id", "text"), "doc_id", "text", "d6")
    Dedup.appendToExactIndexSighted(spark, idx,
      Seq((71L, "epsilon fresh day seven text")).toDF("doc_id", "text"),
      "doc_id", "text", "d7")
    assert(IndexFamily.exact.retireSeenWindow(spark, idx, keep = 2)
      == Seq("d5"))
    val touched = verdicts(idx)
    assert(touched(101L) == ((Some(11L), true)),
      s"a replay-only sighting day must keep the text alive: $touched")
    assert(touched(103L) == ((None, false)), // C: last seen d5, aged out
      s"got $touched")
    // the horizon form: retiring before d7 leaves only d7's sightings
    assert(IndexFamily.exact.retireSeenBefore(spark, idx, "d7") == Seq("d6"))
    assert(verdicts(idx)(101L) == ((None, false)))
    val allNovel = Map[Long, (Option[Long], Boolean)](
      101L -> ((None, false)), 102L -> ((None, false)),
      103L -> ((None, false)), 104L -> ((None, false)))
    assert(verdicts(idx) == allNovel)
    // the retire is takedown-shaped: forgotten fps are TOMBSTONED
    // (day-sized delta, no O(index) rewrite), and the family's one
    // compaction path purges them physically — verdicts bit-equal
    assert(Dedup.exactTombstones(spark, idx).isDefined,
      "delta retire must leave tombstones, not rewrite fps in place")
    Dedup.compactExactIndex(spark, idx)
    assert(Dedup.exactTombstones(spark, idx).isEmpty)
    assert(verdicts(idx) == allNovel)
  }

  test("minhash sighting window: a near-dup rejection re-sights the stored doc; last-seen aging tombstones what no kept day re-saw") {
    val A = "the quick brown fox jumps over the lazy dog again and again in the morning sunlight"
    val B = "beta document about something entirely different from every other text in this corpus"
    val C = "gamma content that arrives on day one and matches nothing stored before it at all"
    val D = "delta content that arrives on day two and equally matches nothing already stored"
    val idx = java.nio.file.Files.createTempDirectory("mhsighted")
      .toString + "/idx"
    // d0: A and B stored; d1: a near-dup of A arrives (rejected —
    // touches A) alongside novel C; d2: novel D
    Dedup.buildMinhashIndexSighted(
      Seq((1L, A), (2L, B)).toDF("doc_id", "text"),
      "doc_id", "text", idx, day = "d0")
    Dedup.appendToMinhashIndexSighted(spark, idx,
      Seq((11L, A + " tonight"), (12L, C)).toDF("doc_id", "text"),
      "doc_id", "text", day = "d1", tau = 0.5)
    Dedup.appendToMinhashIndexSighted(spark, idx,
      Seq((21L, D)).toDF("doc_id", "text"),
      "doc_id", "text", day = "d2", tau = 0.5)
    def seenIds(day: String) = spark.read.parquet(s"$idx/seen")
      .filter(col("src") === day).select("id").as[Long].collect().toSet
    assert(seenIds("d0") == Set(1L, 2L))
    assert(seenIds("d1") == Set(1L, 12L), // A touched, C admitted, 11 dropped
      s"got ${seenIds("d1")}")
    assert(seenIds("d2") == Set(21L))
    // the rejected near-dup was NOT stored
    assert(!Dedup.indexedIds(spark, idx).as[Long].collect().contains(11L))
    // keep the last two days: d0 ages out; A survives (re-seen via the
    // d1 rejection), B is forgotten
    assert(IndexFamily.minhash.retireSeenWindow(spark, idx, keep = 2) == Seq("d0"))
    def verdicts() = Dedup.dedupAgainstIndex(spark, idx,
        Seq((31L, A + " twice"), (32L, B + " too"), (33L, D + " now"))
          .toDF("doc_id", "text"), "doc_id", "text", tau = 0.5)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    val after = verdicts()
    assert(after.contains((31L, 1L)),
      s"the re-seen doc must survive the window: $after")
    assert(after.contains((33L, 21L)), s"got $after")
    assert(!after.exists(_._2 == 2L),
      s"a doc no kept day re-saw must be forgotten: $after")
    // the retire is takedown-shaped (tombstones, not a rewrite); the
    // family's one compaction purges physically, verdicts bit-equal
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isDefined)
    Dedup.compactMinhashIndex(spark, idx)
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isEmpty)
    assert(verdicts() == after)
    // guards: unsighted append refused on a sighted index; the window
    // refused on an unsighted one; keep >= 1 enforced
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(spark, idx,
        Seq((41L, "zeta text")).toDF("doc_id", "text"),
        "doc_id", "text", "d3")
    }
    assert(err.getMessage.contains("appendToMinhashIndexSighted"),
      err.getMessage)
    intercept[IllegalArgumentException] {
      IndexFamily.minhash.retireSeenWindow(spark, idx, keep = 0)
    }
    val plain = java.nio.file.Files.createTempDirectory("mhplain")
      .toString + "/idx"
    Dedup.buildMinhashIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", plain)
    val err2 = intercept[IllegalArgumentException] {
      IndexFamily.minhash.retireSeenWindow(spark, plain, keep = 1)
    }
    assert(err2.getMessage.contains("sightings ledger"), err2.getMessage)
    // the horizon form: retiring before d2 leaves only d2's sightings —
    // A ages out this time (nothing re-saw it after d1)
    assert(IndexFamily.minhash.retireSeenBefore(spark, idx, "d2") == Seq("d1"))
    val end = verdicts()
    assert(!end.exists(_._2 == 1L) && end.contains((33L, 21L)),
      s"horizon retire must forget the d1-last-seen docs: $end")
  }

  test("containment sighting window: a rejected sub-doc re-sights its stored containers; last-seen aging tombstones unmatched history") {
    val A = "alpha container document with a long and distinctive body " +
      "of text that keeps flowing across many eight gram shingles here"
    val B = "beta container about something entirely different from " +
      "every other stored text in this corpus with its own words"
    val subA = A.substring(10, 70) // tau-contained in A, nothing else
    val C = "gamma novel content arriving on day one and matching " +
      "nothing stored before it at all in any shingle"
    val D = "delta novel content arriving on day two and equally " +
      "matching nothing already stored anywhere in the index"
    val subD = D.substring(6, 60) // within-batch containment, same day
    val idx = java.nio.file.Files.createTempDirectory("ctsighted")
      .toString + "/idx"
    Dedup.buildContainmentIndexSighted(
      Seq((1L, A), (2L, B)).toDF("doc_id", "text"),
      "doc_id", "text", idx, day = "d0")
    // d1: subA rejected (touches container 1), C admitted
    Dedup.appendToContainmentIndexSighted(spark, idx,
      Seq((11L, subA), (12L, C)).toDF("doc_id", "text"),
      "doc_id", "text", day = "d1")
    // d2: D admitted; subD dropped by the WITHIN-batch half (its
    // container is a batch doc — no stored id to touch); a zero-
    // shingle doc admits with no payload rows
    Dedup.appendToContainmentIndexSighted(spark, idx,
      Seq((21L, D), (22L, subD), (23L, "tiny")).toDF("doc_id", "text"),
      "doc_id", "text", day = "d2")
    def seenIds(day: String) = spark.read.parquet(s"$idx/seen")
      .filter(col("src") === day).select("id").as[Long].collect().toSet
    assert(seenIds("d0") == Set(1L, 2L))
    assert(seenIds("d1") == Set(1L, 12L), s"got ${seenIds("d1")}")
    assert(seenIds("d2") == Set(21L, 23L), s"got ${seenIds("d2")}")
    val storedIds = spark.read.parquet(s"$idx/ids")
      .select("id").as[Long].collect().toSet
    assert(storedIds == Set(1L, 2L, 12L, 21L, 23L),
      s"rejected docs must not be stored: $storedIds")
    // keep the last two days: d0 ages out; A survives (re-sighted by
    // the d1 rejection), B is forgotten
    assert(IndexFamily.containment.retireSeenWindow(spark, idx, keep = 2)
      == Seq("d0"))
    def verdicts() = Dedup.dropContainedAgainstIndex(spark, idx,
        Seq((31L, subA), (32L, B.substring(8, 64)), (33L, subD))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select("id", "container_id").as[(Long, Option[Long])]
      .collect().toMap
    val after = verdicts()
    assert(after(31L) == Some(1L),
      s"the re-sighted container must survive the window: $after")
    assert(after(32L) == None,
      s"a container no kept day re-saw must be forgotten: $after")
    assert(after(33L) == Some(21L), s"got $after")
    // takedown-shaped retire (tombstones, no rewrite); compaction
    // purges physically with bit-equal verdicts
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isDefined)
    Dedup.compactContainmentIndex(spark, idx)
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isEmpty)
    assert(verdicts() == after)
    // guards: unsighted append refused on a sighted index; replayed id
    // refused; window refused on an unsighted index; keep >= 1
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToContainmentIndex(spark, idx,
        Seq((41L, "zeta text for the guard")).toDF("doc_id", "text"),
        "doc_id", "text", "d3")
    }
    assert(err.getMessage.contains("appendToContainmentIndexSighted"),
      err.getMessage)
    val errReplay = intercept[IllegalArgumentException] {
      Dedup.appendToContainmentIndexSighted(spark, idx,
        Seq((21L, D)).toDF("doc_id", "text"), "doc_id", "text", "d3")
    }
    assert(errReplay.getMessage.contains("already"), errReplay.getMessage)
    intercept[IllegalArgumentException] {
      IndexFamily.containment.retireSeenWindow(spark, idx, keep = 0)
    }
    val plain = java.nio.file.Files.createTempDirectory("ctplain")
      .toString + "/idx"
    Dedup.buildContainmentIndex(Seq((1L, A)).toDF("doc_id", "text"),
      "doc_id", "text", plain)
    val err2 = intercept[IllegalArgumentException] {
      IndexFamily.containment.retireSeenWindow(spark, plain, keep = 1)
    }
    assert(err2.getMessage.contains("sightings ledger"), err2.getMessage)
    // horizon form: retiring before d2 forgets the d1-last-seen docs
    // (A and C), keeps d2's
    assert(IndexFamily.containment.retireSeenBefore(spark, idx, "d2")
      == Seq("d1"))
    val end = verdicts()
    assert(end(31L) == None && end(33L) == Some(21L), s"got $end")
  }

  test("sighted index refuses an unsighted append — fps outside every sighting day would be irretirable") {
    val root = java.nio.file.Files.createTempDirectory("sguard").toString
    val idx = s"$root/idx"
    Dedup.buildExactIndexSighted(
      Seq((1L, "guarded build text")).toDF("doc_id", "text"),
      "doc_id", "text", idx, day = "d0")
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToExactIndex(spark, idx,
        Seq((2L, "unsighted batch text")).toDF("doc_id", "text"),
        "doc_id", "text", "d1")
    }
    assert(err.getMessage.contains("appendToExactIndexSighted"),
      err.getMessage)
    // the refusal mutated nothing: the sighted append still lands
    Dedup.appendToExactIndexSighted(spark, idx,
      Seq((2L, "unsighted batch text")).toDF("doc_id", "text"),
      "doc_id", "text", "d1")
    assert(graft.operators.IndexFiles.listSrcs(spark, idx, "seen")
      == Seq("d0", "d1"))
  }

  test("repeatedSpans: finds shared and within-doc repeated substrings exactly") {
    // docs 1 and 2 share one exact 45-char phrase with DIFFERING boundary
    // chars (x|y vs q|z), so the islands cover exactly the phrase; doc 3
    // doubles a 40-char phrase back-to-back; doc 4 is fully unique; doc 5
    // is shorter than the shingle width
    val shared = "the exact shared phrase appears right here o"
    val rep = "internal repetition of this exact phrase" // 40 chars
    assert(rep.length == 40)
    val t1 = s"unique preamble alpha betax${shared}y gamma delta closing words"
    val t2 = s"other opening textq${shared}z and a second ending entirely"
    val t3 = s"start $rep$rep finish"
    val corpus = Seq((1L, t1), (2L, t2), (3L, t3),
      (4L, "nothing here occurs twice anywhere inside our corpus at all"),
      (5L, "tiny")).toDF("id", "text")
    val out = Dedup.repeatedSpans(corpus, "id", "text", w = 13, minLen = 30)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.toList.sortBy(_._2)
        .map(x => (x._2, x._3, x._4))).toMap
    def at(t: String): (Long, Long, Long) = {
      val s = t.indexOf(shared) + 1L // 1-based, inputs are already normText
      (s, s + shared.length - 1, shared.length.toLong)
    }
    assert(out(1L) == List(at(t1)), s"got ${out.get(1L)}")
    assert(out(2L) == List(at(t2)), s"got ${out.get(2L)}")
    // doubled phrase AA (A=40 chars at pos 7): positions whose shingle
    // repeats are 7..34 (first copy, mirrored at +40) and 47..74 — the
    // junction shingles are unique, so exactly TWO 40-char islands
    assert(out(3L) == List((7L, 46L, 40L), (47L, 86L, 40L)),
      s"got ${out.get(3L)}")
    assert(!out.contains(4L) && !out.contains(5L))

    // the transform half: spans cut out, everything else verbatim
    val clean = Dedup.removeRepeatedSpans(corpus, "id", "text",
        w = 13, minLen = 30)
      .as[(Long, String)].collect().toMap
    assert(clean(1L) == t1.replace(shared, ""), s"got '${clean(1L)}'")
    assert(clean(2L) == t2.replace(shared, ""))
    // doc 3 loses chars 7..86 (both islands) -> "start " ++ " finish"
    assert(clean(3L) == "start  finish", s"got '${clean(3L)}'")
    assert(clean(4L) == "nothing here occurs twice anywhere inside our corpus at all")
    assert(clean(5L) == "tiny")
  }

  test("semDedup: one survivor per identical-vector group, min id, deterministic") {
    // three duplicate groups of well-separated directions + one unique
    // vector + one zero-norm failed embed; 20 > k so kmeans actually fits
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0))
    val rows =
      (0 until 18).map(i => (i.toLong, dirs(i % 3))) ++
      Seq((18L, Seq(0.5, 0.5, 0.5, 0.5)), (19L, Seq(0.0, 0.0, 0.0, 0.0)))
    val df = rows.toDF("id", "vec")
    val out = Dedup.semDedup(df, "id", "vec", k = 2, tau = 0.9999)
      .as[(Long, Int, Option[Double])].collect()
    val ids = out.map(_._1).toSet
    // identical directions always share a cell (same assignment
    // expression), so each group keeps exactly its min id
    assert(ids.intersect((0L until 18L).toSet) == Set(0L, 1L, 2L), s"got $ids")
    assert(ids.contains(18L) && ids.contains(19L))
    val zeroRow = out.find(_._1 == 19L).get
    assert(zeroRow._2 == -1 && zeroRow._3.isEmpty)
    // deterministic across runs and partitionings
    val again = Dedup.semDedup(df.repartition(7), "id", "vec", k = 2,
      tau = 0.9999).as[(Long, Int, Option[Double])].collect()
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // impossible tau -> everything survives
    val all = Dedup.semDedup(df, "id", "vec", k = 2, tau = 1.01)
      .select("id").as[Long].collect().toSet
    assert(all == (0L until 20L).toSet)
    // corpus <= k -> per-doc clusters, nothing drops, cell -1
    val tiny = Dedup.semDedup(df.filter(col("id") < 3), "id", "vec",
      k = 16, tau = 0.5).as[(Long, Int, Option[Double])].collect()
    assert(tiny.map(_._1).toSet == Set(0L, 1L, 2L) && tiny.forall(_._2 == -1))
  }

  test("semDedup maxCellSize: cap splits only oversized cells, stays deterministic") {
    // well-separated duplicate groups, none near the cap: capped run
    // must be BIT-IDENTICAL to uncapped (every cell gets one subgroup)
    val dirs = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0))
    val spreadDf = ((0 until 18).map(i => (i.toLong, dirs(i % 3))) ++
      Seq((18L, Seq(0.5, 0.5, 0.5, 0.5)))).toDF("id", "vec")
    def run(df: org.apache.spark.sql.DataFrame, cap: Option[Int]) =
      Dedup.semDedup(df, "id", "vec", k = 2, tau = 0.9999,
        maxCellSize = cap).as[(Long, Int, Option[Double])]
        .collect().sortBy(_._1).toSeq
    assert(run(spreadDf, Some(100)) == run(spreadDf, None))
    // degenerate point-mass corpus: every doc in ONE cell. Capped run
    // completes with bounded per-task size; survivors = one min id per
    // id-hash subgroup (conservative: a superset of the uncapped one)
    val mass = (0 until 120).map(i => (i.toLong, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("id", "vec")
    val uncapped = run(mass, None).map(_._1).toSet
    val capped = run(mass, Some(10)).map(_._1).toSet
    assert(uncapped.subsetOf(capped), s"capped lost ${uncapped -- capped}")
    assert(capped.size > 1 && capped.size <= 12) // ceil(120/10) subgroups
    // deterministic under repartitioning
    assert(run(mass.repartition(7), Some(10)).map(_._1).toSet == capped)
  }

  private val base = "the quick brown fox jumps over the lazy dog again and again " * 4
  private val docs = Seq(
    (1L, base),
    (2L, base),                                // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),      // near dup of 1
    (4L, "completely different content about stock markets and finance today " * 4),
    (5L, "yet another unrelated document mentioning sports and weather news " * 4)
  ).toDF("doc_id", "text")

  test("exact: identical normalized docs collapse to one fingerprint") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    val dup = out.filter(_._3 == 2)
    assert(dup.length == 1 && dup.head._2 == 1L) // keeps min id
    assert(out.map(_._3).sum == 5)
  }

  test("ngramJaccard: finds planted near-dup pair, skips unrelated") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("PPJoin positional filter: identical output, strictly fewer candidates on a Zipfian vocabulary") {
    // seeded Zipf(s~1) vocabulary — the realistic corpus shape the r2
    // measurement lacked: a few very hot words, a long tail of rare
    // ones, so prefixes are long and the candidate join is busy
    val rnd = new scala.util.Random(7)
    val vocab = 1500
    def word() = {
      val r = math.min(vocab - 1,
        math.floor(math.exp(rnd.nextDouble() * math.log(vocab.toDouble))).toInt)
      s"tok$r"
    }
    val originals = (1 to 120).map(i =>
      (i.toLong, (1 to 30).map(_ => word()).mkString(" ")))
    // planted near-dups: copies with one word replaced
    val nearDups = originals.take(20).map { case (i, t) =>
      (i + 1000L, t.replaceFirst(" [a-z0-9]+ ", " changedword ")) }
    val zipf = (originals ++ nearDups).toDF("doc_id", "text")
    def pairs(pos: Boolean) = Dedup.ngramJaccard(zipf, "doc_id", "text",
        w = 8, tau = 0.5, positionalFilter = pos)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val off = pairs(false)
    val on = pairs(true)
    assert(on == off && off.nonEmpty,
      "positional filter changed the exact output on the Zipf corpus")
    // the filter's whole value is generating FEWER candidates for the
    // expensive verify — measure the generation stage directly
    val sh = Dedup.shingleSetHashed(zipf, "doc_id", "text", 8, None).cache()
    val candOff = Dedup.ppjoinCandidates(sh, 0.5, positionalFilter = false).count()
    val candOn = Dedup.ppjoinCandidates(sh, 0.5, positionalFilter = true).count()
    assert(candOn < candOff,
      s"positional filter did not cut candidates: $candOn !< $candOff")
    // on the degenerate tiny-vocabulary corpus the outputs still agree
    // (the r2 finding was about cost there, never about correctness)
    val tiny = (1 to 60).map(i => (i.toLong,
      (1 to 25).map(j => s"w${(i * 7 + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    def tinyPairs(pos: Boolean) = Dedup.ngramJaccard(tiny, "doc_id", "text",
        w = 8, tau = 0.5, positionalFilter = pos)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(tinyPairs(true) == tinyPairs(false))
  }

  test("ngramJaccard: boundary tau survives float rounding in the filters") {
    // B's shingle set is exactly A's first 7 of 100 → jaccard 7/100 = 0.07;
    // with tau = 0.07 the pair must be kept even though 100·0.07 rounds to
    // 7.000000000000001 in double (the length/prefix filters carry −ε)
    val rng = new scala.util.Random(7)
    val big = (1 to 107).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val small = big.take(14) // 7 shingles at w=8, all shared with big
    val df = Seq((1L, big), (2L, small)).toDF("doc_id", "text")
    for (pos <- Seq(false, true)) {
      val out = Dedup.ngramJaccard(df, "doc_id", "text", w = 8, tau = 0.07,
          positionalFilter = pos)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      assert(out.length == 1 && out(0)._3 == 0.07,
        s"boundary pair lost (positionalFilter=$pos): ${out.toSeq}")
    }
  }

  test("minhashLsh: candidates verified — subset of exact jaccard result") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", w = 8,
        numHashes = 12, bands = 4, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L))) // identical docs always collide
  }

  test("simhashPairs: identical docs at hamming 0; banding finds them") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHam = 3)
      .as[(Long, Long, Long)].collect()
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined && p12.get._3 == 0L)
  }

  test("embeddingCosine(+Lsh): lsh pairs are a subset of exact pairs") {
    val vecs = (1 to 20).map { i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 31 + j).toFloat))
    }.toDF("id", "v")
    val exact = Dedup.embeddingCosine(vecs, "id", "v", tau = 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val lsh = Dedup.embeddingCosineLsh(vecs, "id", "v", tau = 0.8, dim = 8, planes = 4)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(lsh.subsetOf(exact))
  }

  test("minhashLsh jaccard values match the exact string-space jaccard") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", w = 8,
        numHashes = 12, bands = 4, tau = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    lsh.foreach { case (pair, j) =>
      // 32-bit-hash-space jaccard == string-space jaccard absent collisions
      assert(math.abs(exact(pair) - j) < 1e-9, s"pair $pair: ${exact(pair)} vs $j")
    }
  }

  test("shingleHashSet: per-doc set sizes match the string-space sets") {
    val str = Dedup.shingleSet(docs, "doc_id", "text", w = 8, maxDf = None)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    val hashed = Dedup.shingleHashSet(docs, "doc_id", "text", w = 8, maxDf = None)
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(hashed == str)
  }

  test("shingleSet maxDf cap drops hot shingles") {
    val hot = Seq((1L, "aaaa common"), (2L, "bbbb common"), (3L, "cccc common"))
      .toDF("doc_id", "text")
    val capped = Dedup.shingleSet(hot, "doc_id", "text", w = 6, maxDf = Some(2))
    val kept = capped.select("sh").distinct().as[String].collect()
    assert(!kept.contains("common")) // appears in 3 docs > cap 2
  }

  test("dupClusters: transitive closure to min-id labels with sizes") {
    // components: {1,2,3,4} (chain), {7,9}, singleton 5 has no edge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(
      1L -> (1L, 4L), 2L -> (1L, 4L), 3L -> (1L, 4L), 4L -> (1L, 4L),
      7L -> (7L, 2L), 9L -> (7L, 2L)), s"got $out")
  }

  test("keepCanonical: best-quality member survives per cluster; singletons untouched") {
    val docs = Seq(
      (1L, "a", 5L), (2L, "b", 9L), (3L, "c", 9L),  // cluster 1: 2 wins (q 9, min id)
      (7L, "d", 1L), (9L, "e", 2L),                  // cluster 7: 9 wins (q 2)
      (5L, "f", 0L),                                 // clustered singleton
      (6L, "g", 3L))                                 // absent from clusters entirely
      .toDF("doc_id", "text", "quality")
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L), (5L, 5L, 1L)).toDF("id", "cluster_id", "cluster_sz")
    val kept = Dedup.keepCanonical(docs, clusters, "doc_id", "quality")
      .select("doc_id", "text", "quality")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(kept.toSeq == Seq((2L, "b", 9L), (5L, "f", 0L), (6L, "g", 3L), (9L, "e", 2L)),
      s"got ${kept.toSeq}")
    // full columns survive and nothing from the cluster plumbing leaks
    val cols = Dedup.keepCanonical(docs, clusters, "doc_id", "quality").columns.toSet
    assert(cols == Set("doc_id", "text", "quality"))
  }

  test("dupClusters: long chain converges via pointer jumping") {
    // a 60-node path graph: plain min-propagation needs 59 rounds;
    // pointer jumping must finish well within maxIter
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(chain)
      .as[(Long, Long, Long)].collect()
    assert(out.length == 60 && out.forall(r => r._2 == 1L && r._3 == 60L),
      s"fragmented: ${out.filter(_._2 != 1L).toSeq.take(5)}")
  }

  test("buildMinhashIndex + dedupAgainstIndex: batch-vs-history equals full-run cross pairs") {
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    Dedup.buildMinhashIndex(docs, "doc_id", "text", dir)
    val batch = Seq(
      (10L, base.replace("quick", "rapid")),                 // near-dup of 1/2
      (11L, "fresh unrelated prose about deep sea biology " * 4)
    ).toDF("doc_id", "text")
    val incr = Dedup.dedupAgainstIndex(spark, dir, batch, "doc_id", "text", tau = 0.5)
      .select("id_new", "id_old", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._2, r._1, r._3)).toSet // (old, new, j) for comparison
    val full = Dedup.minhashLsh(docs.union(batch), "doc_id", "text", tau = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._1 <= 5 && p._2 >= 10).toSet // cross pairs only
    assert(incr == full && incr.nonEmpty, s"incr $incr vs full $full")
    assert(!incr.exists(_._2 == 11L)) // unrelated doc untouched
    // replaying an id already in the index must fail fast, not corrupt
    val replay = Seq((1L, "any text at all here")).toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(spark, dir, replay, "doc_id", "text").count()
    }
    assert(err.getMessage.contains("already exists"))
  }

  test("appendToMinhashIndex: appended index equals union-rebuilt index; replay fails fast") {
    val dirApp = java.nio.file.Files.createTempDirectory("mhapp").toString + "/idx"
    val dirFull = java.nio.file.Files.createTempDirectory("mhfull").toString + "/idx"
    val extra = Seq(
      (20L, base.replace("quick", "rapid")), // near-dup of 1/2
      (21L, "entirely new prose about volcano geology and ash plumes " * 4)
    ).toDF("doc_id", "text")
    Dedup.buildMinhashIndex(docs, "doc_id", "text", dirApp)
    Dedup.appendToMinhashIndex(spark, dirApp, extra, "doc_id", "text", "s1")
    Dedup.buildMinhashIndex(docs.union(extra), "doc_id", "text", dirFull)
    // with maxDf = None the append docstring promises dedupAgainstIndex
    // over the appended index is bit-equal to the union-rebuilt index
    val probe = Seq(
      (30L, base.replace("quick", "rapid")), // exact dup of 20, near-dup of 1/2
      (31L, "unrelated archaeology field notes from the desert dig " * 4)
    ).toDF("doc_id", "text")
    def pairs(d: String) =
      Dedup.dedupAgainstIndex(spark, d, probe, "doc_id", "text", tau = 0.5)
        .select("id_new", "id_old", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val appendedPairs = pairs(dirApp)
    assert(appendedPairs == pairs(dirFull) && appendedPairs.nonEmpty,
      "appended index diverged from an index rebuilt on the union corpus")
    assert(appendedPairs.exists(_._2 == 20L), "no match against the APPENDED half")
    assert(!appendedPairs.exists(_._1 == 31L)) // unrelated probe untouched
    // replaying an already-indexed id must fail fast, not corrupt the index
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(spark, dirApp,
        Seq((3L, "whatever text")).toDF("doc_id", "text"), "doc_id", "text",
        "s2")
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
  }

  test("deleteFromMinhashIndex + compactMinhashIndex: deleted docs stop matching; ids re-open after purge") {
    val dir = java.nio.file.Files.createTempDirectory("mhdel").toString + "/idx"
    Dedup.buildMinhashIndex(docs, "doc_id", "text", dir)
    val probe = Seq((30L, base)).toDF("doc_id", "text") // near-dup of 1, 2, 3
    def pairs() = Dedup.dedupAgainstIndex(spark, dir, probe, "doc_id", "text", tau = 0.5)
      .select("id_new", "id_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val before = pairs()
    assert(before.exists(_._2 == 1L) && before.exists(_._2 == 2L))
    IndexFiles.writeTombstones(Seq(2L).toDF("id"), dir)
    val tombstoned = pairs()
    assert(!tombstoned.exists(_._2 == 2L), "deleted doc still matches")
    assert(tombstoned == before.filterNot(_._2 == 2L),
      "delete changed pairs beyond removing the deleted doc")
    // still replay-guarded before compaction; re-openable after
    intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(spark, dir,
        Seq((2L, "whatever")).toDF("doc_id", "text"), "doc_id", "text", "s1")
    }
    Dedup.compactMinhashIndex(spark, dir)
    assert(pairs() == tombstoned, "compaction changed dedup pairs")
    assert(!new java.io.File(s"$dir/deleted").exists())
    Dedup.appendToMinhashIndex(spark, dir,
      docs.filter(col("doc_id") === 2L), "doc_id", "text", "s2")
    assert(pairs() == before, "re-appended doc did not restore its pairs")
  }

  test("assignToClusters: adoption, singletons, map-unknown matches, and visible bridges") {
    val tA = "alpha pattern repeated words here again and again today"
    val tB = "totally different beta content with other vocabulary items"
    val tC = "gamma standalone text never clustered with anything else"
    val history = Seq((1L, tA), (2L, tA), (3L, tB), (4L, tB), (5L, tC))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("asgn").toString + "/idx"
    // r=1 banding (12 bands of 1): any shared minhash candidates a pair
    // — the bridge doc's minhashes are each the min of its two halves'
    Dedup.buildMinhashIndex(history, "id", "text", dir,
      w = 8, numHashes = 12, bands = 12)
    // cluster map from the history's own verified pairs: {1,2} under
    // label 1, {3,4} under 3; doc 5 is a singleton (absent from the map)
    val clusterMap = Dedup.dupClusters(
      Dedup.minhashLsh(history, "id", "text", w = 8, numHashes = 12,
        bands = 12, tau = 0.3).select("id_a", "id_b"))
    val batch = Seq(
      (10L, tA),            // re-crawl of the A family → adopts label 1
      (11L, "wholly novel content unlike any stored document at all"),
      (12L, tA + " " + tB), // bridges A and B → adopts min, bridge visible
      (13L, tC))            // matches a doc the MAP doesn't know → label 5
      .toDF("id", "text")
    val got = Dedup.assignToClusters(spark, dir, clusterMap, batch,
        "id", "text", tau = 0.3)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, 1L, 1L), (11L, 11L, 0L), (12L, 1L, 2L),
      (13L, 5L, 1L)), s"got $got")
  }

  test("reclusterBridged: patched map equals full recluster; untouched clusters byte-identical") {
    val tA = "alpha pattern repeated words here again and again today"
    val tB = "totally different beta content with other vocabulary items"
    val tC = "gamma standalone text never clustered with anything else"
    val tD = "delta family boilerplate copied verbatim across mirror sites"
    val history = Seq((1L, tA), (2L, tA), (3L, tB), (4L, tB), (5L, tC),
      (6L, tD), (7L, tD)).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rebr").toString + "/idx"
    Dedup.buildMinhashIndex(history, "id", "text", dir,
      w = 8, numHashes = 12, bands = 12)
    val histPairs = Dedup.minhashLsh(history, "id", "text", w = 8,
      numHashes = 12, bands = 12, tau = 0.3).select("id_a", "id_b")
    val clusterMap = Dedup.dupClusters(histPairs)
    val batch = Seq(
      (10L, tA),            // plain adoption into the A family
      (11L, "wholly novel content unlike any stored document at all"),
      (12L, tA + " " + tB), // bridges A and B
      (13L, tC))            // matches a doc the map doesn't know
      .toDF("id", "text")
    val patched = Dedup.reclusterBridged(spark, dir, clusterMap, batch,
        "id", "text", tau = 0.3)
      .as[(Long, Long)].collect().toMap
    // full recluster over the same graph the incremental scheme sees:
    // history pairs + batch-vs-history probe pairs
    val crossPairs = Dedup.dedupAgainstIndex(spark, dir, batch,
        "id", "text", tau = 0.3)
      .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
    val full = Dedup.dupClusters(histPairs.unionByName(crossPairs))
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    // compare as label FUNCTIONS (absent id = singleton under own id —
    // the keepCanonical convention)
    val allIds = (1L to 7L) ++ Seq(10L, 11L, 12L, 13L)
    allIds.foreach { id =>
      assert(patched.getOrElse(id, id) == full.getOrElse(id, id),
        s"id $id: patched ${patched.get(id)} vs full ${full.get(id)}")
    }
    // the bridge actually merged: A{1,2} and B{3,4} share label 1 now
    assert(Seq(1L, 2L, 3L, 4L, 10L, 12L).forall(patched(_) == 1L), s"$patched")
    assert(patched(13L) == 5L && patched(11L) == 11L)
    // untouched cluster {6,7} passes through byte-identical to the map
    val before = clusterMap.select("id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    Seq(6L, 7L).foreach(id => assert(patched(id) == before(id)))
    // no-bridge batch degenerates to the plain adoption union
    val quiet = Seq((20L, tD)).toDF("id", "text")
    val q = Dedup.reclusterBridged(spark, dir, clusterMap, quiet,
        "id", "text", tau = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(q(20L) == 6L && q(1L) == before(1L) && q(3L) == before(3L), s"$q")
    // empty batch: the map passes through unchanged, no crash
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val e = Dedup.reclusterBridged(spark, dir, clusterMap, empty,
        "id", "text", tau = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(e == before, s"empty batch perturbed the map: $e vs $before")
  }

  test("dedupSegments: only the globally first occurrence of each paragraph survives") {
    val pdocs = Seq(
      (1L, "alpha\nshared one\nbeta"),
      (2L, "shared one\ngamma\nshared two"),
      (3L, "shared two\nshared one"), // nothing unique but 'shared two' came from doc 2
      (4L, "delta")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(pdocs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "alpha\nshared one\nbeta")        // first owner keeps everything
    assert(out(2L) == "gamma\nshared two")              // 'shared one' seen in doc 1
    assert(!out.contains(3L))                           // every segment seen earlier
    assert(out(4L) == "delta")
    // duplicate WITHIN one doc: later position drops
    val self = Seq((9L, "x\nx\ny")).toDF("doc_id", "text")
    assert(Dedup.dedupSegments(self, "doc_id", "text")
      .as[(Long, String)].head()._2 == "x\ny")
  }

  test("bandClusters: exact dups cluster together; unrelated docs do not") {
    val out = Dedup.bandClusters(docs, "doc_id", "text", w = 8,
        numHashes = 12, bands = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    // docs 1 and 2 are byte-identical -> identical signatures everywhere
    assert(out.get(1L).contains(1L) && out.get(2L).contains(1L), s"got $out")
    // 4 and 5 are unrelated to 1: if present at all, not in 1's cluster
    assert(!out.get(4L).contains(1L) && !out.get(5L).contains(1L))
  }

  test("normalizeUrl / registeredDomain: each edge case") {
    val cases = Seq(
      // host lowered, path case kept, query+fragment+trailing / stripped
      ("https://www.Example.COM/Path/?q=1#f", "example.com/Path"),
      ("HTTP://example.com/a/b", "example.com/a/b"),   // scheme case-blind
      ("https://foo.org/", "foo.org"),                 // bare host
      ("www.foo.org/bar", "foo.org/bar"),              // no scheme
      ("ftp://x.y.z/file", "x.y.z/file"),              // any scheme
      ("https://a.com/p#frag?x=1", "a.com/p"),         // ? inside fragment
      ("https://sub.www.a.com/q", "sub.www.a.com/q"),  // only LEADING www.
      ("https://a.com:8080/p/", "a.com:8080/p"),       // port stays
      ("https://a.com/p///", "a.com/p"),               // slash run
      // www-strip is case-blind AND precedes the host lowering
      ("HTTP://WWW.Example.com/x", "example.com/x"),
      ("https://Www.a.com/y", "a.com/y")
    )
    val got = cases.zipWithIndex.map { case ((u, _), i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"), Dedup.normalizeUrl(col("url")).as("n"))
      .as[(Long, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((u, want), i) =>
      assert(got(i.toLong) == want, s"normalizeUrl($u)") }
    val doms = Seq(
      ("https://a.b.example.com/x", "example.com"),  // last two labels
      ("https://www.example.co/x", "example.co"),    // (public-suffix caveat)
      ("http://localhost/x", "localhost"),           // dotless host
      ("https://a.com:8080/x", "a.com")              // port stripped
    )
    val gd = doms.zipWithIndex.map { case ((u, _), i) => (i.toLong, u) }
      .toDF("id", "url")
      .select(col("id"), Dedup.registeredDomain(col("url")).as("d"))
      .as[(Long, String)].collect().toMap
    doms.zipWithIndex.foreach { case ((u, want), i) =>
      assert(gd(i.toLong) == want, s"registeredDomain($u)") }
  }

  test("dedupByUrl: min id survives per normalized key, full rows kept") {
    val rows = Seq(
      (5L, "https://www.a.com/p?utm=1", "five"),
      (2L, "http://A.COM/p/", "two"),      // same page as 5 -> 2 wins
      (9L, "https://a.com/p#frag", "nine"),// same page again
      (7L, "https://a.com/q", "seven"),    // different path: survives
      (1L, "https://b.org", "one")         // singleton
    ).toDF("id", "url", "payload")
    val out = Dedup.dedupByUrl(rows, "id", "url")
      .select("id", "url_norm", "payload")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 7L))
    assert(out.find(_._1 == 2L).get._2 == "a.com/p")
    assert(out.find(_._1 == 2L).get._3 == "two") // original columns intact
  }

  test("capPerDomain: top-n by quality per domain, salt-invariant, skew-safe") {
    // one mega-domain (60 docs) + one small domain (2 docs); quality
    // ascends with id so the TOP n are the LAST ids — any partition-
    // order dependence would surface immediately
    val rows = (1L to 60L).map(i =>
      (i, s"https://www.mega.com/page/$i", i * 10)) ++
      Seq((101L, "https://tiny.org/a", 5L), (102L, "https://tiny.org/b", 9L))
    val df = rows.toDF("id", "url", "q")
    def run(salt: Int) = Dedup.capPerDomain(df, "id", "url", n = 3,
        qualityCol = "q", salt = salt)
      .select("id", "domain", "rank").as[(Long, String, Long)]
      .collect().sortBy(r => (r._2, r._3))
    val got = run(16)
    assert(got.filter(_._2 == "mega.com").map(_._1).toSeq ==
      Seq(60L, 59L, 58L), s"got ${got.toSeq}")           // best quality first
    assert(got.filter(_._2 == "tiny.org").map(_._1).toSeq ==
      Seq(102L, 101L))                                    // under-cap domain whole
    assert(got.map(_._3).forall(_ <= 3))
    // exactness does not depend on the salt fan-out
    assert(run(1).toSeq == got.toSeq && run(7).toSeq == got.toSeq)
    // quality ties break on min id
    val ties = Seq((3L, "https://t.com/x", 1L), (1L, "https://t.com/y", 1L),
      (2L, "https://t.com/z", 1L)).toDF("id", "url", "q")
    assert(Dedup.capPerDomain(ties, "id", "url", n = 2, qualityCol = "q")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("domain-cap ledger: budgets span batches, in-batch quality order, replay no-op") {
    val dir = java.nio.file.Files.createTempDirectory("domcap").toString
    Dedup.initDomainCapLedger(spark, dir, n = 2)
    def vmap(v: org.apache.spark.sql.DataFrame) =
      v.select("id", "admitted", "admitted_rank")
        .as[(Long, Boolean, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // batch 0: a.com over cap (3 docs, quality picks 2), b.org under
    val b0 = Seq((1L, "http://a.com/x", 10L), (2L, "http://a.com/y", 30L),
      (3L, "http://a.com/z", 20L), (4L, "http://b.org/p", 5L))
      .toDF("id", "url", "q")
    val v0 = Dedup.capAgainstLedger(spark, dir, b0, "id", "url", "q")
    assert(vmap(v0) == Map(
      1L -> ((false, None)), 2L -> ((true, Some(1L))),
      3L -> ((true, Some(2L))), 4L -> ((true, Some(1L)))),
      s"got ${vmap(v0)}")
    Dedup.appendToDomainCapLedger(spark, dir, v0, "s0")
    // batch 1: a.com saturated (even at top quality), b.org one slot —
    // in-batch quality decides who takes it
    val b1 = Seq((5L, "http://a.com/new", 99L), (6L, "http://b.org/q", 1L),
      (7L, "http://b.org/r", 2L)).toDF("id", "url", "q")
    val v1 = Dedup.capAgainstLedger(spark, dir, b1, "id", "url", "q")
    // materialized BEFORE the append: v1 is lazy and judges without
    // excludeSrc, so re-collecting it post-append would see its own
    // spend — exactly the hazard excludeSrc exists to close
    val m1 = vmap(v1)
    assert(m1 == Map(
      5L -> ((false, None)), 6L -> ((false, None)),
      7L -> ((true, Some(2L)))), s"got $m1")
    Dedup.appendToDomainCapLedger(spark, dir, v1, "s1")
    def totals() = spark.read.parquet(s"$dir/counts")
      .groupBy("domain").agg(sum("cnt").as("c"))
      .as[(String, Long)].collect().toMap
    val t = totals()
    assert(t == Map("a.com" -> 2L, "b.org" -> 2L), s"got $t")
    // committed-src replay is a no-op (budgets would double-spend)
    Dedup.appendToDomainCapLedger(spark, dir, v1, "s1")
    assert(totals() == t, "replayed src re-spent domain budgets")
    // excludeSrc reads history as of before the batch's own append:
    // post-append re-judgement reproduces the verdicts bit-for-bit
    val v1b = Dedup.capAgainstLedger(spark, dir, b1, "id", "url", "q",
      excludeSrc = Some("s1"))
    assert(vmap(v1b) == m1, "excludeSrc did not mask own append")
    // salt fan-out never changes the verdict
    val v1c = Dedup.capAgainstLedger(spark, dir, b1, "id", "url", "q",
      salt = 1, excludeSrc = Some("s1"))
    assert(vmap(v1c) == m1, "salt changed admission")
    // NULL-domain docs (unparseable/absent URLs) are ONE budget group
    // whose spend must persist across batches: an equi-join on domain
    // would never match their stored counts and silently regenerate
    // the budget every batch
    val dirN = java.nio.file.Files.createTempDirectory("domcapn").toString
    Dedup.initDomainCapLedger(spark, dirN, n = 1)
    val n0 = Seq((1L, null.asInstanceOf[String], 10L),
      (2L, null.asInstanceOf[String], 5L)).toDF("id", "url", "q")
    val vn0 = Dedup.capAgainstLedger(spark, dirN, n0, "id", "url", "q")
    assert(vmap(vn0) == Map(1L -> ((true, Some(1L))), 2L -> ((false, None))),
      s"got ${vmap(vn0)}")
    Dedup.appendToDomainCapLedger(spark, dirN, vn0, "s0")
    val n1 = Seq((3L, null.asInstanceOf[String], 99L)).toDF("id", "url", "q")
    assert(vmap(Dedup.capAgainstLedger(spark, dirN, n1, "id", "url", "q"))
      == Map(3L -> ((false, None))),
      "NULL-domain budget silently reset across batches")
  }

  test("exact index: bloom-pruned probe equals the plain history join, bloom only prunes") {
    val history = Seq(
      (10L, "the quick brown fox"),
      (11L, "pack my box with five dozen jugs"),
      (12L, "The  Quick   Brown Fox "),  // normalizes equal to doc 10 → keep_id 10
      (13L, "lorem ipsum dolor")
    ).toDF("id", "text")
    val batch = Seq(
      (20L, "the quick brown fox"),      // dup of history (first copy = 10)
      (21L, "a wholly novel document"),
      (22L, "LOREM IPSUM DOLOR"),        // dup via normalization → 13
      (23L, "another novel one")
    ).toDF("id", "text")
    def probe(dir: String) =
      Dedup.dedupExactAgainstIndex(spark, dir, batch, "id", "text")
        .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    val expect = Seq((20L, Some(10L), true), (21L, None, false),
      (22L, Some(13L), true), (23L, None, false))
    val dir = java.nio.file.Files.createTempDirectory("exidx").toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    assert(probe(dir) == expect)
    // the probe plan actually carries the bloom predicate (the prune is
    // real, not just the confirm join doing all the work); repartition
    // first — a Seq-backed LocalRelation gets the whole probe constant-
    // folded away, which hides the filter from the plan text
    val plan = Dedup.dedupExactAgainstIndex(spark, dir,
        batch.repartition(2), "id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom predicate in:\n$plan")
    // exactness is fpp-independent: a deliberately saturated bloom
    // (fpp=0.9 → minimum-size sketch, nearly everything positive) must
    // produce the identical frame — false positives die in the confirm
    val dirSat = java.nio.file.Files.createTempDirectory("exsat").toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dirSat, fpp = 0.9)
    assert(probe(dirSat) == expect)
  }

  test("exact index append: replays keep the original keep_id, novel fps extend history") {
    val history = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("id", "text")
    val day2 = Seq(
      (20L, "alpha beta"),     // replay — must NOT displace keep_id 10
      (21L, "epsilon zeta")    // novel — joins history
    ).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("exapp").toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    Dedup.appendToExactIndex(spark, dir, day2, "id", "text")
    val day3 = Seq(
      (30L, "alpha beta"),     // dup of original history
      (31L, "epsilon zeta"),   // dup of the APPENDED batch
      (32L, "brand new text")
    ).toDF("id", "text")
    val got = Dedup.dedupExactAgainstIndex(spark, dir, day3, "id", "text")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((30L, Some(10L), true), (31L, Some(21L), true),
      (32L, None, false)), s"got $got")
    // append equals rebuild: the same probe against an index built from
    // scratch over history ∪ day2's novel rows is identical
    val dirFull = java.nio.file.Files.createTempDirectory("exfull").toString + "/idx"
    Dedup.buildExactIndex(
      history.unionByName(day2.filter(col("id") === 21L)), "id", "text", dirFull)
    val full = Dedup.dedupExactAgainstIndex(spark, dirFull, day3, "id", "text")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(full == got)
    // an all-replay append is a no-op (no staged write, sidecar stable)
    val metaBefore = spark.read.parquet(s"$dir/bloom").head()
    Dedup.appendToExactIndex(spark, dir,
      Seq((40L, "alpha beta")).toDF("id", "text"), "id", "text")
    assert(spark.read.parquet(s"$dir/bloom").head() == metaBefore)
    assert(Dedup.dedupExactAgainstIndex(spark, dir, day3, "id", "text")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq == got)
  }

  test("exact index bloom lifecycle: appends saturate, describeIndex sees it, rebuild restores, probes invariant") {
    import graft.operators.IndexFiles
    // undersized by design: sized for 2 fps at 1%, then 200 appended —
    // every append merges at the ORIGINAL sizing, so the fill climbs
    // toward always-positive (correctness-safe; the prune just dies)
    val history = Seq((0L, "seed zero"), (1L, "seed one")).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("exsatl").toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    val batches = (0 until 8).map { b =>
      (0 until 25).map(j => (100L + b * 25 + j, s"batch $b doc $j payload"))
        .toDF("id", "text")
    }
    batches.foreach(Dedup.appendToExactIndex(spark, dir, _, "id", "text"))
    def health(d: String): (Double, Double) = {
      val r = IndexFiles.describeIndex(spark, d)
        .filter(col("table") === "bloom")
        .select("fill_est", "fpp_est").head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (fillSat, fppSat) = health(dir)
    assert(fillSat > 0.9 && fppSat > 0.5,
      s"expected a saturated sidecar, got fill=$fillSat fpp=$fppSat")
    // non-bloom rows carry NULL health
    assert(IndexFiles.describeIndex(spark, dir)
      .filter(col("table") === "fps" && col("fill_est").isNull &&
        col("fpp_est").isNull).count() == 1)
    val probeBatch = Seq(
      (900L, "seed zero"),             // dup of the original build
      (901L, "batch 3 doc 7 payload"), // dup of an appended batch
      (902L, "never seen before")      // novel
    ).toDF("id", "text")
    def probe(d: String) =
      Dedup.dedupExactAgainstIndex(spark, d, probeBatch, "id", "text")
        .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    val before = probe(dir)
    assert(before == Seq((900L, Some(0L), true), (901L, Some(182L), true),
      (902L, None, false)), s"got $before")
    Dedup.rebuildExactSidecar(spark, dir)
    val (fillRe, fppRe) = health(dir)
    assert(fillRe < 0.6 && fppRe < 0.05,
      s"rebuild did not restore sizing: fill=$fillRe fpp=$fppRe")
    // sidecar meta re-sized to the STORED fps count; fps untouched
    val meta = spark.read.parquet(s"$dir/bloom").head()
    assert(meta.getAs[Long]("n_items") == 202L)
    assert(spark.read.parquet(s"$dir/fps").count() == 202L)
    // probe results are exactly what they were, and what a fresh build
    // over the full corpus produces
    assert(probe(dir) == before)
    val dirFresh = java.nio.file.Files.createTempDirectory("exfrsh").toString + "/idx"
    Dedup.buildExactIndex(batches.foldLeft(history)(_ unionByName _),
      "id", "text", dirFresh)
    assert(probe(dirFresh) == before)
  }

  test("containmentPairs: catches the subset duplicate symmetric Jaccard misses") {
    // doc 1 is quoted VERBATIM inside doc 2, which is ~6x longer — the
    // aggregator-wraps-a-feed-item shape. Containment of 1-in-2 is 1.0;
    // Jaccard is ~|A|/|B| and sits far below the same threshold.
    val quoted = "the short original post whose every shingle reappears"
    val wrapper = "aggregator header navigation text goes first here " +
      quoted + " then a long tail of site chrome related links comment " +
      "threads advertising blocks and footer paragraphs that dwarf the " +
      "original quoted material by a factor of several in raw length " +
      "so the symmetric measure dilutes toward zero as the page grows"
    val docs = Seq((1L, quoted), (2L, wrapper),
      (3L, "an unrelated document sharing nothing with either of them"))
      .toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, "doc_id", "text", w = 8, tau = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(c == Seq((1L, 2L, 1.0)), s"got $c") // ordered: 1 in 2, never 2 in 1
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", w = 8, tau = 0.9)
    assert(j.isEmpty, "jaccard at the same threshold should miss the subset pair")
  }

  test("containmentPairs: equals the all-ordered-pairs definition (incl. maxDf cap)") {
    // seeded corpus with partial overlaps and a hot shared suffix so the
    // maxDf cap and the partial-containment (<1.0) regime are exercised
    val rnd = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(30)}").mkString(" ")
    val base = (1L to 12L).map(i => (i, words(25) + " common shared tail across docs"))
    val subset = Seq((21L, base(0)._2.substring(0, 80)),
      (22L, base(1)._2.substring(20, 110)))
    val docs = (base ++ subset).toDF("doc_id", "text")
    val tau = 0.5; val cap = Some(8)
    val sh = Dedup.shingleSetHashed(docs, "doc_id", "text", 8, cap)
    val sz = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))
      .join(sz.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .withColumn("containment", round(col("i").cast("double") / col("sz_a"), 4))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 8, tau, cap)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got.nonEmpty && got.exists(_._3 < 1.0),
      s"corpus should produce partial containments: $got")
    assert(got == brute, s"prefix-filtered result diverged from definition:\n$got\nvs\n$brute")
  }

  test("dropContained: container survives, contained drops, exact-dup ties keep min id") {
    val quoted = "the short original post whose every shingle reappears"
    val wrapper = "aggregator header navigation text goes first here " +
      quoted + " then a long tail of site chrome related links comment " +
      "threads advertising blocks and footer paragraphs beyond it all"
    val docs = Seq(
      (1L, quoted),            // contained in 2 -> dropped
      (2L, wrapper),           // the container -> kept
      (5L, "twin document with identical shingle structure"),
      (4L, "twin document with identical shingle structure"), // exact dup of 5: min id 4 kept
      (9L, "an unrelated document sharing nothing with anything else")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(docs, "doc_id", "text", w = 8, tau = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 9L), s"got $kept")
    // survivors keep their original columns verbatim
    val cols = Dedup.dropContained(docs, "doc_id", "text", w = 8, tau = 0.9).columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("line-df index: sequential feeding equals the batch operator over each prefix union") {
    val history = Seq((1L, "alpha\nfooter"), (2L, "beta\nunique2"))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, "gamma\nfooter"),  // footer: hist 1 + batch 1 -> dropped
      (11L, "alpha\ndelta"))              // alpha crosses with history -> dropped
      .toDF("doc_id", "text")
    val b2 = Seq((20L, "gamma\nepsilon"), // gamma: b1's append + this batch -> dropped
      (21L, "zeta\nzeta two"),
      (22L, "dup\nxx"), (23L, "dup\nyy")) // within-batch boilerplate alone
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("linedf").toString + "/idx"
    Dedup.buildLineDfIndex(history, "doc_id", "text", dir)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toMap
    val out1 = m(Dedup.lineDfAgainstIndex(spark, dir, b1, "doc_id", "text"))
    Dedup.appendToLineDfIndex(spark, dir, b1, "doc_id", "text", "s1")
    val out2 = m(Dedup.lineDfAgainstIndex(spark, dir, b2, "doc_id", "text"))
    Dedup.appendToLineDfIndex(spark, dir, b2, "doc_id", "text", "s2")
    def ref(union: org.apache.spark.sql.DataFrame, ids: Seq[Long]) =
      m(Dedup.dedupLinesAcrossDocs(union, "doc_id", "text")
        .filter(col("id").isin(ids: _*)))
    assert(out1 == ref(history.unionByName(b1), Seq(10L, 11L)), s"got $out1")
    assert(out2 == ref(history.unionByName(b1).unionByName(b2),
      Seq(20L, 21L, 22L, 23L)), s"got $out2")
    // the crossings the corpus plants, by hand
    assert(out1 == Map(10L -> "gamma", 11L -> "delta"))
    assert(out2 == Map(20L -> "epsilon", 21L -> "zeta\nzeta two",
      22L -> "xx", 23L -> "yy"))
    // replayed append of a committed src is a strict no-op
    val before = spark.read.parquet(s"$dir/lines").count()
    Dedup.appendToLineDfIndex(spark, dir, b1, "doc_id", "text", "s1")
    assert(spark.read.parquet(s"$dir/lines").count() == before,
      "replayed src append double-counted df increments")
    // sidecar maintenance: describeIndex surfaces bloom health for this
    // family too, and the rebuild re-sizes to the stored distinct-hash
    // count while leaving every verdict invariant
    val health = graft.operators.IndexFiles.describeIndex(spark, dir)
      .filter(col("table") === "bloom")
    assert(health.count() == 1 && !health.select("fpp_est").head().isNullAt(0))
    Dedup.rebuildLineDfSidecar(spark, dir)
    val meta = spark.read.parquet(s"$dir/bloom").head()
    val distinctH = spark.read.parquet(s"$dir/lines")
      .select("h").distinct().count()
    assert(meta.getAs[Long]("n_items") == distinctH)
    val out2Re = m(Dedup.lineDfAgainstIndex(spark, dir, b2, "doc_id", "text",
      excludeSrc = Some("s2")))
    assert(out2Re == out2, "sidecar rebuild changed a verdict")
  }

  test("containment index: probe equals batch-restricted dropContained on monotone ids; lifecycle holds") {
    val history = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "totally different maritime navigation content here")
    ).toDF("doc_id", "text")
    val b1 = Seq(
      (201L, "beta gamma delta epsilon zeta"),   // substring of 100 -> dropped
      (203L, "completely novel text about cooking recipes and baking"),
      (205L, "twin text that matches its sibling exactly"),
      (207L, "twin text that matches its sibling exactly"), // equal-size twin: min id 205 kept
      (209L, "novel text about cooking"),        // substring of 203 (same batch) -> dropped
      (211L, "totally different maritime navigation content here") // exact copy of history 102: arrival tie -> dropped
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("containidx").toString + "/idx"
    Dedup.buildContainmentIndex(history, "doc_id", "text", dir)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Boolean, Option[Long])].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val out1 = m(Dedup.dropContainedAgainstIndex(spark, dir, b1,
      "doc_id", "text", tau = 0.8))
    assert(out1 == Map(
      201L -> ((true, Some(100L))), 203L -> ((false, None)),
      205L -> ((false, None)), 207L -> ((true, Some(205L))),
      209L -> ((true, Some(203L))), 211L -> ((true, Some(102L)))), s"got $out1")
    // with ids assigned in arrival order, the verdict set equals
    // dropContained over history ∪ batch restricted to the batch
    val unionDropped = {
      val union = history.unionByName(b1)
      val kept = Dedup.dropContained(union, "doc_id", "text", tau = 0.8)
        .select("doc_id").as[Long].collect().toSet
      b1.select("doc_id").as[Long].collect().toSet -- kept
    }
    assert(out1.filter(_._2._1).keySet == unionDropped)
    // survivors-only append; a second batch is judged against them
    val survivors = b1.filter(col("doc_id").isin(203L, 205L))
    Dedup.appendToContainmentIndex(spark, dir, survivors, "doc_id", "text", "s1")
    val b2 = Seq(
      (301L, "text about cooking recipes"),      // inside appended survivor 203
      (305L, "entirely fresh subject matter with no overlap at all")
    ).toDF("doc_id", "text")
    val out2 = m(Dedup.dropContainedAgainstIndex(spark, dir, b2,
      "doc_id", "text", tau = 0.8))
    assert(out2 == Map(301L -> ((true, Some(203L))),
      305L -> ((false, None))), s"got $out2")
    // replayed append is an id-guarded no-op
    val before = spark.read.parquet(s"$dir/shingles").count()
    Dedup.appendToContainmentIndex(spark, dir, survivors, "doc_id", "text", "s1b")
    assert(spark.read.parquet(s"$dir/shingles").count() == before,
      "replayed append doubled shingle rows")
    // sidecar telemetry + rebuild leaves every verdict invariant
    val health = graft.operators.IndexFiles.describeIndex(spark, dir)
    assert(health.filter(col("table") === "bloom")
      .select("fpp_est").head().getDouble(0) > 0)
    assert(Set("shingles", "sizes", "ids").subsetOf(
      health.select("table").as[String].collect().toSet))
    Dedup.rebuildContainmentSidecar(spark, dir)
    val meta = spark.read.parquet(s"$dir/bloom").head()
    assert(meta.getAs[Long]("n_items") ==
      spark.read.parquet(s"$dir/shingles").select("sh").distinct().count())
    assert(m(Dedup.dropContainedAgainstIndex(spark, dir, b2,
      "doc_id", "text", tau = 0.8)) == out2, "sidecar rebuild changed a verdict")
    // takedown path: tombstone history container 100 — probes stop
    // matching it immediately; compaction purges physically with the
    // same verdicts (extra bloom bits only cost verified-away candidates)
    val probe401 = Seq((401L, "beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    IndexFiles.writeTombstones(Seq(100L).toDF("id"), dir)
    val afterDel = m(Dedup.dropContainedAgainstIndex(spark, dir, probe401,
      "doc_id", "text", tau = 0.8))
    assert(afterDel == Map(401L -> ((false, None))), s"got $afterDel")
    Dedup.compactContainmentIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/shingles")
      .filter(col("id") === 100L).count() == 0, "compaction left dead rows")
    assert(m(Dedup.dropContainedAgainstIndex(spark, dir, probe401,
      "doc_id", "text", tau = 0.8)) == afterDel,
      "compaction changed a verdict")
    // an in-place REBUILD starts a fresh history: a prior generation's
    // tombstone must not survive to anti-join a rebuilt doc (with a
    // recycled id) out of the container set — the buildExactIndex rule
    IndexFiles.writeTombstones(Seq(100L).toDF("id"), dir)
    Dedup.buildContainmentIndex(history, "doc_id", "text", dir)
    assert(!new java.io.File(s"$dir/deleted").exists(),
      "rebuild left the previous generation's tombstones")
    assert(m(Dedup.dropContainedAgainstIndex(spark, dir, probe401,
      "doc_id", "text", tau = 0.8)) == Map(401L -> ((true, Some(100L)))),
      "rebuilt doc 100 no longer matches as a container")
  }

  test("dedupLinesAcrossDocs: doc-frequency boilerplate dropped, intra-doc repeats kept") {
    val docs = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "other line\nBOILER\nmore text"),   // BOILER df=2 -> dropped
      (3L, "solo\nsolo\nunique three"),        // same-doc repeat: df=1 -> KEPT twice
      (4L, "BOILER"),                          // fully boilerplate -> ''
      (5L, "")                                 // empty line: df(='' )? only doc 5 -> kept
    ).toDF("id", "text")
    val out = Dedup.dedupLinesAcrossDocs(docs, "id", "text", minDf = 2)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "keep one\nkeep two",
      2L -> "other line\nmore text",
      3L -> "solo\nsolo\nunique three",
      4L -> "",
      5L -> ""), s"got $out")
    // raising minDf above any df keeps everything verbatim
    val loose = Dedup.dedupLinesAcrossDocs(docs, "id", "text", minDf = 99)
      .as[(Long, String)].collect().toMap
    assert(loose(1L) == "keep one\nBOILER\nkeep two" && loose(4L) == "BOILER")
  }

  test("retireExactSrc / retireExactWindow: a segment's first-sightings re-admit; bloom and tombstones follow") {
    val history = Seq((10L, "alpha text"), (11L, "beta text"))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("exret")
      .toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    Dedup.appendToExactIndex(spark,
      dir, Seq((20L, "gamma text"), (21L, "alpha text")).toDF("id", "text"),
      "id", "text", "d1")
    Dedup.appendToExactIndex(spark,
      dir, Seq((30L, "delta text")).toDF("id", "text"), "id", "text", "d2")
    def probe(rows: (Long, String)*) =
      Dedup.dedupExactAgainstIndex(spark, dir, rows.toSeq.toDF("id", "text"),
          "id", "text")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> r._2).toMap
    // tombstone one base text and the d1 first-sighting before retiring
    Dedup.deleteFromExactIndex(spark, dir,
      Seq("beta text", "gamma text").toDF("text"), "text")
    IndexFamily.exact.retireSrcs(spark, dir, Seq("d1"))
    // gamma's FIRST sighting lived in d1 → re-admittable (and its
    // tombstone left with it); alpha's first sighting is base — the d1
    // re-ingest stored nothing, so alpha still matches; beta's
    // tombstone survives (its row is stored in base)
    assert(probe((40L, "gamma text"), (41L, "alpha text"),
      (42L, "beta text"), (43L, "delta text"))
      == Map(40L -> None, 41L -> Some(10L), 42L -> None, 43L -> Some(30L)))
    val dead = spark.read.parquet(s"$dir/deleted_fps")
      .select("keep_id").as[Long].collect().toSet
    assert(dead == Set(11L), s"tombstones after retire: $dead")
    // the bloom rebuilt to the live survivor count (it UNSATURATED)
    assert(spark.read.parquet(s"$dir/bloom").head()
      .getAs[Long]("n_items") == 2L, "bloom not rebuilt from live survivors")
    // re-appending the retired text stores a fresh first-sighting
    Dedup.appendToExactIndex(spark,
      dir, Seq((50L, "gamma text")).toDF("id", "text"), "id", "text", "d3")
    assert(probe((40L, "gamma text")) == Map(40L -> Some(50L)))
    // window: keep the newest appended segment — d2 ages out; steady
    // state is a no-op; zero-yield strict=false no-op
    assert(IndexFamily.exact.retireWindow(spark, dir, keep = 1) == Seq("d2"))
    assert(IndexFamily.exact.retireWindow(spark, dir, keep = 1).isEmpty)
    IndexFamily.exact.retireSrcs(spark, dir, Seq("never-there"), strict = false)
    assert(probe((43L, "delta text"), (40L, "gamma text"))
      == Map(43L -> None, 40L -> Some(50L)))
  }

  test("exact-index takedown: tombstoned texts re-admit, re-ingests go live, compact purges") {
    val history = Seq((10L, "the quick brown fox"), (13L, "lorem ipsum dolor"))
      .toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("exdel")
      .toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    def probe(rows: (Long, String)*) =
      Dedup.dedupExactAgainstIndex(spark, dir, rows.toSeq.toDF("id", "text"),
          "id", "text")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(probe((20L, "the quick brown fox"))
      == Map(20L -> ((Some(10L), true))))
    // takedown resolves through normalization; the text reads unseen
    Dedup.deleteFromExactIndex(spark, dir,
      Seq("THE  QUICK  Brown fox ").toDF("text"), "text")
    assert(probe((20L, "the quick brown fox"))
      == Map(20L -> ((None, false))), "tombstoned text still matched")
    assert(probe((21L, "lorem ipsum dolor"))
      == Map(21L -> ((Some(13L), true))), "unrelated fp lost")
    // re-ingest under a new id: a fresh LIVE row the tombstone misses
    Dedup.appendToExactIndex(spark, dir,
      Seq((30L, "the quick brown fox")).toDF("id", "text"), "id", "text")
    assert(probe((20L, "the quick brown fox"))
      == Map(20L -> ((Some(30L), true))), "re-ingested text not matched live")
    assert(spark.read.parquet(s"$dir/fps")
      .filter(col("keep_id").isin(10L, 30L)).count() == 2,
      "expected dead + live rows before compaction")
    // sidecar rebuild sizes to the LIVE rows only
    Dedup.rebuildExactSidecar(spark, dir)
    assert(spark.read.parquet(s"$dir/bloom").head()
      .getAs[Long]("n_items") == 2L)
    // compaction purges the dead row, drops the tombstones, and leaves
    // every verdict invariant
    Dedup.compactExactIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/fps").count() == 2)
    assert(!new java.io.File(s"$dir/deleted_fps").exists())
    assert(probe((20L, "the quick brown fox"), (22L, "wholly novel words"))
      == Map(20L -> ((Some(30L), true)), 22L -> ((None, false))))
    // a takedown matching nothing stored is a no-op (no tombstone table)
    Dedup.deleteFromExactIndex(spark, dir,
      Seq("never stored anywhere").toDF("text"), "text")
    assert(!new java.io.File(s"$dir/deleted_fps").exists())
    // re-ingesting a taken-down (text, keep_id) PAIR before compaction
    // is loud — the row would be dead on arrival
    Dedup.deleteFromExactIndex(spark, dir,
      Seq("lorem ipsum dolor").toDF("text"), "text")
    val doa = intercept[IllegalArgumentException] {
      Dedup.appendToExactIndex(spark, dir,
        Seq((13L, "lorem ipsum dolor")).toDF("id", "text"), "id", "text")
    }
    assert(doa.getMessage.contains("taken-down"), doa.getMessage)
    // a REBUILD starts a fresh history: stale tombstones must not
    // re-kill texts the new corpus legitimately contains
    Dedup.buildExactIndex(history, "id", "text", dir)
    assert(!new java.io.File(s"$dir/deleted_fps").exists(),
      "rebuild left the previous generation's tombstones")
    assert(probe((21L, "lorem ipsum dolor"))
      == Map(21L -> ((Some(13L), true))))
    // compacting a takedown that covers EVERY stored fp is loud, not a
    // bricked empty table
    val dir2 = java.nio.file.Files.createTempDirectory("exdel2")
      .toString + "/idx"
    Dedup.buildExactIndex(Seq((1L, "only text")).toDF("id", "text"),
      "id", "text", dir2)
    Dedup.deleteFromExactIndex(spark, dir2,
      Seq("only text").toDF("text"), "text")
    val emptied = intercept[IllegalArgumentException] {
      Dedup.compactExactIndex(spark, dir2)
    }
    assert(emptied.getMessage.contains("drop and rebuild"),
      emptied.getMessage)
  }

  test("retire*Window: oldest segments age out lexically, base survives, steady state is a no-op") {
    val docs0 = Seq((1L, "alpha\nfooter"), (2L, "beta\nunique2"))
      .toDF("doc_id", "text")
    def day(i: Int) = Seq((10L + i, s"gamma$i\nfooter"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ldwin")
      .toString + "/idx"
    Dedup.buildLineDfIndex(docs0, "doc_id", "text", dir)
    Seq(1, 2, 3).foreach(i =>
      Dedup.appendToLineDfIndex(spark, dir, day(i), "doc_id", "text", s"d$i"))
    // keep the newest 2 appended days: only d1 ages out
    assert(IndexFamily.linedf.retireWindow(spark, dir, keep = 2) == Seq("d1"))
    // steady state: the window already fits — scheduled job no-ops
    assert(IndexFamily.linedf.retireWindow(spark, dir, keep = 2).isEmpty)
    // keep = 0 empties the appended history; base is never touched
    assert(IndexFamily.linedf.retireWindow(spark, dir, keep = 0) == Seq("d2", "d3"))
    val probe = Seq((30L, "alpha\nnovel")).toDF("doc_id", "text")
    assert(Dedup.lineDfAgainstIndex(spark, dir, probe, "doc_id", "text")
      .as[(Long, String)].collect().toMap == Map(30L -> "novel"),
      "base segment's df lost after windowing")
    // same driver shape over the minhash family
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val mdir = java.nio.file.Files.createTempDirectory("mhwin")
      .toString + "/idx"
    Dedup.buildMinhashIndex(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", mdir)
    Seq(1, 2).foreach(i => Dedup.appendToMinhashIndex(spark, mdir,
      Seq((10L + i, base.replace("quick", s"rapid$i")))
        .toDF("doc_id", "text"),
      "doc_id", "text", s"d$i"))
    assert(IndexFamily.minhash.retireWindow(spark, mdir, keep = 1) == Seq("d1"))
    assert(spark.read.parquet(s"$mdir/ids").as[Long].collect().toSet
      == Set(1L, 12L), "window retire did not rebuild the ids sidecar")
  }

  test("rolling-window retirement: a retired segment stops counting, re-admits, and regrows budgets") {
    // line-df: gamma's history df comes only from segment s1
    val histL = Seq((1L, "alpha\nfooter"), (2L, "beta\nunique2"))
      .toDF("doc_id", "text")
    val s1L = Seq((10L, "gamma\nfooter"), (11L, "gamma\nother"))
      .toDF("doc_id", "text")
    val dirL = java.nio.file.Files.createTempDirectory("ldret")
      .toString + "/idx"
    Dedup.buildLineDfIndex(histL, "doc_id", "text", dirL)
    Dedup.appendToLineDfIndex(spark, dirL, s1L, "doc_id", "text", "s1")
    val probeL = Seq((30L, "gamma\nnovel")).toDF("doc_id", "text")
    def mL() = Dedup.lineDfAgainstIndex(spark, dirL, probeL,
      "doc_id", "text").as[(Long, String)].collect().toMap
    assert(mL() == Map(30L -> "novel"), "gamma should be boilerplate with s1 live")
    IndexFamily.linedf.retireSrcs(spark, dirL, Seq("s1"))
    assert(mL() == Map(30L -> "gamma\nnovel"),
      "retired segment still contributed to the history df")
    // sidecar re-sized to the survivors (unsaturation is part of retire)
    assert(spark.read.parquet(s"$dirL/bloom").head().getAs[Long]("n_items")
      == spark.read.parquet(s"$dirL/lines").select("h").distinct().count())
    // the retired src is appendable again (re-crawl), restoring the df
    Dedup.appendToLineDfIndex(spark, dirL, s1L, "doc_id", "text", "s1")
    assert(mL() == Map(30L -> "novel"), "re-appended segment not counted")
    // typo'd tag and emptying the table are loud
    intercept[IllegalArgumentException] {
      IndexFamily.linedf.retireSrcs(spark, dirL, Seq("never-appended")) }
    IndexFamily.linedf.retireSrcs(spark, dirL, Seq("s1"))
    intercept[IllegalArgumentException] {
      IndexFamily.linedf.retireSrcs(spark, dirL, Seq("base")) }

    // containment: the only container of the probe lives in segment s1
    val histC = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val s1C = Seq(
      (203L, "completely novel text about cooking recipes and baking"))
      .toDF("doc_id", "text")
    val dirC = java.nio.file.Files.createTempDirectory("ctret")
      .toString + "/idx"
    Dedup.buildContainmentIndex(histC, "doc_id", "text", dirC)
    Dedup.appendToContainmentIndex(spark, dirC, s1C, "doc_id", "text", "s1")
    val probeC = Seq((301L, "text about cooking recipes"))
      .toDF("doc_id", "text")
    def mC() = Dedup.dropContainedAgainstIndex(spark, dirC, probeC,
      "doc_id", "text", tau = 0.8)
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(mC() == Map(301L -> ((true, Some(203L)))))
    IndexFamily.containment.retireSrcs(spark, dirC, Seq("s1"))
    assert(mC() == Map(301L -> ((false, None))),
      "retired container still claimed the probe")
    // ids sidecar rebuilt from survivors: 203 is re-admittable
    assert(spark.read.parquet(s"$dirC/ids").as[Long].collect().toSet
      == Set(100L))
    assert(spark.read.parquet(s"$dirC/bloom").head().getAs[Long]("n_items")
      == spark.read.parquet(s"$dirC/shingles").select("sh").distinct().count())
    Dedup.appendToContainmentIndex(spark, dirC, s1C, "doc_id", "text", "s1")
    assert(mC() == Map(301L -> ((true, Some(203L)))),
      "re-appended segment not judged against")

    // minhash: the probe's only near-dup lives in segment s1; after
    // retirement the index must answer bit-equal to one that never saw
    // it, the retired doc must re-append cleanly, and a tombstone whose
    // doc left with the segment must not survive to kill the re-ingest
    val dirM = java.nio.file.Files.createTempDirectory("mhret")
      .toString + "/idx"
    val dirMBase = java.nio.file.Files.createTempDirectory("mhretb")
      .toString + "/idx"
    // doc 3 (near-dup of the probe) stays, so the post-retire compare
    // is non-vacuous: survivor pairs must match bit-for-bit
    val histM = docs.filter(col("doc_id") >= 3L)
    val s1M = Seq((20L, base.replace("quick", "rapid")))
      .toDF("doc_id", "text")
    Dedup.buildMinhashIndex(histM, "doc_id", "text", dirM)
    Dedup.appendToMinhashIndex(spark, dirM, s1M, "doc_id", "text", "s1")
    val probeM = Seq((30L, base)).toDF("doc_id", "text")
    def pairsM(d: String) =
      Dedup.dedupAgainstIndex(spark, d, probeM, "doc_id", "text", tau = 0.5)
        .select("id_new", "id_old", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    assert(pairsM(dirM).exists(_._2 == 20L), "appended segment not matched")
    IndexFiles.writeTombstones(Seq(20L).toDF("id"), dirM)
    IndexFamily.minhash.retireSrcs(spark, dirM, Seq("s1"))
    Dedup.buildMinhashIndex(histM, "doc_id", "text", dirMBase)
    assert(pairsM(dirM) == pairsM(dirMBase),
      "retired minhash index != never-appended index")
    assert(spark.read.parquet(s"$dirM/ids").as[Long].collect().toSet
      == Set(3L, 4L, 5L), "ids sidecar not rebuilt from survivors")
    assert(pairsM(dirM).exists(_._2 == 3L),
      "survivor near-dup pair lost in retirement")
    // the segment's tombstone left with it — re-append restores matches
    Dedup.appendToMinhashIndex(spark, dirM, s1M, "doc_id", "text", "s1")
    assert(pairsM(dirM).exists(_._2 == 20L),
      "re-appended doc unmatched — a stale tombstone outlived the retire")
    intercept[IllegalArgumentException] {
      IndexFamily.minhash.retireSrcs(spark, dirM, Seq("never-appended")) }
    IndexFamily.minhash.retireSrcs(spark, dirM, Seq("never-appended"), strict = false)
    IndexFamily.minhash.retireSrcs(spark, dirM, Seq("s1"))
    intercept[IllegalArgumentException] {
      IndexFamily.minhash.retireSrcs(spark, dirM, Seq("base")) }

    // domain-cap ledger: a.com's budget regenerates when s0 ages out
    val dirD = java.nio.file.Files.createTempDirectory("dcret").toString
    Dedup.initDomainCapLedger(spark, dirD, n = 2)
    val b0 = Seq((1L, "http://a.com/x", 10L), (2L, "http://a.com/y", 20L))
      .toDF("id", "url", "q")
    Dedup.appendToDomainCapLedger(spark, dirD,
      Dedup.capAgainstLedger(spark, dirD, b0, "id", "url", "q"), "s0")
    val b1 = Seq((5L, "http://a.com/new", 99L)).toDF("id", "url", "q")
    def admitted() = Dedup.capAgainstLedger(spark, dirD, b1,
      "id", "url", "q").select("admitted").as[Boolean].head()
    assert(!admitted(), "a.com should be saturated before retirement")
    IndexFamily.domainCap.retireSrcs(spark, dirD, Seq("s0"))
    assert(admitted(), "retired segment still spent the domain budget")
    intercept[IllegalArgumentException] {
      IndexFamily.domainCap.retireSrcs(spark, dirD, Seq("s0")) } // already gone: loud
    // strict = false: a zero-yield day's absent segment retires as a
    // no-op — the scheduled rolling-window job never crashes on it
    IndexFamily.domainCap.retireSrcs(spark, dirD, Seq("s0"), strict = false)
    IndexFamily.linedf.retireSrcs(spark, dirL, Seq("zero-yield-day"), strict = false)
    IndexFamily.containment.retireSrcs(spark, dirC, Seq("zero-yield-day"),
      strict = false)
    assert(admitted(), "strict=false no-op changed ledger state")
  }

  test("cosineDedupAgainstIndex: best stored neighbor at tau through the LSH index lifecycle") {
    import graft.operators.Ann
    val dir = java.nio.file.Files.createTempDirectory("cosidx").toString + "/idx"
    def e(i: Int) = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    Ann.buildLshIndex(Seq((1L, e(0)), (2L, e(1))).toDF("id", "v"), dir,
      dim = 4, planes = 1, tables = 2)
    def probe(rows: Seq[(Long, Seq[Double])], tau: Double = 0.9) =
      Dedup.cosineDedupAgainstIndex(spark, dir,
          rows.toDF("id", "v"), "id", "v", tau)
        .as[(Long, Option[Long], Option[Double], Boolean)]
        .collect().map(r => r._1 -> r).toMap
    // an identical vector shares every table's bucket — guaranteed hit
    val out = probe(Seq((10L, e(0)), (12L, e(2))))
    assert(out(10L) == ((10L, Some(1L), Some(1.0), true)), s"got ${out(10L)}")
    // a vector with no stored neighbor at tau stays admitted (NULLs)
    assert(out(12L) == ((12L, None, None, false)), s"got ${out(12L)}")
    // an appended segment joins the admission net...
    Ann.appendToLshIndex(spark, dir, Seq((3L, e(2))).toDF("id", "v"), "d1")
    val after = probe(Seq((13L, e(2))))
    assert(after(13L) == ((13L, Some(3L), Some(1.0), true)), s"got $after")
    // ...and a tombstoned id leaves it
    IndexFiles.writeTombstones(Seq(1L).toDF("id"), dir)
    val gone = probe(Seq((10L, e(0))))
    assert(gone(10L)._4 == false && gone(10L)._2.isEmpty, s"got $gone")
  }
}
