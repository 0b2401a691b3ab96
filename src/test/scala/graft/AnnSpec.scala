package graft

import org.apache.spark.sql.catalyst.expressions.DynamicPruning
import org.apache.spark.sql.functions._
import graft.operators.{Ann, IndexFamily, IndexFiles}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private lazy val corpus = (1 to 200).map { i =>
    (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17)))
  }.toDF("id", "v").cache()
  private lazy val qs = (1 to 5).map { i =>
    (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17)))
  }.toDF("qid", "qv")

  test("bruteForceTopK: self is rank 1 under cosine; k rows per query") {
    val out = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "cosine")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    (1 to 5).foreach { q =>
      val mine = out.filter(_._1 == q)
      assert(mine.length == 10)
      assert(mine.find(_._3 == 1).get._2 == q.toLong) // exact self-match first
    }
  }

  test("l2 and ip metrics run and rank deterministically") {
    val ip = Ann.bruteForceTopK(corpus, qs, k = 3, metric = "ip").count()
    val l2 = Ann.bruteForceTopK(corpus, qs, k = 3, metric = "l2").count()
    assert(ip == 15 && l2 == 15)
  }

  test("lshTopK: recall@10 vs exact is reasonable on clustered data") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(corpus, qs, k = 10, dim = dim, planes = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect lsh).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall too low")
    assert(lsh.subsetOf(lsh ++ exact))
  }

  test("lshTopK: multi-table OR-construction lifts recall@10 to >= 0.8") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val single = Ann.lshTopK(corpus, qs, k = 10, dim = dim, planes = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val multi = Ann.lshTopK(corpus, qs, k = 10, dim = dim, planes = 4, tables = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val rSingle = (exact intersect single).size.toDouble / exact.size
    val rMulti = (exact intersect multi).size.toDouble / exact.size
    assert(rMulti >= 0.8, s"multi-table recall $rMulti below 0.8")
    assert(rMulti >= rSingle, s"multi $rMulti worse than single $rSingle")
  }

  test("recallAtK: identical results score 1.0; disjoint score 0 and still report") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
    val perfect = Ann.recallAtK(exact, exact, k = 10)
      .select("qid", "exact_n", "n_hits", "recall")
      .as[(Long, Long, Long, Double)].collect()
    assert(perfect.length == 5)
    assert(perfect.forall { case (_, n, h, r) => n == 10 && h == 10 && r == 1.0 })
    // an approx side that found NOTHING for any query must still yield
    // one row per query (recall 0), not silently drop them
    val empty = exact.filter(lit(false))
    val lost = Ann.recallAtK(empty, exact, k = 10)
      .select("qid", "n_hits", "recall").as[(Long, Long, Double)].collect()
    assert(lost.length == 5 && lost.forall { case (_, h, r) => h == 0 && r == 0.0 })
  }

  test("recallAtK: only ranks <= k count on either side") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
    // approx = the exact TAIL (ranks 6..10 re-ranked 1..5): half the set
    val tail = exact.filter(col("rank") > 5)
      .withColumn("rank", col("rank") - 5)
    val half = Ann.recallAtK(tail, exact, k = 10)
      .select("qid", "n_hits", "recall").as[(Long, Long, Double)].collect()
    assert(half.forall { case (_, h, r) => h == 5 && r == 0.5 })
  }

  test("mrrAtK: first true hit's rank graded; lost queries report 0; rank>k ignored") {
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
        (2L, 20L, 1L), (2L, 21L, 2L))
      .toDF("qid", "id", "rank")
    // qid 1: first true neighbor surfaces at approx rank 2 -> rr 0.5;
    // qid 2: nothing relevant in the approx list -> rr 0; the rank-99
    // hit for qid 2 sits beyond k and must not count
    val approx = Seq((1L, 99L, 1L), (1L, 11L, 2L), (1L, 10L, 3L),
        (2L, 98L, 1L), (2L, 20L, 99L))
      .toDF("qid", "id", "rank")
    val byQ = Ann.mrrAtK(approx, exact, k = 10)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byQ == Map(1L -> ((2L, 0.5)), 2L -> ((0L, 0.0))), s"got $byQ")
    // identical sides: every rr is 1.0
    val perfect = Ann.mrrAtK(exact, exact, k = 10)
      .as[(Long, Long, Double)].collect()
    assert(perfect.forall(r => r._2 == 1L && r._3 == 1.0))
  }

  test("mineHardNegatives: below-threshold, never self, ranks contiguous") {
    val dupT = 0.9
    val out = Ann.mineHardNegatives(corpus, qs, k = 7, dupThreshold = dupT)
      .select("qid", "id", "score", "neg_rank")
      .as[(Long, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (q, i, s, _) => i != q && s < dupT })
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 7)
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // negatives are the TOP of the sub-threshold band: nothing below
    // the worst mined negative may outscore it (per anchor)
    val all = Ann.mineHardNegatives(corpus, qs, k = 1000, dupThreshold = dupT)
      .select("qid", "score").as[(Long, Double)].collect()
    out.groupBy(_._1).foreach { case (q, rows) =>
      val mined = rows.map(_._3).min
      val unmined = all.filter(_._1 == q).map(_._2).sorted(Ordering[Double].reverse)
        .drop(rows.length)
      assert(unmined.forall(_ <= mined))
    }
  }

  test("tuneNprobe: doubling sweep, monotone recall, stops at first clear, full probe hits 1.0") {
    val dir = java.nio.file.Files.createTempDirectory("tune").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 8)
    val sweep = Ann.tuneNprobe(spark, dir, qs, k = 10, targetRecall = 1.0)
      .as[(Int, Double, Boolean)].collect().toSeq
    assert(sweep.nonEmpty)
    // nprobe doubles from 1 (capped at nlist)
    assert(sweep.map(_._1) == Seq(1, 2, 4, 8).take(sweep.length), s"$sweep")
    // probing more cells only ADDS candidates: recall monotone
    assert(sweep.map(_._2).sliding(2).forall(s =>
      s.length < 2 || s(0) <= s(1)), s"recall not monotone: $sweep")
    // only the LAST row may clear the target (stop-at-first-clear)
    assert(sweep.init.forall(!_._3), s"$sweep")
    // at full probe the index answers itself exactly
    assert(sweep.last._2 == 1.0 && sweep.last._3, s"$sweep")
    // a target the first step already clears yields a one-row sweep
    // (every anchor is a corpus row, so nprobe=1 finds at least itself)
    assert(Ann.tuneNprobe(spark, dir, qs, k = 10,
      targetRecall = 0.01).count() == 1)
    intercept[IllegalArgumentException] {
      Ann.tuneNprobe(spark, dir, qs, k = 10, targetRecall = 0.0)
    }
  }

  test("tuneLshTables: tables double, recall monotone, stop at first clear; superset property holds per step") {
    val sweep = Ann.tuneLshTables(corpus, qs, k = 10, dim = dim,
        planes = 4, targetRecall = 1.0, maxTables = 8)
      .as[(Int, Double, Boolean)].collect().toSeq
    assert(sweep.nonEmpty)
    assert(sweep.map(_._1) == Seq(1, 2, 4, 8).take(sweep.length), s"$sweep")
    // OR-construction: more tables only ADD candidates — recall monotone
    assert(sweep.map(_._2).sliding(2).forall(s =>
      s.length < 2 || s(0) <= s(1)), s"recall not monotone: $sweep")
    // stop-at-first-clear: only the last row may meet the target
    assert(sweep.init.forall(!_._3), s"$sweep")
    // the multi-table recall floor the docstring promises on this corpus
    // (the lshTopK multi-table test's own bar)
    assert(sweep.last._2 >= 0.8, s"final recall too low: $sweep")
    // a trivially-met target yields the one-row sweep
    assert(Ann.tuneLshTables(corpus, qs, k = 10, dim = dim, planes = 4,
      targetRecall = 0.01, maxTables = 8).count() == 1)
    // the monotonicity MECHANISM: each step's hit set contains the
    // previous step's (candidate supersets, same ranking order)
    val hits = Seq(1, 2, 4).map(t =>
      Ann.lshTopK(corpus, qs, k = 10, dim = dim, planes = 4, tables = t)
        .select("qid", "id").as[(Long, Long)].collect().toSet)
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    hits.sliding(2).foreach {
      case Seq(a, b) => assert((a intersect exact).subsetOf(b intersect exact),
        "a table step LOST a true neighbor the smaller net had")
      case _ => ()
    }
    intercept[IllegalArgumentException] {
      Ann.tuneLshTables(corpus, qs, k = 10, dim = dim, planes = 4,
        targetRecall = 1.5)
    }
  }

  test("advisorReport: decision arithmetic — recall floor, drift floor, NULL centroid_cos always retrains") {
    def recallDf(r: Double) = Seq((1L, 10L, 10L, r)).toDF(
      "qid", "exact_n", "n_hits", "recall")
    def driftDf(cos: java.lang.Double) = Seq(
        (5L, 7L, 0.01, cos)).toDF(
      "n_old", "n_new", "norm_delta", "centroid_cos")
    def decide(r: Double, cos: java.lang.Double, rf: Double, df: Double) =
      Ann.advisorReport(recallDf(r), driftDf(cos), rf, df)
        .select("should_retrain").as[Boolean].head()
    assert(!decide(0.95, 0.999, rf = 0.9, df = 0.99)) // both healthy
    assert(decide(0.85, 0.999, rf = 0.9, df = 0.99)) // recall under floor
    assert(decide(0.95, 0.95, rf = 0.9, df = 0.99)) // drift under floor
    assert(decide(0.95, null, rf = 0.9, df = 0.99),
      "a NULL centroid_cos (embedding width changed) must retrain")
    // the echoed floors and counts land in the report row
    val row = Ann.advisorReport(recallDf(0.5), driftDf(0.9), 0.9, 0.99)
      .select("recall_now", "recall_floor", "drift_floor", "n_stored",
        "n_fresh")
      .as[(Double, Double, Double, Long, Long)].head()
    assert(row == ((0.5, 0.9, 0.99, 5L, 7L)), s"got $row")
    intercept[IllegalArgumentException] {
      Ann.advisorReport(recallDf(0.5), driftDf(0.9), 0.0, 0.5)
    }
  }

  test("retrainAdvisor: quiet on a healthy index, fires on a drifted append, quiet again after retrainIvfIndex") {
    def vec(i: Long, shift: Double) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val first = (1L to 150L).map(i => (i, vec(i, 0.0))).toDF("id", "v")
    val drifted = (151L to 300L).map(i => (i, vec(i, 2.5))).toDF("id", "v")
    val qsDrift = (151L to 155L).map(i => (i, vec(i, 2.5))).toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("advisor")
      .toString + "/idx"
    Ann.buildIvfIndex(first, dir, nlist = 8)
    def advise(fresh: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame, nprobe: Int) =
      Ann.retrainAdvisor(spark, dir, fresh, queries, k = 10,
          recallFloor = 0.8, driftFloor = 0.95, nprobe = nprobe)
        .select("recall_now", "centroid_cos", "should_retrain")
        .as[(Double, Double, Boolean)].head()
    // healthy: fresh vectors ARE the indexed distribution (centroid_cos
    // exactly 1.0), full probe (recall exactly 1.0) — advisor quiet
    val healthy = advise(first,
      (1L to 5L).map(i => (i, vec(i, 0.0))).toDF("qid", "qv"), nprobe = 8)
    assert(healthy == ((1.0, 1.0, false)),
      s"advisor fired on a healthy index: $healthy")
    // the drifted batch lands; fresh vectors now come from the SHIFTED
    // distribution — the advisor must fire (centroid drift at least;
    // recall at the production nprobe typically degrades too)
    Ann.appendToIvfIndex(spark, dir, drifted)
    val driftedReport = advise(drifted, qsDrift, nprobe = 2)
    assert(driftedReport._3,
      s"advisor silent on a drifted index: $driftedReport")
    assert(driftedReport._2 < 0.95,
      s"centroid_cos did not register the shift: $driftedReport")
    // retrain repairs the codebook; the advisor is judged against the
    // RETRAINED stored distribution (which now includes the drifted
    // half), so fresh draws from it read as stationary again
    Ann.retrainIvfIndex(spark, dir)
    val after = advise(first.union(drifted), qsDrift, nprobe = 8)
    assert(after == ((1.0, 1.0, false)),
      s"advisor still firing after retrain: $after")
    // the recall half alone can fire it: a drift floor of 0 silences
    // the drift arm, so the decision is exactly recall_now < floor
    val recallNow = Ann.retrainAdvisor(spark, dir,
        first.union(drifted), qsDrift, k = 10, recallFloor = 1.0,
        driftFloor = 0.0, nprobe = 1)
      .select("recall_now", "should_retrain").as[(Double, Boolean)].head()
    assert(recallNow._2 == (recallNow._1 < 1.0),
      s"recall floor not applied: $recallNow")
    // a precomputed exact reference (the cron-amortization path) gives
    // the identical report
    val ref = Ann.searchIvfIndex(spark, dir, qsDrift, k = 10, nprobe = 8)
    val viaRef = Ann.retrainAdvisor(spark, dir, first.union(drifted),
        qsDrift, k = 10, recallFloor = 1.0, driftFloor = 0.0, nprobe = 1,
        reference = Some(ref))
      .select("recall_now", "should_retrain").as[(Double, Boolean)].head()
    assert(viaRef == recallNow,
      s"reference-frame advisor diverged: $viaRef vs $recallNow")
    // an EMPTY fresh batch (a quiet crawl day) is no drift — without
    // the n = 0 arm the empty centroid would read as NULL centroid_cos
    // and the width-change rule would fire the advisor spuriously
    val quietDay = Ann.retrainAdvisor(spark, dir,
        Seq.empty[(Long, Seq[Double])].toDF("id", "v"), qsDrift, k = 10,
        recallFloor = 0.1, driftFloor = 0.95, nprobe = 8)
      .select("centroid_cos", "n_fresh", "should_retrain")
      .as[(Double, Long, Boolean)].head()
    assert(quietDay == ((1.0, 0L, false)),
      s"advisor fired on an empty fresh batch: $quietDay")
  }

  test("retrainAdvisorIvfPq: quiet on healthy, fires on a drifted append, quiet after retrainIvfPqIndex") {
    def vec(i: Long, shift: Double) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val first = (1L to 150L).map(i => (i, vec(i, 0.0))).toDF("id", "v")
    val drifted = (151L to 300L).map(i => (i, vec(i, 2.5))).toDF("id", "v")
    val qsDrift = (151L to 155L).map(i => (i, vec(i, 2.5))).toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("advisorpq")
      .toString + "/idx"
    Ann.buildIvfPqIndex(first, dir, nlist = 8, m = 4, ksub = 8)
    def advise(fresh: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame, nprobe: Int) =
      Ann.retrainAdvisorIvfPq(spark, dir, fresh, queries, k = 10,
          recallFloor = 0.8, driftFloor = 0.95, nprobe = nprobe)
        .select("recall_now", "centroid_cos", "should_retrain")
        .as[(Double, Double, Boolean)].head()
    val healthy = advise(first,
      (1L to 5L).map(i => (i, vec(i, 0.0))).toDF("qid", "qv"), nprobe = 8)
    assert(healthy == ((1.0, 1.0, false)),
      s"PQ advisor fired on a healthy index: $healthy")
    Ann.appendToIvfPqIndex(spark, dir, drifted)
    val fired = advise(drifted, qsDrift, nprobe = 2)
    assert(fired._3 && fired._2 < 0.95,
      s"PQ advisor silent on a drifted index: $fired")
    // the PQ retrain re-fits BOTH codebooks and re-records train_stats
    // — the advisor is judged against the retrained distribution
    Ann.retrainIvfPqIndex(spark, dir, first.union(drifted))
    val after = advise(first.union(drifted), qsDrift, nprobe = 8)
    assert(after == ((1.0, 1.0, false)),
      s"PQ advisor still firing after retrain: $after")
  }

  test("retrainAdvisorIvfSq8: quiet on healthy, fires on a drifted append, quiet after rebuild (this family's retrain)") {
    def vec(i: Long, shift: Double) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val first = (1L to 150L).map(i => (i, vec(i, 0.0))).toDF("id", "v")
    val drifted = (151L to 300L).map(i => (i, vec(i, 2.5))).toDF("id", "v")
    val qsDrift = (151L to 155L).map(i => (i, vec(i, 2.5))).toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("advisorsq8")
      .toString + "/idx"
    Ann.buildIvfSq8Index(first, dir, nlist = 8)
    def advise(fresh: org.apache.spark.sql.DataFrame,
        queries: org.apache.spark.sql.DataFrame, nprobe: Int) =
      Ann.retrainAdvisorIvfSq8(spark, dir, fresh, queries, k = 10,
          recallFloor = 0.8, driftFloor = 0.95, nprobe = nprobe)
        .select("recall_now", "centroid_cos", "should_retrain")
        .as[(Double, Double, Boolean)].head()
    val healthy = advise(first,
      (1L to 5L).map(i => (i, vec(i, 0.0))).toDF("qid", "qv"), nprobe = 8)
    assert(healthy == ((1.0, 1.0, false)),
      s"SQ8 advisor fired on a healthy index: $healthy")
    Ann.appendToIvfSq8Index(spark, dir, drifted)
    val fired = advise(drifted, qsDrift, nprobe = 2)
    assert(fired._3 && fired._2 < 0.95,
      s"SQ8 advisor silent on a drifted index: $fired")
    // rebuild-as-retrain: buildIvfSq8Index over the current corpus
    // re-fits the codebook and re-records train_stats
    Ann.buildIvfSq8Index(first.union(drifted), dir, nlist = 8)
    val after = advise(first.union(drifted), qsDrift, nprobe = 8)
    assert(after == ((1.0, 1.0, false)),
      s"SQ8 advisor still firing after rebuild: $after")
  }

  test("mineHardNegativesIndex: full probe + covering window equals brute-force mining") {
    val dir = java.nio.file.Files.createTempDirectory("mineivf").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 4)
    val brute = Ann.mineHardNegatives(corpus, qs, k = 7, dupThreshold = 0.9)
      .select("qid", "id", "score", "neg_rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val viaIdx = Ann.mineHardNegativesIndex(spark, dir, qs, k = 7,
        dupThreshold = 0.9, window = 40, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaIdx == brute)
    intercept[IllegalArgumentException] {
      Ann.mineHardNegativesIndex(spark, dir, qs, k = 7,
        dupThreshold = 0.9, window = 3)
    }
  }

  test("contrastiveTriplets: pos clears the bar, negs sit below, no-positive anchors drop") {
    val posT = 0.9; val negT = 0.5
    val out = Ann.contrastiveTriplets(corpus, qs, negK = 5,
        posThreshold = posT, negThreshold = negT)
      .select("qid", "pos_id", "pos_score", "neg_id", "neg_score", "neg_rank")
      .as[(Long, Long, Double, Long, Double, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (q, p, ps, n, ns, _) =>
      p != q && n != q && ps >= posT && ns < negT })
    // one positive per anchor; <= negK negatives, ranks contiguous
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(r => (r._2, r._3)).distinct.length == 1)
      assert(rows.length <= 5)
      assert(rows.map(_._6).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // equals the two-pass composition: best positive joined to the
    // hard negatives mined at the same bar
    val negs = Ann.mineHardNegatives(corpus, qs, k = 5, dupThreshold = negT)
    // bruteForceTopK keeps self at rank 1 (queries ARE corpus rows here),
    // so the best non-self is within the top 2
    val bestPos = Ann.bruteForceTopK(corpus, qs, k = 2)
      .filter(col("id") =!= col("qid"))
      .groupBy("qid")
      .agg(min(struct(negate(col("score")).as("ns"), col("id").as("id"))).as("b"))
      .select(col("qid"), col("b.id").as("pos_id"),
        negate(col("b.ns")).as("pos_score"))
      .filter(col("pos_score") >= posT)
    val composed = bestPos.join(negs, "qid")
      .select(col("qid"), col("pos_id"), col("pos_score"),
        col("id").as("neg_id"), col("score").as("neg_score"), col("neg_rank"))
      .as[(Long, Long, Double, Long, Double, Long)].collect().toSet
    assert(out.toSet == composed)
  }

  test("contrastiveTriplets posK>1: every positive pairs with every negative") {
    val posT = 0.9; val negT = 0.5
    val out = Ann.contrastiveTriplets(corpus, qs, negK = 4,
        posThreshold = posT, negThreshold = negT, posK = 2)
      .select("qid", "pos_id", "pos_rank", "neg_id", "neg_rank")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      val poss = rows.map(r => (r._2, r._3)).distinct
      val negs = rows.map(r => (r._4, r._5)).distinct
      assert(poss.length <= 2 && negs.length <= 4)
      assert(poss.map(_._2).sorted.toSeq == (1L to poss.length).toSeq)
      // full cross: posK x negK rows per anchor
      assert(rows.length == poss.length * negs.length)
    }
    // posK=1 restricted to its columns equals the classic form
    val multi1 = Ann.contrastiveTriplets(corpus, qs, negK = 4,
        posThreshold = posT, negThreshold = negT, posK = 1)
      .select("qid", "pos_id", "neg_id").as[(Long, Long, Long)]
      .collect().toSet
    val classic = Ann.contrastiveTriplets(corpus, qs, negK = 4,
        posThreshold = posT, negThreshold = negT)
      .select("qid", "pos_id", "neg_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(multi1 == classic)
  }

  test("contrastiveTriplets: a no-negative anchor yields nothing; bad thresholds fail fast") {
    // negThreshold so low nothing qualifies -> empty output, not an error
    val none = Ann.contrastiveTriplets(corpus, qs, negK = 3,
      posThreshold = 0.9, negThreshold = -2.0)
    assert(none.count() == 0)
    intercept[IllegalArgumentException] {
      Ann.contrastiveTriplets(corpus, qs, negK = 3,
        posThreshold = 0.3, negThreshold = 0.6)
    }
  }

  test("ivfTopK: self-match survives coarse quantization probes") {
    val out = Ann.ivfTopK(corpus, qs, k = 10, nlist = 8, nprobe = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    val r1 = out.filter(_._3 == 1)
    assert(r1.forall(r => r._1 == r._2)) // each query finds itself
  }

  test("sparseTopK + hybridTopK: self-retrieval ranks first") {
    val postings = (1 to 50).flatMap(i => Seq((i.toLong, i, 2.0), (i.toLong, i + 1, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1, 2.0), (1L, 2, 1.0), (2L, 2, 2.0), (2L, 3, 1.0))
      .toDF("qid", "term", "qw")
    val sp = Ann.sparseTopK(postings, qterms, k = 3)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(sp.filter(_._3 == 1).forall(r => r._1 == r._2), s"sparse self-match lost: ${sp.toSeq}")
    val hy = Ann.hybridTopK(corpus, qs.filter(col("qid") <= 2), postings, qterms, k = 5)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(hy.filter(_._3 == 1).forall(r => r._1 == r._2), s"hybrid self-match lost: ${hy.toSeq}")
    assert(hy.count(_._1 == 1L) == 5)
  }

  test("hybridTopKWeighted: fused score matches the hand formula; self first") {
    val postings = (1 to 50).flatMap(i => Seq((i.toLong, i, 2.0), (i.toLong, i + 1, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1, 2.0), (1L, 2, 1.0), (2L, 2, 2.0), (2L, 3, 1.0))
      .toDF("qid", "term", "qw")
    val out = Ann.hybridTopKWeighted(corpus.filter(col("id") <= 50),
        qs.filter(col("qid") <= 2), postings, qterms, k = 5)
      .select("qid", "id", "wscore", "rank").as[(Long, Long, Double, Int)].collect()
    assert(out.filter(_._4 == 1).forall(r => r._1 == r._2), s"self lost: ${out.toSeq}")
    // (1,1): dense cos = 1.0 -> nd = 1.0; sparse s = 2*2 + 1*1 = 5 -> ns = 5/6
    val expect = BigDecimal(0.5 * 1.0 + 0.5 * (5.0 / (1.0 + 5.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = out.find(r => r._1 == 1L && r._2 == 1L).get._3
    assert(got == expect, s"fused $got != $expect")
    // a dense-only hit still scores through the dense weight alone
    assert(out.exists(r => r._1 == 1L && r._2 != 1L))
  }

  test("searchWithFields: hits carry the requested payload columns") {
    val corpusF = corpus.withColumn("label", (col("id") % 3).cast("int"))
    val out = Ann.searchWithFields(corpusF, qs, k = 5, outputFields = Seq("label"))
    assert(out.columns.toSeq == Seq("qid", "id", "score", "rank", "label"))
    assert(out.count() == 25)
    val self = out.filter(col("rank") === 1)
      .select("qid", "id", "label").as[(Long, Long, Int)].collect()
    assert(self.forall(r => r._2 == r._1 && r._3 == (r._1 % 3).toInt))
  }

  test("ivfTopK: zero-norm corpus vectors are dropped, not fatal") {
    val withZero = corpus.union(
      Seq((999L, Seq.fill(dim)(0.0))).toDF("id", "v"))
    val out = Ann.ivfTopK(withZero, qs, k = 10, nlist = 8, nprobe = 4)
      .select("id").as[Long].collect()
    assert(out.nonEmpty && !out.contains(999L))
  }

  test("buildLshIndex + searchLshIndex: persisted search matches direct lshTopK") {
    val dir = java.nio.file.Files.createTempDirectory("lsh").toString + "/idx"
    Ann.buildLshIndex(corpus, dir, dim = dim, planes = 4, tables = 2)
    val persisted = Ann.searchLshIndex(spark, dir, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.lshTopK(corpus, qs, k = 10, dim = dim, planes = 4, tables = 2)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(persisted == direct && persisted.nonEmpty, "index round-trip changed results")
    // layout: src=<seg>/tbl=<t>/sig=<s> partition directories
    val tbls = new java.io.File(s"$dir/buckets/src=base").listFiles()
      .filter(_.getName.startsWith("tbl=")).map(_.getName).sorted
    assert(tbls.toSeq == Seq("tbl=0", "tbl=1"), s"got ${tbls.toSeq}")
    // empty query set -> empty result, not a failure
    val noQs = Seq.empty[(Long, Seq[Double])].toDF("qid", "qv")
    assert(Ann.searchLshIndex(spark, dir, noQs, k = 5).count() == 0)
    // one query reads one bucket per table: static pruning on `sig`
    assertPruned(Ann.searchLshIndex(spark, dir, qs.filter(col("qid") === 1L), k = 5),
      dataCol = "v", partCol = "sig", maxParts = 2)
  }

  test("buildIvfIndex + searchIvfIndex: persisted search matches direct ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 8)
    val persisted = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.ivfTopK(corpus, qs, k = 10, nlist = 8, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(persisted == direct, "index round-trip changed results")
    // layout: one subdirectory per cell under the build's src segment,
    // so a probe's filter prunes files (src is a wildcard level above)
    val cellDirs = new java.io.File(s"$dir/cells/src=base").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.length == 8, s"got ${cellDirs.toSeq}")
    // empty query set -> empty result, not a failure
    val noQs = Seq.empty[(Long, Seq[Double])].toDF("qid", "qv")
    assert(Ann.searchIvfIndex(spark, dir, noQs, k = 5).count() == 0)
  }

  test("appendToLshIndex: append-then-search is bit-equal to rebuild-then-search") {
    val dirApp = java.nio.file.Files.createTempDirectory("lshapp").toString + "/idx"
    val dirFull = java.nio.file.Files.createTempDirectory("lshfull").toString + "/idx"
    Ann.buildLshIndex(corpus.filter(col("id") <= 100), dirApp,
      dim = dim, planes = 4, tables = 2)
    Ann.appendToLshIndex(spark, dirApp, corpus.filter(col("id") > 100))
    Ann.buildLshIndex(corpus, dirFull, dim = dim, planes = 4, tables = 2)
    def res(d: String) = Ann.searchLshIndex(spark, d, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val appended = res(dirApp)
    assert(appended == res(dirFull) && appended.nonEmpty,
      "appended index diverged from an index rebuilt on the union corpus")
    // the appended half is actually reachable in search results
    assert(appended.exists(_._2 > 100), "no hit from the appended batch")
    // empty batch is a no-op, not a failure
    Ann.appendToLshIndex(spark, dirApp, corpus.filter(lit(false)))
    assert(res(dirApp) == appended)
  }

  test("LSH sighting window: a cosine rejection re-sights the stored vector; last-seen aging tombstones what no kept day re-saw") {
    import graft.operators.Dedup
    val d8 = 8
    def vec(axis: Int) = Seq.tabulate(d8)(j => if (j == axis) 1.0 else 0.0)
    val idx = java.nio.file.Files.createTempDirectory("lshsighted")
      .toString + "/idx"
    // d0: A(1) and B(2); d1: a verbatim re-arrival of A (rejected —
    // touches 1) plus novel C(12); d2: novel D(21)
    Ann.buildLshIndexSighted(
      Seq((1L, vec(0)), (2L, vec(1))).toDF("id", "v"), idx,
      dim = d8, day = "d0", planes = 4, tables = 2)
    Ann.appendToLshIndexSighted(spark, idx,
      Seq((11L, vec(0)), (12L, vec(2))).toDF("id", "v"),
      day = "d1", tau = 0.9)
    Ann.appendToLshIndexSighted(spark, idx,
      Seq((21L, vec(3))).toDF("id", "v"), day = "d2", tau = 0.9)
    def seenIds(day: String) = spark.read.parquet(s"$idx/seen")
      .filter(col("src") === day).select("id").as[Long].collect().toSet
    assert(seenIds("d0") == Set(1L, 2L))
    assert(seenIds("d1") == Set(1L, 12L), s"got ${seenIds("d1")}")
    assert(seenIds("d2") == Set(21L))
    // the rejected re-arrival was NOT stored
    assert(!spark.read.parquet(s"$idx/buckets").select("id").distinct()
      .as[Long].collect().contains(11L))
    // keep the last two days: d0 out; A survives (touched), B forgotten
    assert(IndexFamily.lsh.retireSeenWindow(spark, idx, keep = 2) == Seq("d0"))
    def verdicts() = Dedup.cosineDedupAgainstIndex(spark, idx,
        Seq((31L, vec(0)), (32L, vec(1)), (33L, vec(3)))
          .toDF("vid", "v"), "vid", "v", tau = 0.9)
      .select("id", "dup_of").as[(Long, Option[Long])].collect().toMap
    val after = verdicts()
    assert(after(31L) == Some(1L),
      s"the re-seen vector must survive the window under its original id: $after")
    assert(after(32L) == None,
      s"a vector no kept day re-saw must be forgotten: $after")
    assert(after(33L) == Some(21L), s"got $after")
    // takedown-shaped retire; compaction purges with bit-equal verdicts
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isDefined)
    IndexFamily.lsh.compact(spark, idx)
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isEmpty)
    assert(verdicts() == after)
    // guards: unsighted append refused on a sighted index; the window
    // refused on an unsighted one; keep >= 1 enforced
    val err = intercept[IllegalArgumentException] {
      Ann.appendToLshIndex(spark, idx,
        Seq((41L, vec(4))).toDF("id", "v"), "d3")
    }
    assert(err.getMessage.contains("appendToLshIndexSighted"),
      err.getMessage)
    intercept[IllegalArgumentException] {
      IndexFamily.lsh.retireSeenWindow(spark, idx, keep = 0)
    }
    val plain = java.nio.file.Files.createTempDirectory("lshplain")
      .toString + "/idx"
    Ann.buildLshIndex(Seq((1L, vec(0))).toDF("id", "v"), plain,
      dim = d8, planes = 4, tables = 2)
    val err2 = intercept[IllegalArgumentException] {
      IndexFamily.lsh.retireSeenWindow(spark, plain, keep = 1)
    }
    assert(err2.getMessage.contains("sightings ledger"), err2.getMessage)
    // horizon form: retiring before d2 forgets the d1-last-seen
    // vectors (A and C), keeps d2's
    assert(IndexFamily.lsh.retireSeenBefore(spark, idx, "d2") == Seq("d1"))
    val end = verdicts()
    assert(end(31L) == None && end(33L) == Some(21L), s"got $end")
  }

  test("appendToIvfIndex: batch assigned through the STORED codebook; full-probe search exact") {
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/idx"
    Ann.buildIvfIndex(corpus.filter(col("id") <= 100), dir, nlist = 8)
    Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") > 100))
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == 200 && cells.select("id").distinct().count() == 200)
    // every appended row sits in the argmax-cosine cell of the STORED
    // codebook — the docstring's "assigned through the stored codebook"
    val cb = spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    val appended = cells.filter(col("id") > 100)
      .select(col("id"), col("v"), col("cell")).collect()
    assert(appended.length == 100)
    appended.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      def dot(c: Array[Double]) = c.zip(v).map { case (a, b) => a * b }.sum
      val best = cb.map(dot).max
      assert(dot(cb(r.getAs[Int]("cell"))) >= best - 1e-9,
        s"id ${r.get(0)} not in its nearest stored cell")
    }
    // at nprobe = nlist every cell is probed, so searching the appended
    // index must equal exact brute force over the union corpus
    val full = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val searched = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(searched == full, "appended index at nprobe=nlist diverged from brute force")
    // a replayed id fails fast instead of duplicating future hits
    val err = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") === 5L))
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    // empty batch is a no-op
    Ann.appendToIvfIndex(spark, dir, corpus.filter(lit(false)))
    assert(spark.read.parquet(s"$dir/cells").count() == 200)
  }

  test("retireIvfSrc / retireIvfWindow: segment drop bit-equal to a never-appended index; sidecar + tombstones follow") {
    val dir = java.nio.file.Files.createTempDirectory("ivfret").toString + "/idx"
    def fullSearch() = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    def brute(pred: org.apache.spark.sql.Column) =
      Ann.bruteForceTopK(corpus.filter(pred), qs, k = 10)
        .select("qid", "id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    Ann.buildIvfIndex(corpus.filter(col("id") <= 100), dir, nlist = 8)
    Ann.appendToIvfIndex(spark, dir,
      corpus.filter(col("id") > 100 && col("id") <= 150), "d1")
    Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") > 150), "d2")
    assert(new java.io.File(s"$dir/cells/src=base").isDirectory &&
      new java.io.File(s"$dir/cells/src=d1").isDirectory)
    // tombstone one base id and one d1 id before the segment ages out
    IndexFiles.writeTombstones(Seq(10L, 120L).toDF("id"), dir)
    IndexFamily.ivf.retireSrcs(spark, dir, Seq("d1"))
    // survivor ranking = brute force over (base ∪ d2) minus the LIVE
    // tombstone (10); the retired segment's rows are simply gone
    assert(fullSearch() ==
      brute((col("id") <= 100 || col("id") > 150) && col("id") =!= 10L),
      "post-retire ranking != never-appended index over the survivors")
    // the ids sidecar rebuilt from survivors and 120's tombstone left
    // with its segment — the retired doc is re-admittable immediately
    Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") === 120L), "d3")
    assert(fullSearch() == brute(
      (col("id") <= 100 || col("id") > 150 || col("id") === 120L) &&
        col("id") =!= 10L),
      "re-ingested retired id did not surface")
    // zero-yield day: strict = false retires an absent segment as a no-op
    IndexFamily.ivf.retireSrcs(spark, dir, Seq("nothing-here"), strict = false)
    // strict retire of an absent segment is loud (the typo guard)
    val gone = intercept[IllegalArgumentException] {
      IndexFamily.ivf.retireSrcs(spark, dir, Seq("d1"))
    }
    assert(gone.getMessage.contains("nothing to retire"), gone.getMessage)
    // rolling window: keep the newest appended segment — d2 ages out,
    // base never does; the steady state is a no-op
    assert(IndexFamily.ivf.retireWindow(spark, dir, keep = 1) == Seq("d2"))
    assert(IndexFamily.ivf.retireWindow(spark, dir, keep = 1).isEmpty)
    assert(fullSearch() == brute(
      (col("id") <= 100 || col("id") === 120L) && col("id") =!= 10L))
    // a retrain re-assigns cells but keeps segments intact (the window
    // keeps aging correctly afterwards) and full probe stays exact
    Ann.retrainIvfIndex(spark, dir)
    assert(graft.operators.IndexFiles.listSrcs(spark, dir, "cells")
      == Seq("base", "d3"))
    assert(fullSearch() == brute(
      (col("id") <= 100 || col("id") === 120L) && col("id") =!= 10L),
      "retrain changed full-probe results or lost segments")
  }

  test("retire siblings: SQ8, PQ, and binary segments age out bit-equal to never-appended indexes") {
    val half = corpus.filter(col("id") <= 100)
    val d1 = corpus.filter(col("id") > 100 && col("id") <= 150)
    val d2 = corpus.filter(col("id") > 150)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // IVF_SQ8: full probe after retiring d1 == sq8TopK over half ∪ d2
    val sq8 = java.nio.file.Files.createTempDirectory("sq8ret").toString + "/idx"
    Ann.buildIvfSq8Index(half, sq8, nlist = 8)
    Ann.appendToIvfSq8Index(spark, sq8, d1, "d1")
    Ann.appendToIvfSq8Index(spark, sq8, d2, "d2")
    IndexFamily.ivfSq8.retireSrcs(spark, sq8, Seq("d1"))
    assert(rows(Ann.searchIvfSq8Index(spark, sq8, qs, k = 10, nprobe = 8))
      == rows(Ann.sq8TopK(half.union(d2), qs, k = 10)),
      "SQ8 post-retire ranking != never-appended survivors")
    assert(IndexFamily.ivfSq8.retireWindow(spark, sq8, keep = 0) == Seq("d2"))
    assert(rows(Ann.searchIvfSq8Index(spark, sq8, qs, k = 10, nprobe = 8))
      == rows(Ann.sq8TopK(half, qs, k = 10)))
    // IVF-PQ: the sibling index built on the SAME seeded half trains
    // identical codebooks, so append-d2-only search is the verbatim
    // never-appended witness for retire-d1
    val pqA = java.nio.file.Files.createTempDirectory("pqretA").toString + "/idx"
    val pqB = java.nio.file.Files.createTempDirectory("pqretB").toString + "/idx"
    Ann.buildIvfPqIndex(half, pqA, nlist = 8, m = 4, ksub = 16)
    Ann.buildIvfPqIndex(half, pqB, nlist = 8, m = 4, ksub = 16)
    Ann.appendToIvfPqIndex(spark, pqA, d1, "d1")
    Ann.appendToIvfPqIndex(spark, pqA, d2, "d2")
    Ann.appendToIvfPqIndex(spark, pqB, d2, "d2")
    IndexFamily.ivfPq.retireSrcs(spark, pqA, Seq("d1"))
    assert(rows(Ann.searchIvfPqIndex(spark, pqA, qs, k = 10, nprobe = 8))
      == rows(Ann.searchIvfPqIndex(spark, pqB, qs, k = 10, nprobe = 8)),
      "PQ post-retire ranking != never-appended sibling")
    // a retired PQ doc is re-admittable and a retrain keeps segments
    Ann.appendToIvfPqIndex(spark, pqA, corpus.filter(col("id") === 120L), "d3")
    Ann.retrainIvfPqIndex(spark, pqA, half.union(d2)
      .union(corpus.filter(col("id") === 120L)))
    assert(graft.operators.IndexFiles.listSrcs(spark, pqA, "codes")
      == Seq("base", "d2", "d3"), "PQ retrain lost segment tags")
    assert(IndexFamily.ivfPq.retireWindow(spark, pqA, keep = 1) == Seq("d2"))
    // BIN_FLAT: post-retire search == binaryTopK over the survivors
    val bin = java.nio.file.Files.createTempDirectory("binret").toString + "/idx"
    Ann.buildBinaryIndex(half, bin, dim = 16)
    Ann.appendToBinaryIndex(spark, bin, d1, "d1")
    Ann.appendToBinaryIndex(spark, bin, d2, "d2")
    IndexFamily.binary.retireSrcs(spark, bin, Seq("d1"))
    val gotB = Ann.searchBinaryIndex(spark, bin, qs, k = 10)
      .select("qid", "id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val expB = Ann.binaryTopK(half.union(d2), qs, k = 10, dim = 16)
      .select("qid", "id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(gotB == expB, "binary post-retire ranking != never-appended survivors")
    assert(IndexFamily.binary.retireWindow(spark, bin, keep = 1).isEmpty &&
      IndexFamily.binary.retireWindow(spark, bin, keep = 0) == Seq("d2"))
  }

  test("retireSparseSrc / retireLshSrc: segments age out; BM25 stats forget the segment; LSH tombstones prune") {
    val postings = (1 to 60).flatMap(i =>
      Seq((i.toLong, i.toLong % 7, 2.0), (i.toLong, (i + 1).toLong % 7, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0))
      .toDF("qid", "term", "qw")
    val half = postings.filter(col("id") <= 30)
    val d1 = postings.filter(col("id") > 30 && col("id") <= 45)
    val d2 = postings.filter(col("id") > 45)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("spret").toString + "/idx"
    Ann.buildSparseIndex(half, dir, buckets = 8)
    Ann.appendToSparseIndex(spark, dir, d1, "d1")
    Ann.appendToSparseIndex(spark, dir, d2, "d2")
    IndexFamily.sparse.retireSrcs(spark, dir, Seq("d1"))
    // weight-sum AND BM25 searches equal the never-appended survivors —
    // BM25's df/N/avgdl must all have forgotten the retired segment
    val surv = half.union(d2)
    assert(rows(Ann.searchSparseIndex(spark, dir, qterms, k = 5))
      == rows(Ann.sparseTopK(surv, qterms, k = 5)),
      "sparse post-retire ranking != never-appended survivors")
    assert(rows(Ann.searchSparseIndexBm25(spark, dir, qterms, k = 5))
      == rows(Ann.bm25TopK(surv.withColumnRenamed("w", "tf"), qterms, k = 5)),
      "BM25 post-retire ranking != never-appended survivors (stale stats?)")
    // retired ids re-admit; the window driver ages out the oldest
    Ann.appendToSparseIndex(spark, dir, d1, "d3")
    assert(IndexFamily.sparse.retireWindow(spark, dir, keep = 1) == Seq("d2"))
    assert(rows(Ann.searchSparseIndexBm25(spark, dir, qterms, k = 5))
      == rows(Ann.bm25TopK(half.union(d1).withColumnRenamed("w", "tf"),
        qterms, k = 5)))
    // LSH: retire drops the segment and prunes tombstones of departed
    // ids against the surviving buckets (no ids sidecar)
    val lsh = java.nio.file.Files.createTempDirectory("lshret").toString + "/idx"
    val halfV = corpus.filter(col("id") <= 100)
    val d1V = corpus.filter(col("id") > 100 && col("id") <= 150)
    Ann.buildLshIndex(halfV, lsh, dim = 16, planes = 4, tables = 2)
    Ann.appendToLshIndex(spark, lsh, d1V, "d1")
    IndexFiles.writeTombstones(Seq(10L, 120L).toDF("id"), lsh)
    IndexFamily.lsh.retireSrcs(spark, lsh, Seq("d1"))
    assert(rows(Ann.searchLshIndex(spark, lsh, qs, k = 10))
      == rows(Ann.lshTopK(halfV.filter(col("id") =!= 10L), qs, k = 10,
        dim = 16, planes = 4, tables = 2)),
      "LSH post-retire ranking != never-appended survivors minus tombstone")
    // 120 left with its segment, so its tombstone was pruned and the id
    // re-appends cleanly; 10's tombstone survived the retire
    val deleted = spark.read.parquet(s"$lsh/deleted").as[Long].collect().toSet
    assert(deleted == Set(10L), s"tombstones after retire: $deleted")
    // only base remains — the window driver's steady state is a no-op
    assert(IndexFamily.lsh.retireWindow(spark, lsh, keep = 0).isEmpty)
  }

  test("deleteFromIvfIndex + compactIvfIndex: tombstones hide rows; compaction purges and re-opens ids") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 8)
    val before = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // delete the top-1 hits (the self-matches 1..5) — searches must
    // re-rank without them, bit-equal to ranking the surviving rows
    IndexFiles.writeTombstones((1L to 5L).toDF("id"), dir)
    val tombstoned = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(!tombstoned.exists(r => r._2 <= 5L), "deleted id surfaced in search")
    val expected = Ann.bruteForceTopK(corpus.filter(col("id") > 5), qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(tombstoned == expected, "tombstoned ranking != ranking of survivors")
    // a tombstoned id cannot be re-appended before compaction
    val err = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") === 3L))
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    // compaction: physically purged, search bit-equal, id re-appendable
    IndexFamily.ivf.compact(spark, dir)
    assert(!new java.io.File(s"$dir/deleted").exists())
    assert(spark.read.parquet(s"$dir/cells").count() == 195)
    val compacted = Ann.searchIvfIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(compacted == tombstoned, "compaction changed search results")
    Ann.appendToIvfIndex(spark, dir, corpus.filter(col("id") === 3L))
    assert(spark.read.parquet(s"$dir/cells").count() == 196)
    // compacting with no tombstones is a no-op
    IndexFamily.ivf.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/cells").count() == 196)
  }

  test("IVF-PQ and sparse index deletes: tombstones hide, compaction purges, searches bit-equal") {
    // IVF-PQ
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdel").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 8, m = 4, ksub = 16)
    IndexFiles.writeTombstones(Seq(1L, 2L).toDF("id"), dir)
    def pq() = Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val tombstoned = pq()
    assert(!tombstoned.exists(r => r._2 <= 2L) && tombstoned.nonEmpty)
    IndexFamily.ivfPq.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/codes").count() == 198)
    assert(pq() == tombstoned, "IVF-PQ compaction changed search results")
    // sparse
    val postings = (1 to 50).flatMap(i =>
      Seq((i.toLong, i.toLong, 2.0), (i.toLong, (i + 1).toLong, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0), (2L, 3L, 1.0))
      .toDF("qid", "term", "qw")
    val sdir = java.nio.file.Files.createTempDirectory("spdel").toString + "/idx"
    Ann.buildSparseIndex(postings, sdir, buckets = 8)
    IndexFiles.writeTombstones(Seq(1L).toDF("id"), sdir)
    def sp() = Ann.searchSparseIndex(spark, sdir, qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val without = Ann.sparseTopK(postings.filter(col("id") =!= 1L), qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(sp() == without, "tombstoned sparse ranking != ranking of survivors")
    // a tombstoned id cannot re-append before compaction; can after
    intercept[IllegalArgumentException] {
      Ann.appendToSparseIndex(spark, sdir, postings.filter(col("id") === 1L))
    }
    Ann.compactSparseIndex(spark, sdir)
    assert(sp() == without, "sparse compaction changed search results")
    Ann.appendToSparseIndex(spark, sdir, postings.filter(col("id") === 1L))
    val restored = sp()
    assert(restored.exists(r => r._2 == 1L), "re-appended doc not searchable")
  }

  test("LSH index delete: tombstoned rankings equal survivors; compaction purges buckets") {
    val dir = java.nio.file.Files.createTempDirectory("lshdel").toString + "/idx"
    Ann.buildLshIndex(corpus, dir, dim = dim, planes = 4, tables = 2)
    IndexFiles.writeTombstones((1L to 5L).toDF("id"), dir)
    def res() = Ann.searchLshIndex(spark, dir, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val tombstoned = res()
    assert(!tombstoned.exists(r => r._2 <= 5L) && tombstoned.nonEmpty)
    val survivors = Ann.lshTopK(corpus.filter(col("id") > 5), qs, k = 10,
        dim = dim, planes = 4, tables = 2)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(tombstoned == survivors, "tombstoned LSH ranking != ranking of survivors")
    IndexFamily.lsh.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/buckets").select("id").distinct().count() == 195)
    assert(res() == tombstoned, "LSH compaction changed search results")
    assert(!new java.io.File(s"$dir/deleted").exists())
    // no sidecar invented for the guardless index
    assert(!new java.io.File(s"$dir/ids").exists())
  }

  test("quantizeSq8/dotSq8: small relative error, bounded codes, zero-vector safe") {
    import graft.functions.{VectorFunctions => V}
    val rows = corpus.limit(40)
      .select(col("id"), col("v"), V.quantizeSq8(col("v")).as("qz"))
    val pairs = rows.as("a").join(rows.as("b"), col("a.id") < col("b.id"))
      .select(
        V.dot(col("a.v"), col("b.v")).as("exact"),
        V.dotSq8(col("a.qz"), col("b.qz")).as("approx"),
        V.norm2(col("a.v")).as("na"), V.norm2(col("b.v")).as("nb"))
      .as[(Double, Double, Double, Double)].collect()
    pairs.foreach { case (exact, approx, na, nb) =>
      // per-component error <= scale/2 = max|x|/254 -> dot error bound
      assert(math.abs(exact - approx) <= na * nb * 0.02 + 1e-9,
        s"exact $exact vs sq8 $approx")
    }
    val codes = rows.select(col("qz.q")).as[Seq[Byte]].collect()
    assert(codes.forall(_.forall(c => c >= -127 && c <= 127)))
    val zero = Seq((1L, Seq.fill(8)(0.0))).toDF("id", "v")
      .select(V.quantizeSq8(col("v")).as("qz"))
    val z = zero.select(col("qz.scale")).as[Double].head()
    assert(z == 0.0)
    assert(zero.select(V.dotSq8(col("qz"), col("qz"))).as[Double].head() == 0.0)
  }

  test("ivfTopK: oversized trainCap fails fast on the byte budget, not mid-collect") {
    // 16-d corpus: budget/ (16·8) is the row ceiling; one row past it must throw
    val cap = graft.operators.Ann.TrainSampleByteBudget / (dim * 8L) + 1
    val e = intercept[IllegalArgumentException] {
      Ann.ivfTopK(corpus, qs, k = 3, nlist = 8, trainCap = cap)
    }
    assert(e.getMessage.contains("bytes to the driver"), e.getMessage)
    // ...and a cap inside the budget still runs
    assert(Ann.ivfTopK(corpus, qs, k = 3, nlist = 8, trainCap = 100).count() == 15)
  }

  // AQE wraps executed stages as leaf nodes — descend into them
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case q: QueryStageExec => allScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(allScans) ++ other.subqueries.flatMap(allScans)
    }
  }

  /** Assert the executed plan's scan of `dataCol` carries a static
    * `partCol` partition filter and read at most `maxParts` partitions.
    * `out` is planned with dynamic partition pruning off: a run-time
    * prune (and its filter) would otherwise stand in for a lost static
    * one — the join's inferred isnotnull(`partCol`) is static too, so
    * the filter check alone cannot tell. */
  private def assertPruned(out: org.apache.spark.sql.DataFrame,
      dataCol: String, partCol: String, maxParts: Int): Unit = {
    val dpp = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val before = spark.conf.getOption(dpp)
    spark.conf.set(dpp, "false")
    try out.collect()
    finally before.fold(spark.conf.unset(dpp))(spark.conf.set(dpp, _))
    val scans = allScans(out.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == dataCol)) // the data scan, not metadata
    assert(scans.nonEmpty, "data FileSourceScan not found in executed plan")
    assert(scans.exists(_.partitionFilters.exists(f =>
        f.references.exists(_.name == partCol) &&
          f.find(_.isInstanceOf[DynamicPruning]).isEmpty)),
      s"no static partition filter on $partCol in the data scan")
    val partsRead = scans.map(_.metrics("numPartitions").value).max
    assert(partsRead <= maxParts,
      s"scan read $partsRead partitions, expected <= $maxParts")
  }

  test("searchIvfIndex: scan statically prunes to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfprune").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 8)
    val oneQ = qs.filter(col("qid") === 1L)
    assertPruned(Ann.searchIvfIndex(spark, dir, oneQ, k = 5, nprobe = 2),
      dataCol = "v", partCol = "cell", maxParts = 2)
  }

  test("searchIvfPqIndex: code scan statically prunes to the probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqprune").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 8, m = 4, ksub = 16)
    val oneQ = qs.filter(col("qid") === 1L)
    assertPruned(Ann.searchIvfPqIndex(spark, dir, oneQ, k = 5, nprobe = 2),
      dataCol = "codes", partCol = "cell", maxParts = 2)
  }

  test("IVF_SQ8 index: full probe equals sq8TopK bit-for-bit; scan prunes to probed cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8").toString + "/idx"
    Ann.buildIvfSq8Index(corpus, dir, nlist = 8)
    // at nprobe = nlist nothing is pruned away, so the dequantized
    // ranking must equal the in-memory SQ8 scan exactly
    val full = Ann.searchIvfSq8Index(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.sq8TopK(corpus, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == direct && full.nonEmpty,
      "full-probe IVF_SQ8 diverged from sq8TopK")
    // partial probe: decent recall vs full probe (self-rank-1 is not an
    // IP invariant — inner product favors long vectors over self), and
    // every surfaced pair carries its full-probe score
    val fullPairs = full.map(r => (r._1, r._2))
    val partial = Ann.searchIvfSq8Index(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val recall = partial.map(r => (r._1, r._2)).toSet
      .intersect(fullPairs).size.toDouble / fullPairs.size
    assert(recall >= 0.6, s"nprobe=4 recall $recall vs full probe too low")
    val fullScores = full.map(r => (r._1, r._2) -> r._3).toMap
    partial.foreach { r =>
      fullScores.get((r._1, r._2)).foreach(s =>
        assert(s == r._3, s"pair (${r._1},${r._2}) scored $s full vs ${r._3} partial"))
    }
    // static partition pruning at the file index, like the siblings
    assertPruned(Ann.searchIvfSq8Index(spark, dir,
        qs.filter(col("qid") === 1L), k = 5, nprobe = 2),
      dataCol = "cz", partCol = "cell", maxParts = 2)
    // the cells store quantized structs, not raw vectors (src is the
    // r16 retirement-segment partition column)
    val cellSchema = spark.read.parquet(s"$dir/cells").schema
    assert(cellSchema.fieldNames.toSet == Set("id", "cz", "src", "cell"),
      s"unexpected cell columns: ${cellSchema.fieldNames.toSeq}")
    // empty query set -> empty result, not a failure
    val noQs = Seq.empty[(Long, Seq[Double])].toDF("qid", "qv")
    assert(Ann.searchIvfSq8Index(spark, dir, noQs, k = 5).count() == 0)
  }

  test("IVF_SQ8 append=rebuild bit-equal; replay throws; delete/compact/upsert lifecycle") {
    val dirApp = java.nio.file.Files.createTempDirectory("sq8app").toString + "/idx"
    val dirFull = java.nio.file.Files.createTempDirectory("sq8full").toString + "/idx"
    Ann.buildIvfSq8Index(corpus.filter(col("id") <= 100), dirApp, nlist = 8)
    Ann.appendToIvfSq8Index(spark, dirApp, corpus.filter(col("id") > 100))
    def res(d: String, np: Int = 8) =
      Ann.searchIvfSq8Index(spark, d, qs, k = 10, nprobe = np)
        .select("qid", "id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // append assigns through the STORED codebook — so compare against
    // an index whose cells are (stored ∪ batch) under that codebook:
    // full probe loses nothing, hence equality with the in-memory scan
    val appended = res(dirApp)
    val direct = Ann.sq8TopK(corpus, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(appended == direct, "appended IVF_SQ8 diverged from sq8TopK at full probe")
    Ann.buildIvfSq8Index(corpus, dirFull, nlist = 8)
    assert(res(dirFull) == appended, "append=rebuild violated")
    // replayed id fails fast; empty batch no-op
    val err = intercept[IllegalArgumentException] {
      Ann.appendToIvfSq8Index(spark, dirApp, corpus.filter(col("id") === 5L))
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    Ann.appendToIvfSq8Index(spark, dirApp, corpus.filter(lit(false)))
    assert(res(dirApp) == appended)
    // tombstones hide rows: ranking equals the survivors' scan
    IndexFiles.writeTombstones((1L to 5L).toDF("id"), dirApp)
    val tombstoned = res(dirApp)
    assert(!tombstoned.exists(_._2 <= 5L), "deleted id surfaced")
    val survivors = Ann.sq8TopK(corpus.filter(col("id") > 5), qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(tombstoned == survivors, "tombstoned ranking != survivors' ranking")
    // compaction purges physically, search bit-equal, ids re-appendable
    IndexFamily.ivfSq8.compact(spark, dirApp)
    assert(!new java.io.File(s"$dirApp/deleted").exists())
    assert(spark.read.parquet(s"$dirApp/cells").count() == 195)
    assert(res(dirApp) == tombstoned, "compaction changed results")
    Ann.appendToIvfSq8Index(spark, dirApp, corpus.filter(col("id") === 3L))
    // upsert: replaced id ranks by its NEW vector
    val moved = corpus.filter(col("id") === 1L)
      .withColumn("v", transform(col("v"), x => x * -1.0))
      .unionByName(corpus.filter(col("id") === 2L))
    Ann.upsertIntoIvfSq8Index(spark, dirApp, moved)
    val upserted = Ann.searchIvfSq8Index(spark, dirApp, qs, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Ann.sq8TopK(
        corpus.filter(col("id") > 5 || col("id") === 3L)
          .unionByName(moved), qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(upserted == want, "upsert result != sq8 scan over old∪new")
  }

  test("searchIvfSq8IndexRefined: covering factor reproduces brute force bit-for-bit") {
    val dir = java.nio.file.Files.createTempDirectory("sq8ref").toString + "/idx"
    Ann.buildIvfSq8Index(corpus, dir, nlist = 8)
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val refined = Ann.searchIvfSq8IndexRefined(spark, dir, corpus, qs,
        k = 10, nprobe = 8, factor = 20)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(refined == exact,
      "covering refine factor did not reproduce exact brute force")
    // refine never lowers recall vs the coarse SQ8 ranking
    val coarse = Ann.searchIvfSq8Index(spark, dir, qs, k = 10, nprobe = 8)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val exactIds = exact.map(r => (r._1, r._2))
    val prod = Ann.searchIvfSq8IndexRefined(spark, dir, corpus, qs,
        k = 10, nprobe = 8, factor = 3)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert((prod intersect exactIds).size >= (coarse intersect exactIds).size,
      "refine lowered recall")
  }

  test("sparse index lifecycle: pruned search equals direct; append equals rebuild; replay throws") {
    val postings = (1 to 50).flatMap(i =>
      Seq((i.toLong, i.toLong, 2.0), (i.toLong, (i + 1).toLong, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0), (2L, 3L, 1.0))
      .toDF("qid", "term", "qw")
    val dir = java.nio.file.Files.createTempDirectory("spidx").toString + "/idx"
    Ann.buildSparseIndex(postings, dir, buckets = 8)
    def res(d: String) = Ann.searchSparseIndex(spark, d, qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.sparseTopK(postings, qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val persisted = res(dir)
    assert(persisted == direct && persisted.nonEmpty, "round trip changed results")
    // query terms 1,2,3 land in buckets 1,2,3 of 8 — only those read
    assertPruned(Ann.searchSparseIndex(spark, dir, qterms, k = 3),
      dataCol = "w", partCol = "tbucket", maxParts = 3)
    // append-then-search equals an index rebuilt on the union postings
    val dirApp = java.nio.file.Files.createTempDirectory("spapp").toString + "/idx"
    Ann.buildSparseIndex(postings.filter(col("id") <= 25), dirApp, buckets = 8)
    Ann.appendToSparseIndex(spark, dirApp, postings.filter(col("id") > 25))
    assert(res(dirApp) == persisted, "appended index diverged from rebuild")
    // replayed id fails fast; empty query set is empty, not fatal
    val err = intercept[IllegalArgumentException] {
      Ann.appendToSparseIndex(spark, dirApp, postings.filter(col("id") === 1L))
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    assert(Ann.searchSparseIndex(spark, dir,
      qterms.filter(org.apache.spark.sql.functions.lit(false)), k = 3).count() == 0)
  }

  // a BM25-shaped corpus: per-doc term sets overlap, lengths vary, so
  // idf and the length normalization both discriminate
  private def bm25Postings = (1L to 40L).flatMap { i =>
    (0 until (3 + (i % 4)).toInt).map { j =>
      (i, ((i + j * 5) % 13), 1.0 + ((i + j) % 3))
    }
  }.toDF("id", "term", "w")
  private def bm25Qterms = bm25Postings.filter(col("id") <= 2L)
    .select(col("id").as("qid"), col("term")).distinct()

  test("searchSparseIndexBm25: persisted search equals bm25TopK over full postings") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString + "/idx"
    Ann.buildSparseIndex(bm25Postings, dir, buckets = 4)
    val direct = Ann.bm25TopK(bm25Postings.withColumnRenamed("w", "tf"),
        bm25Qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val indexed = Ann.searchSparseIndexBm25(spark, dir, bm25Qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(indexed == direct && indexed.nonEmpty,
      "index BM25 diverged from full-postings BM25")
    // the doc-length join is candidate-pruned, not corpus-wide
    val plan = Ann.bm25TopK(bm25Postings.withColumnRenamed("w", "tf"),
      bm25Qterms, k = 5).queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftSemi"), "dl prune semi-join missing from plan")
  }

  test("sparse BM25 sidecars: append equals rebuild; pre-BM25 index backfills") {
    def search(d: String) = Ann.searchSparseIndexBm25(spark, d, bm25Qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString + "/idx"
    Ann.buildSparseIndex(bm25Postings, full, buckets = 4)
    val dirApp = java.nio.file.Files.createTempDirectory("bm25app").toString + "/idx"
    Ann.buildSparseIndex(bm25Postings.filter(col("id") <= 20L), dirApp, buckets = 4)
    Ann.appendToSparseIndex(spark, dirApp, bm25Postings.filter(col("id") > 20L))
    assert(search(dirApp) == search(full),
      "appended doclens/stats diverged from rebuild")
    // pre-BM25 index (no doclens/stats): searches REFUSE (read-only —
    // a search-side backfill would write from a read path, racing
    // concurrent searches and failing on read-only mounts); the
    // explicit maintenance backfill then makes them exact
    val legacy = java.nio.file.Files.createTempDirectory("bm25legacy").toString + "/idx"
    Ann.buildSparseIndex(bm25Postings, legacy, buckets = 4)
    val fs = new org.apache.hadoop.fs.Path(legacy)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$legacy/doclens"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$legacy/stats"), true)
    val refused = intercept[IllegalArgumentException] { search(legacy) }
    assert(refused.getMessage.contains("backfillBm25Sidecars"),
      refused.getMessage)
    Ann.backfillBm25Sidecars(spark, legacy)
    assert(search(legacy) == search(full), "backfilled sidecars diverged")
  }

  test("sparse BM25 delete: tombstoned doc excluded from df/N/avgdl; compaction bit-equal") {
    val dir = java.nio.file.Files.createTempDirectory("bm25del").toString + "/idx"
    Ann.buildSparseIndex(bm25Postings, dir, buckets = 4)
    IndexFiles.writeTombstones(Seq(5L, 6L).toDF("id"), dir)
    def search() = Ann.searchSparseIndexBm25(spark, dir, bm25Qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // the oracle: BM25 over the postings with the deleted docs REMOVED —
    // their rows must vanish from df and the (n, avgdl) globals, not
    // just from the hit list
    val survivors = Ann.bm25TopK(
        bm25Postings.filter(!col("id").isin(5L, 6L)).withColumnRenamed("w", "tf"),
        bm25Qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val tombstoned = search()
    assert(tombstoned == survivors,
      "tombstoned docs still influence BM25 stats")
    Ann.compactSparseIndex(spark, dir)
    assert(search() == survivors, "compacted index diverged from tombstoned")
    // stats sidecar physically shrank with the purge
    val n = spark.read.parquet(s"$dir/stats").head().getDouble(0)
    assert(n == 38.0, s"stats n=$n after purging 2 of 40 docs")
  }

  test("searchIvfPqIndexRefined: covering factor reproduces brute force; refine lifts recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqref").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 4, m = 8, ksub = 16)
    // nprobe = nlist and k*factor >= |corpus|: the ADC stage keeps
    // everything, so the exact rescore IS brute force, bit for bit
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "l2")
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val covered = Ann.searchIvfPqIndexRefined(spark, dir, corpus, qs,
        k = 10, nprobe = 4, factor = 20)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(covered == exact, "covering refine diverged from brute force")
    // at a production-ish factor the refined recall is at least the raw
    // ADC recall (rescoring a superset can only fix rank inversions)
    def recallOf(got: Set[(Long, Long)]) = {
      val e = exact.map(r => (r._1, r._2))
      (e intersect got).size.toDouble / e.size
    }
    val raw = recallOf(Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet)
    val refined = recallOf(Ann.searchIvfPqIndexRefined(spark, dir, corpus, qs,
        k = 10, nprobe = 4, factor = 3)
      .select("qid", "id").as[(Long, Long)].collect().toSet)
    assert(refined >= raw, s"refine lowered recall: $refined < $raw")
  }

  test("retrainIvfIndex: full-probe stays exact; recall@10 recovers on a drifted append") {
    def vec(i: Long, shift: Double) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val first = (1L to 150L).map(i => (i, vec(i, 0.0))).toDF("id", "v")
    // the appended distribution is SHIFTED — exactly the codebook-drift
    // scenario the retrain exists for
    val drifted = (151L to 300L).map(i => (i, vec(i, 2.5))).toDF("id", "v")
    val union = first.union(drifted)
    val qsDrift = (151L to 155L).map(i => (i, vec(i, 2.5))).toDF("qid", "qv")
    val dir = java.nio.file.Files.createTempDirectory("ivfretrain").toString + "/idx"
    Ann.buildIvfIndex(first, dir, nlist = 8)
    Ann.appendToIvfIndex(spark, dir, drifted)
    val exact = Ann.bruteForceTopK(union, qsDrift, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int) = {
      val got = Ann.searchIvfIndex(spark, dir, qsDrift, k = 10, nprobe = nprobe)
        .select("qid", "id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val before = recall(2)
    Ann.retrainIvfIndex(spark, dir)
    // full probe over the retrained index is still exact brute force
    val full = Ann.searchIvfIndex(spark, dir, qsDrift, k = 10, nprobe = 8)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val exactFull = Ann.bruteForceTopK(union, qsDrift, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == exactFull, "full-probe search diverged after retrain")
    val after = recall(2)
    assert(after >= before,
      s"retrain did not recover drifted recall: before=$before after=$after")
    // the sidecar survived: a replayed id still fails fast
    val replay = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(spark, dir, first.filter(col("id") === 1L))
    }
    assert(replay.getMessage.contains("already exists"), replay.getMessage)
    // tombstones survive the retrain: deleted before, still hidden after
    IndexFiles.writeTombstones(Seq(151L).toDF("id"), dir)
    Ann.retrainIvfIndex(spark, dir)
    val hits = Ann.searchIvfIndex(spark, dir, qsDrift, k = 10, nprobe = 8)
      .select("id").as[Long].collect().toSet
    assert(!hits.contains(151L), "tombstoned id resurfaced after retrain")
    IndexFamily.ivf.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/cells")
      .filter(col("id") === 151L).count() == 0)
  }

  test("retrainIvfPqIndex: re-encodes from the corpus; id-set mismatches fail fast") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqretrain").toString + "/idx"
    Ann.buildIvfPqIndex(corpus.filter(col("id") <= 100L), dir,
      nlist = 4, m = 8, ksub = 16)
    Ann.appendToIvfPqIndex(spark, dir, corpus.filter(col("id") > 100L))
    Ann.retrainIvfPqIndex(spark, dir, corpus)
    // full-probe ADC over the retrained index keeps healthy recall
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "l2")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val got = Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-retrain recall $recall below 0.8")
    // corpus must cover exactly the indexed ids
    val short = intercept[IllegalArgumentException] {
      Ann.retrainIvfPqIndex(spark, dir, corpus.filter(col("id") <= 150L))
    }
    assert(short.getMessage.contains("missing indexed id"), short.getMessage)
    val extra = intercept[IllegalArgumentException] {
      Ann.retrainIvfPqIndex(spark, dir,
        corpus.union(Seq((999L, Seq.fill(dim)(0.5))).toDF("id", "v")))
    }
    assert(extra.getMessage.contains("unindexed id"), extra.getMessage)
  }

  test("killed appends self-heal: staging-only rolls back; journaled batches roll forward") {
    val postings = (1 to 50).flatMap(i =>
      Seq((i.toLong, i.toLong, 2.0), (i.toLong, (i + 1).toLong, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0), (2L, 3L, 1.0))
      .toDF("qid", "term", "qw")
    def res(d: String) = Ann.searchSparseIndex(spark, d, qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    def ids(d: String) = spark.read.parquet(s"$d/ids").as[Long].collect().toSet
    val fsFor = (d: String) => new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirFull = java.nio.file.Files.createTempDirectory("healfull").toString + "/idx"
    Ann.buildSparseIndex(postings, dirFull, buckets = 8)
    val want = res(dirFull)

    // window 1 — crash MID-STAGING (no journal): the incomplete staging
    // dir is invisible to searches and discarded by the next append
    val dir1 = java.nio.file.Files.createTempDirectory("heal1").toString + "/idx"
    Ann.buildSparseIndex(postings.filter(col("id") <= 25L), dir1, buckets = 8)
    Seq((999L, 999L, 9.0)).toDF("id", "term", "w")
      .withColumn("tbucket", pmod(col("term"), lit(8)).cast("int"))
      .withColumn("src", lit("x1"))
      .write.partitionBy("src", "tbucket")
      .parquet(s"$dir1/postings/_append_tmp")
    Ann.appendToSparseIndex(spark, dir1, postings.filter(col("id") > 25L))
    assert(res(dir1) == want, "rolled-back staging leaked into results")
    assert(!fsFor(dir1).exists(
      new org.apache.hadoop.fs.Path(s"$dir1/postings/_append_tmp")))
    assert(!ids(dir1).contains(999L), "discarded staging reached the sidecar")

    // window 2 — crash AFTER the journal commit, BEFORE the move: the
    // next append rolls the interrupted batch forward, then proceeds
    val dir2 = java.nio.file.Files.createTempDirectory("heal2").toString + "/idx"
    Ann.buildSparseIndex(postings.filter(col("id") <= 25L), dir2, buckets = 8)
    val mid = postings.filter(col("id") > 25L && col("id") <= 40L)
    mid.withColumn("tbucket", pmod(col("term"), lit(8)).cast("int"))
      .withColumn("src", lit("mid"))
      .write.partitionBy("src", "tbucket")
      .parquet(s"$dir2/postings/_append_tmp")
    mid.groupBy("id").agg(sum(col("w")).as("dl"))
      .withColumn("src", lit("mid"))
      .write.partitionBy("src").parquet(s"$dir2/doclens/_append_tmp")
    mid.select("id").distinct().write.parquet(s"$dir2/_pending_append")
    Ann.appendToSparseIndex(spark, dir2, postings.filter(col("id") > 40L))
    assert(res(dir2) == want, "rolled-forward batch missing from results")
    assert(ids(dir2) == (1L to 50L).toSet, "sidecar missing healed ids")
    val replay2 = intercept[IllegalArgumentException] {
      Ann.appendToSparseIndex(spark, dir2, postings.filter(col("id") === 30L))
    }
    assert(replay2.getMessage.contains("already exists"), replay2.getMessage)

    // window 3 — crash AFTER the move, BEFORE the sidecar extension:
    // payload visible, journal present, sidecar stale — healed in place
    val dir3 = java.nio.file.Files.createTempDirectory("heal3").toString + "/idx"
    Ann.buildSparseIndex(postings.filter(col("id") <= 40L), dir3, buckets = 8)
    val tail = postings.filter(col("id") > 40L)
    tail.withColumn("tbucket", pmod(col("term"), lit(8)).cast("int"))
      .withColumn("src", lit("tail"))
      .write.mode("append").partitionBy("src", "tbucket")
      .parquet(s"$dir3/postings")
    tail.groupBy("id").agg(sum(col("w")).as("dl"))
      .withColumn("src", lit("tail"))
      .write.mode("append").partitionBy("src").parquet(s"$dir3/doclens")
    tail.select("id").distinct().write.parquet(s"$dir3/_pending_append")
    spark.catalog.refreshByPath(dir3)
    assert(ids(dir3) == (1L to 40L).toSet) // stale before the heal
    val replay3 = intercept[IllegalArgumentException] {
      Ann.appendToSparseIndex(spark, dir3, postings.filter(col("id") === 45L))
    }
    assert(replay3.getMessage.contains("already exists"),
      s"healed sidecar should reject the moved batch's ids: ${replay3.getMessage}")
    assert(ids(dir3) == (1L to 50L).toSet, "sidecar not healed")
    assert(res(dir3) == want)
    // derived stats healed too: BM25 over the healed index equals the
    // full-postings formula even though the healing append threw
    val bmQ = qterms.select("qid", "term").distinct()
    val bmWant = Ann.bm25TopK(postings.withColumnRenamed("w", "tf"), bmQ, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bmGot = Ann.searchSparseIndexBm25(spark, dir3, bmQ, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(bmGot == bmWant, "stats file stale after heal")

    // marker-only path (LSH): leftover garbage staging is discarded
    val corpus16 = corpus
    val dirL = java.nio.file.Files.createTempDirectory("heall").toString + "/idx"
    Ann.buildLshIndex(corpus16.filter(col("id") <= 100L), dirL, dim, planes = 4)
    Seq((999L, 1.0)).toDF("id", "x")
      .write.parquet(s"$dirL/buckets/_append_tmp")
    Ann.appendToLshIndex(spark, dirL, corpus16.filter(col("id") > 100L))
    val dirLFull = java.nio.file.Files.createTempDirectory("heallf").toString + "/idx"
    Ann.buildLshIndex(corpus16, dirLFull, dim, planes = 4)
    def lshRes(d: String) = Ann.searchLshIndex(spark, d, qs, k = 10)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(lshRes(dirL) == lshRes(dirLFull), "LSH heal diverged from rebuild")
  }

  test("persisted hybrid search equals the in-memory hybrid forms branch for branch") {
    // postings over the ANN corpus ids so dense and sparse branches
    // overlap: a few deterministic terms per doc, weights 1..3
    val postings = (1L to 200L).flatMap(i => Seq(
      (i, i % 7, 2.0), (i, 7 + i % 11, 1.0), (i, 18 + i % 5, 3.0)))
      .toDF("id", "term", "w")
    val qterms = postings.filter(col("id") <= 5L)
      .select(col("id").as("qid"), col("term"), col("w").as("qw"))
    val ivfDir = java.nio.file.Files.createTempDirectory("hybivf").toString + "/idx"
    val spDir = java.nio.file.Files.createTempDirectory("hybsp").toString + "/idx"
    Ann.buildIvfIndex(corpus, ivfDir, nlist = 4)
    Ann.buildSparseIndex(postings, spDir, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame, scoreCol: String) = df
      .select(col("qid"), col("id"), col(scoreCol), col("rank"))
      .as[(Long, Long, Double, Int)].collect().toSet
    // full probe: both branches exact, so the persisted composition is
    // bit-equal to the in-memory oracle
    val rrfMem = rows(Ann.hybridTopK(corpus, qs, postings, qterms, k = 10), "rrf")
    val rrfIdx = rows(Ann.searchHybridIndex(spark, ivfDir, spDir, qs, qterms,
      k = 10, nprobe = 4), "rrf")
    assert(rrfIdx == rrfMem && rrfIdx.nonEmpty,
      "persisted RRF hybrid diverged from hybridTopK")
    val wMem = rows(Ann.hybridTopKWeighted(corpus, qs, postings, qterms,
      k = 10, wDense = 0.7, wSparse = 0.3), "wscore")
    val wIdx = rows(Ann.searchHybridIndexWeighted(spark, ivfDir, spDir, qs,
      qterms, k = 10, nprobe = 4, wDense = 0.7, wSparse = 0.3), "wscore")
    assert(wIdx == wMem && wIdx.nonEmpty,
      "persisted weighted hybrid diverged from hybridTopKWeighted")
    // bm25 = true swaps the sparse branch's scoring: hand-fuse the two
    // exact branch rankings with the RRF formula as the oracle
    val dRank = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "cosine")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
      .map { case (q, i, r) => (q, i) -> r }.toMap
    val sRank = Ann.bm25TopK(postings.withColumnRenamed("w", "tf"),
        qterms.select("qid", "term").distinct(), k = 10)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
      .map { case (q, i, r) => (q, i) -> r }.toMap
    val fusedKeys = (dRank.keySet ++ sRank.keySet).toSeq
    val want = fusedKeys.map { key =>
      val rrf = dRank.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        sRank.get(key).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (key._1, key._2,
        BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.groupBy(_._1).flatMap { case (_, hits) =>
      hits.sortBy(h => (-h._3, h._2)).take(10)
    }.map(h => (h._1, h._2, h._3)).toSet
    // bm25 branch needs queryTerms WITHOUT qw ambiguity — pass (qid, term)
    val got = Ann.searchHybridIndex(spark, ivfDir, spDir, qs,
        qterms.select("qid", "term").distinct(), k = 10, nprobe = 4,
        bm25 = true)
      .select("qid", "id", "rrf").as[(Long, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty,
      "persisted BM25 hybrid diverged from the hand-fused RRF oracle")
  }

  test("searches refuse a torn index while an append journal is pending") {
    val postings = (1 to 30).map(i => (i.toLong, i.toLong, 2.0))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 1L, 2.0), (1L, 2L, 1.0)).toDF("qid", "term", "qw")
    val dir = java.nio.file.Files.createTempDirectory("tornsearch").toString + "/idx"
    Ann.buildSparseIndex(postings, dir, buckets = 4)
    // journal present = the move phase may have landed only part of the
    // batch's files; a read could score a doc on a fraction of its rows
    Seq(999L).toDF("id").write.parquet(s"$dir/_pending_append")
    val weightSum = intercept[IllegalArgumentException] {
      Ann.searchSparseIndex(spark, dir, qterms, k = 3).collect()
    }
    assert(weightSum.getMessage.contains("incomplete append"),
      weightSum.getMessage)
    val bm = intercept[IllegalArgumentException] {
      Ann.searchSparseIndexBm25(spark, dir,
        qterms.select("qid", "term").distinct(), k = 3).collect()
    }
    assert(bm.getMessage.contains("incomplete append"), bm.getMessage)
    // the public heal entry repairs WITHOUT appending a batch (the
    // operator's unblock path when no new data is due) and searches
    // resume immediately
    IndexFamily.sparse.heal(spark, dir)
    assert(Ann.searchSparseIndex(spark, dir, qterms, k = 3).count() > 0)
    // appends still work after the out-of-band heal
    Ann.appendToSparseIndex(spark, dir,
      Seq((31L, 1L, 1.0)).toDF("id", "term", "w"))
    assert(Ann.searchSparseIndex(spark, dir, qterms, k = 3).count() > 0)
  }

  test("compact heals a pending journaled append instead of destroying it") {
    val postings = (1 to 40).flatMap(i =>
      Seq((i.toLong, i.toLong, 2.0), (i.toLong, (i + 1).toLong, 1.0)))
      .toDF("id", "term", "w")
    val qterms = Seq((1L, 35L, 2.0), (2L, 38L, 1.0)).toDF("qid", "term", "qw")
    val dir = java.nio.file.Files.createTempDirectory("compactheal").toString + "/idx"
    Ann.buildSparseIndex(postings.filter(col("id") <= 30L), dir, buckets = 8)
    // crash window: batch fully staged + journal committed, move never ran
    val tail = postings.filter(col("id") > 30L)
    tail.withColumn("tbucket", pmod(col("term"), lit(8)).cast("int"))
      .withColumn("src", lit("tail"))
      .write.partitionBy("src", "tbucket")
      .parquet(s"$dir/postings/_append_tmp")
    tail.groupBy("id").agg(sum(col("w")).as("dl"))
      .withColumn("src", lit("tail"))
      .write.partitionBy("src").parquet(s"$dir/doclens/_append_tmp")
    tail.select("id").distinct().write.parquet(s"$dir/_pending_append")
    // a compact that swapped tables without healing would delete the
    // staged batch with the old table dir, then the next heal would
    // extend the sidecar with ids that have NO payload behind them
    IndexFiles.writeTombstones(Seq(5L).toDF("id"), dir)
    Ann.compactSparseIndex(spark, dir)
    val want = Ann.sparseTopK(
        postings.filter(col("id") =!= 5L), qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val got = Ann.searchSparseIndex(spark, dir, qterms, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want, "journaled batch lost or corrupted by compact")
    val ids = spark.read.parquet(s"$dir/ids").as[Long].collect().toSet
    assert(ids == (1L to 40L).toSet - 5L, s"sidecar wrong after heal+compact")
    // BM25 stats healed too: n counts the rolled-forward batch
    val n = spark.read.parquet(s"$dir/stats").head().getDouble(0)
    assert(n == 39.0, s"stats n=$n after heal(40) + purge(1)")
  }

  test("interrupted IVF-PQ retrain blocks the index until a retrain converges") {
    val dir = java.nio.file.Files.createTempDirectory("pqmarker").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 4, m = 8, ksub = 16)
    // simulate a crash between the codes swap and the codebook swaps:
    // the marker is the ONLY trustworthy signal (codes decoded with the
    // wrong codebooks rank confidently wrong, not merely low-recall)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_retrain_pending"), true).close()
    val s1 = intercept[IllegalArgumentException] {
      Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 4).collect()
    }
    assert(s1.getMessage.contains("interrupted retrain"), s1.getMessage)
    val a1 = intercept[IllegalArgumentException] {
      Ann.appendToIvfPqIndex(spark, dir,
        Seq((999L, Seq.fill(dim)(0.5))).toDF("id", "v"))
    }
    assert(a1.getMessage.contains("interrupted retrain"), a1.getMessage)
    val c1 = intercept[IllegalArgumentException] {
      IndexFamily.ivfPq.compact(spark, dir)
    }
    assert(c1.getMessage.contains("interrupted retrain"), c1.getMessage)
    // re-running the retrain rewrites all three tables and clears the
    // marker — the documented repair converges
    Ann.retrainIvfPqIndex(spark, dir, corpus)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_retrain_pending")),
      "retrain left its marker behind")
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "l2")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val got = Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.8, s"post-repair recall $recall below 0.8")
  }

  test("refined search fails fast when the corpus is missing a candidate id") {
    val dir = java.nio.file.Files.createTempDirectory("refmiss").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 4, m = 8, ksub = 16)
    // covering factor: every indexed id becomes a candidate, so ANY
    // corpus gap is hit — the rescore would silently drop it otherwise
    val gapped = corpus.filter(col("id") =!= 7L)
    val e = intercept[IllegalArgumentException] {
      Ann.searchIvfPqIndexRefined(spark, dir, gapped, qs,
        k = 10, nprobe = 4, factor = 20).collect()
    }
    assert(e.getMessage.contains("missing candidate id"), e.getMessage)
  }

  test("pqTopK: ADC recall@10 >= 0.8 vs exact ip ranking; deterministic re-run") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "ip")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val pq = Ann.pqTopK(corpus, qs, k = 10, m = 4, ksub = 16, metric = "ip")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8")
    val again = Ann.pqTopK(corpus, qs, k = 10, m = 4, ksub = 16, metric = "ip")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(again == pq, "same seed produced different rankings")
  }

  test("pqTopK: l2 ADC keeps self-retrieval near the top; tiny corpus falls back to exact") {
    val out = Ann.pqTopK(corpus, qs, k = 10, m = 4, ksub = 16, metric = "l2")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    (1 to 5).foreach { qid =>
      val selfRank = out.find(r => r._1 == qid && r._2 == qid).map(_._3)
      assert(selfRank.exists(_ <= 3), s"query $qid reconstructed self-rank $selfRank")
    }
    // corpus no bigger than one codebook: exact brute-force fallback
    val tiny = corpus.filter(col("id") <= 10)
    val fb = Ann.pqTopK(tiny, qs, k = 5, m = 4, ksub = 16, metric = "l2")
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(fb.length == 25)
    assert(fb.filter(_._3 == 1).forall(r => r._1 == r._2)) // exact self-match first
  }

  test("kmeansL2/trainPq: k=1 centroid is the mean; codebook shape is m x ksub x dsub") {
    val pts = Array(Array(0.0, 0.0), Array(2.0, 4.0), Array(4.0, 2.0))
    val c1 = Ann.kmeansL2(pts, 1, seed = 1)
    assert(c1.length == 1 && c1(0).toSeq == Seq(2.0, 2.0))
    val sample = (1 to 50).map(i => Array.tabulate(8)(j => math.sin(i * 7 + j))).toArray
    val cbs = Ann.trainPq(sample, m = 4, ksub = 4, seed = 1)
    assert(cbs.length == 4 && cbs.forall(_.length == 4) &&
      cbs.forall(_.forall(_.length == 2)))
  }

  test("rangeSearch: exactly the brute-force hits inside (radius, rangeFilter]") {
    val all = Ann.bruteForceTopK(corpus, qs, k = 200)
      .select("qid", "id", "score").as[(Long, Long, Double)].collect()
    val banded = Ann.rangeSearch(corpus, qs, radius = 0.3, rangeFilter = 0.99)
      .select("qid", "id", "score").as[(Long, Long, Double)].collect()
    val expected = all.filter(r => r._3 > 0.3 && r._3 <= 0.99).toSet
    assert(banded.toSet == expected && banded.nonEmpty)
    // self-matches (score 1.0) are excluded by the upper bound
    assert(!banded.exists(r => r._1 == r._2))
    // limit caps per-query rows in rank order
    val capped = Ann.rangeSearch(corpus, qs, radius = 0.3, limit = 3)
      .select("qid", "score").as[(Long, Double)].collect()
    assert(capped.count(_._1 == 1L) == 3)
    val bestInBand = all.filter(r => r._1 == 1L && r._3 > 0.3).map(_._3).max
    assert(capped.filter(_._1 == 1L).map(_._2).max == bestInBand)
  }

  test("groupedTopK: k groups per query, groupSize hits per group, best group first") {
    val corpusG = corpus.withColumn("label", (col("id") % 3).cast("int"))
    val out = Ann.groupedTopK(corpusG, qs, k = 2, groupCol = "label", groupSize = 2)
      .select("qid", "id", "label", "score", "grp_rank", "grp_order")
      .as[(Long, Long, Int, Double, Int, Int)].collect()
    (1 to 5).foreach { q =>
      val mine = out.filter(_._1 == q)
      assert(mine.map(_._3).distinct.length <= 2, s"query $q returned > k groups")
      mine.groupBy(_._3).foreach { case (_, rows) =>
        assert(rows.length <= 2, s"query $q group exceeded groupSize")
      }
      // the top-ordered group's best equals the query's global best score
      // (another group can TIE it — e.g. a near-identical vector rounding
      // to the same 4-dp score — and win on the label-asc tiebreak, so
      // assert on the score, not on which group carries it)
      val globalBest = mine.map(_._4).max
      assert(mine.filter(_._6 == 1).map(_._4).max == globalBest,
        s"query $q top group best != global best")
      // self leads its own group
      assert(mine.exists(r => r._2 == q && r._5 == 1), s"query $q self not leading its group")
    }
    // group order follows each group's best score
    val q1 = out.filter(_._1 == 1L)
    val bestByOrder = q1.groupBy(_._6).view.mapValues(_.map(_._4).max).toMap
    assert(bestByOrder(1) >= bestByOrder(2))
  }

  test("pagedTopK: page two is exactly ranks 6..10 of the full ranking") {
    val full = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    val page = Ann.pagedTopK(corpus, qs, k = 5, offset = 5)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(page.toSet == full.filter(_._3 > 5).toSet && page.length == 25)
  }

  test("upsertIntoIvfIndex: replaced ids rank by their NEW vectors; fresh ids just append") {
    def vec(i: Long, shift: Double = 0.0) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17 + shift))
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/idx"
    Ann.buildIvfIndex((1L to 50L).map(i => (i, vec(i))).toDF("id", "v"), dir,
      nlist = 4)
    // ids 40-50 replaced with SHIFTED vectors, 51-60 fresh
    val batch = (40L to 60L).map(i => (i, vec(i, shift = 2.5))).toDF("id", "v")
    Ann.upsertIntoIvfIndex(spark, dir, batch)
    // sidecar and cells carry each id exactly once
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == 60 && cells.select("id").distinct().count() == 60)
    // full-probe search equals brute force over old∪new — replaced ids
    // must rank by their new vectors
    val union = ((1L to 39L).map(i => (i, vec(i))) ++
      (40L to 60L).map(i => (i, vec(i, shift = 2.5)))).toDF("id", "v")
    val qs45 = Seq((45L, vec(45L, shift = 2.5))).toDF("qid", "qv")
    val got = Ann.searchIvfIndex(spark, dir, qs45, k = 5, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Ann.bruteForceTopK(union, qs45, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want, "upserted index diverged from brute force over old∪new")
    // a deleted-but-not-compacted id upserts cleanly
    IndexFiles.writeTombstones(Seq(10L).toDF("id"), dir)
    Ann.upsertIntoIvfIndex(spark, dir, Seq((10L, vec(10L, 1.0))).toDF("id", "v"))
    val q10 = Seq((10L, vec(10L, 1.0))).toDF("qid", "qv")
    val top = Ann.searchIvfIndex(spark, dir, q10, k = 1, nprobe = 4)
      .select("id").as[Long].head()
    assert(top == 10L, s"re-upserted deleted id not searchable, top=$top")
  }

  test("upsert siblings: sparse, binary, and IVF-PQ replace-or-insert cleanly") {
    def vec(i: Long, shift: Double = 0.0) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17 + shift))
    val root = java.nio.file.Files.createTempDirectory("upsertfam").toString
    // sparse: doc 5's postings replaced, doc 21 fresh
    def post(lo: Long, hi: Long, w: Double = 1.0) =
      (lo to hi).flatMap(i => Seq((i, i % 7, w), (i, 7 + i % 5, w)))
    Ann.buildSparseIndex(post(1L, 20L).toDF("id", "term", "w"),
      s"$root/sp", buckets = 4)
    Ann.upsertIntoSparseIndex(spark, s"$root/sp",
      post(5L, 5L, w = 9.0).toDF("id", "term", "w")
        .union(post(21L, 21L).toDF("id", "term", "w")))
    val sp = spark.read.parquet(s"$root/sp/postings")
    assert(sp.select("id").distinct().count() == 21)
    assert(sp.filter(col("id") === 5L && col("w") === 9.0).count() == 2,
      "doc 5's postings not replaced")
    assert(sp.filter(col("id") === 5L).count() == 2, "old postings leaked")
    // binary: id 3 replaced with a flipped vector, id 41 fresh
    Ann.buildBinaryIndex((1L to 40L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$root/bin", dim)
    Ann.upsertIntoBinaryIndex(spark, s"$root/bin",
      Seq((3L, vec(3L, 2.5)), (41L, vec(41L))).toDF("id", "v"))
    val q3 = Seq((3L, vec(3L, 2.5))).toDF("qid", "qv")
    assert(Ann.searchBinaryIndex(spark, s"$root/bin", q3, k = 1)
      .select("id").as[Long].head() == 3L)
    assert(spark.read.parquet(s"$root/bin/bits").count() == 41)
    // IVF-PQ: id 7 replaced, id 61 fresh; self-retrieval of the NEW code
    Ann.buildIvfPqIndex((1L to 60L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$root/pq", nlist = 4, m = 4, ksub = 8)
    Ann.upsertIntoIvfPqIndex(spark, s"$root/pq",
      Seq((7L, vec(7L, 2.5)), (61L, vec(61L))).toDF("id", "v"))
    val codes = spark.read.parquet(s"$root/pq/codes")
    assert(codes.count() == 61 && codes.select("id").distinct().count() == 61)
    val q7 = Seq((7L, vec(7L, 2.5))).toDF("qid", "qv")
    assert(Ann.searchIvfPqIndex(spark, s"$root/pq", q7, k = 1, nprobe = 4)
      .select("id").as[Long].head() == 7L)
  }

  test("searchIvfIndexFiltered: allowed-id restriction applies before the rank") {
    val dir = java.nio.file.Files.createTempDirectory("ivffilt").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 4)
    val allowed = (1L to 200L by 2L).toDF("id") // odd ids only
    val got = Ann.searchIvfIndexFiltered(spark, dir, qs, k = 10, allowed,
        nprobe = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty && got.forall(_._2 % 2 == 1), "even id leaked through")
    // at full probe: equals brute force over the allowed subset — the
    // proof the filter runs BEFORE ranking (k hits, not k-minus-filtered)
    val full = Ann.searchIvfIndexFiltered(spark, dir, qs, k = 10, allowed,
        nprobe = 4).count()
    val bf = Ann.searchIvfIndexFiltered(spark, dir, qs, k = 10, allowed,
        nprobe = 16)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val want = Ann.bruteForceTopK(
        corpus.filter(col("id") % 2 === 1), qs, k = 10)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(bf == want, "full-probe filtered search diverged from filtered brute force")
    assert(full == 50, s"expected 10 hits per query, got $full")
  }

  test("aliases: blue-green swap repoints searches atomically") {
    import graft.operators.Aliases
    val root = java.nio.file.Files.createTempDirectory("alias").toString
    val reg = s"$root/aliases"
    def vec(i: Long, shift: Double = 0.0) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17 + shift))
    // blue: ids 1-50; green: same ids, shifted vectors (a "retrain")
    Ann.buildIvfIndex((1L to 50L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$root/blue", nlist = 4)
    Ann.buildIvfIndex((1L to 50L).map(i => (i, vec(i, 2.5))).toDF("id", "v"),
      s"$root/green", nlist = 4)
    Aliases.createAlias(spark, reg, "prod", s"$root/blue")
    // double-create must not hijack the live name
    intercept[IllegalArgumentException] {
      Aliases.createAlias(spark, reg, "prod", s"$root/green")
    }
    val qBlue = Seq((7L, vec(7L))).toDF("qid", "qv")
    val hitBlue = Ann.searchIvfIndex(spark,
      Aliases.resolveAlias(spark, reg, "prod"), qBlue, k = 1, nprobe = 4)
      .select("id").as[Long].head()
    assert(hitBlue == 7L)
    // the swap: searches issued after alter resolve to green
    Aliases.alterAlias(spark, reg, "prod", s"$root/green")
    val qGreen = Seq((7L, vec(7L, 2.5))).toDF("qid", "qv")
    val hitGreen = Ann.searchIvfIndex(spark,
      Aliases.resolveAlias(spark, reg, "prod"), qGreen, k = 1, nprobe = 4)
      .select("id").as[Long].head()
    assert(hitGreen == 7L)
    assert(Aliases.listAliases(spark, reg)
      .as[(String, String)].collect().toSet == Set("prod" -> s"$root/green"))
    Aliases.dropAlias(spark, reg, "prod")
    intercept[IllegalArgumentException] {
      Aliases.resolveAlias(spark, reg, "prod")
    }
    // path-traversal names rejected
    intercept[IllegalArgumentException] {
      Aliases.createAlias(spark, reg, "../evil", s"$root/blue")
    }
  }

  test("aliases: blue-green swap over the sparse/BM25 index family") {
    import graft.operators.Aliases
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("aliassp").toString
    val reg = s"$root/aliases"
    // blue: half the corpus; green: the full "re-crawl" — the swap must
    // make doc 60 (green-only) findable through the SAME alias
    def postings(n: Long) = (1L to n).flatMap(i =>
      Seq((i, i % 7, 2.0), (i, i % 5 + 100, 1.0), (i, 777L, 1.0)))
      .toDF("id", "term", "w")
    Ann.buildSparseIndex(postings(30L), s"$root/blue", buckets = 8)
    Ann.buildSparseIndex(postings(60L), s"$root/green", buckets = 8)
    Aliases.createAlias(spark, reg, "sparse_prod", s"$root/blue")
    val qterms = Seq((1L, 60L % 7, 2.0), (1L, 60L % 5 + 100, 1.0))
      .toDF("qid", "term", "qw")
    def searchVia(bm25: Boolean) = {
      val dir = Aliases.resolveAlias(spark, reg, "sparse_prod")
      if (bm25) Ann.searchSparseIndexBm25(spark, dir,
        qterms.select("qid", "term").distinct(), k = 60)
      else Ann.searchSparseIndex(spark, dir, qterms, k = 60)
    }
    val blueIds = searchVia(bm25 = false).select("id").as[Long].collect().toSet
    assert(blueIds.nonEmpty && !blueIds.contains(60L),
      s"blue index must not know doc 60: $blueIds")
    // the swap: weight-sum AND BM25 searches resolve to green — BM25
    // exercises the doclens/stats sidecars through the alias too
    Aliases.alterAlias(spark, reg, "sparse_prod", s"$root/green")
    val greenIds = searchVia(bm25 = false).select("id").as[Long].collect().toSet
    assert(greenIds.contains(60L), s"swap did not repoint: $greenIds")
    val bm25Ids = searchVia(bm25 = true).select("id").as[Long].collect().toSet
    assert(bm25Ids.contains(60L), s"BM25 path did not repoint: $bm25Ids")
    // green results equal a direct (alias-free) search — the resolver
    // adds no behavior, only indirection
    val direct = Ann.searchSparseIndex(spark, s"$root/green", qterms, k = 60)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val aliased = searchVia(bm25 = false)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(aliased == direct, "aliased search diverged from direct search")
  }

  test("describeIndex + dropIndex: stats name every stored table; drop removes the index") {
    import graft.operators.IndexFiles
    val dir = java.nio.file.Files.createTempDirectory("descidx").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 4)
    val desc = IndexFiles.describeIndex(spark, dir)
      .select("table", "rows", "kind").as[(String, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(desc("cells") == (200L, "payload"), s"got $desc")
    assert(desc("ids") == (200L, "sidecar"))
    assert(desc.get("_pending_append").isEmpty)
    // tombstoned ids surface as their own row
    IndexFiles.writeTombstones(Seq(1L, 2L).toDF("id"), dir)
    val desc2 = IndexFiles.describeIndex(spark, dir)
      .select("table", "rows", "kind").as[(String, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(desc2("deleted") == (2L, "tombstones"), s"got $desc2")
    // an interrupted append's journal shows up as a pending row
    Seq(900L, 901L).toDF("id").write.parquet(s"$dir/_pending_append")
    val desc3 = IndexFiles.describeIndex(spark, dir)
      .select("table", "rows", "kind").as[(String, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(desc3("_pending_append") == (2L, "journal"), s"got $desc3")
    new org.apache.hadoop.fs.Path(s"$dir/_pending_append")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/_pending_append"), true)
    // drop_collection: the whole index dir is gone
    IndexFiles.dropIndex(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    intercept[IllegalArgumentException] { IndexFiles.describeIndex(spark, dir) }
  }

  test("searchIterator: drained pages reproduce the full ranking in order; ragged queries exhaust independently") {
    val full = Ann.bruteForceTopK(corpus, qs, k = 200)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toList).toMap
    // 200 corpus rows, pages of 66 → 66+66+66+2
    val pager = Ann.searchIterator(corpus, qs, pageSize = 66)
    val pages = pager.toList
    assert(pages.length == 4, s"expected 4 pages (66*3+2), got ${pages.length}")
    val walked = pages.zipWithIndex.flatMap { case (p, i) =>
      p.select("qid", "id", "rank").as[(Long, Long, Int)].collect()
        .map { case (q, id, r) => (q, id, i * 66 + r) } // page-local → global
    }.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toList).toMap
    pager.close() // release the final page (see the SearchPager test)
    assert(walked.keySet == full.keySet)
    walked.foreach { case (q, ids) =>
      assert(ids == full(q), s"query $q walked ranking diverged")
    }
    // cursor page equals the offset page: mechanics agree with pagedTopK
    val p1 = Ann.searchIteratorPage(corpus, qs, pageSize = 10)
    val cur = p1.filter(col("rank") === 10)
      .select(col("qid"), col("score").as("cur_score"), col("id").as("cur_id"))
    val viaCursor = Ann.searchIteratorPage(corpus, qs, pageSize = 10,
        cursors = Some(cur))
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val viaOffset = Ann.pagedTopK(corpus, qs, k = 10, offset = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(viaCursor == viaOffset)
  }

  test("searchIteratorPage: null-cursor marker means exhausted, absent means from-the-top") {
    val p1 = Ann.searchIteratorPage(corpus, qs, pageSize = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    // one query exhausted (null cur_id), one resuming mid-ranking, the
    // rest absent (restart from the top)
    val cur2 = Ann.searchIteratorPage(corpus, qs.filter(col("qid") === 2), pageSize = 10)
      .filter(col("rank") === 10)
      .select(col("qid"), col("score").as("cur_score"), col("id").as("cur_id"))
    val cursors = Seq((1L, Option.empty[Double], Option.empty[Long]))
      .toDF("qid", "cur_score", "cur_id")
      .unionByName(cur2)
    val out = Ann.searchIteratorPage(corpus, qs, pageSize = 10,
        cursors = Some(cursors))
      .select("qid", "id").as[(Long, Long)].collect()
    assert(!out.exists(_._1 == 1L), "explicitly exhausted query must yield no rows")
    val q2page2 = Ann.pagedTopK(corpus, qs.filter(col("qid") === 2), k = 10, offset = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(out.filter(_._1 == 2L).toSet == q2page2, "cursor query must resume, not restart")
    (3L to 5L).foreach { q =>
      assert(out.filter(_._1 == q).toSet == p1.filter(_._1 == q),
        s"query $q absent from cursors must restart from the top")
    }
  }

  test("SearchPager: close() releases the in-flight persisted page (drained and abandoned)") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    corpus.count() // materialize the fixture cache before the baseline diff
    // pageSize 70 is unique to this test: an identical page plan cached
    // by another test would make persist() a CacheManager no-op and
    // poison the persistent-RDD diff
    // drained: the final page stays persisted until close()
    val before = persisted
    val it = Ann.searchIterator(corpus, qs, pageSize = 70)
    val pages = it.toList
    assert(pages.length == 3)
    assert((persisted -- before).nonEmpty, "final page should still be persisted pre-close")
    it.close()
    assert((persisted -- before).isEmpty, "close() after drain must release the final page")
    // abandoned mid-drain: close() releases the current page
    val it2 = Ann.searchIterator(corpus, qs, pageSize = 70)
    it2.next()
    assert((persisted -- before).nonEmpty)
    it2.close()
    assert((persisted -- before).isEmpty, "close() mid-drain must release the in-flight page")
    assert(!it2.hasNext, "a closed pager is drained")
    it2.close() // idempotent
  }

  test("filteredTopK: predicate excludes rows before scoring") {
    val corpusF = corpus.withColumn("label", (col("id") % 2).cast("int"))
    val out = Ann.filteredTopK(corpusF, qs, k = 10, predicate = "label = 0")
      .select("qid", "id").as[(Long, Long)].collect()
    assert(out.length == 50 && out.forall(_._2 % 2 == 0))
    val direct = Ann.bruteForceTopK(corpus.filter(col("id") % 2 === 0), qs, k = 10)
      .select("qid", "id").as[(Long, Long)].collect()
    assert(out.toSet == direct.toSet)
  }

  test("binarizeSign/hammingDist: hand-checked packing, multi-word dims, popcount") {
    import graft.functions.{VectorFunctions => V}
    val df = Seq((Seq(1.0, -2.0, 0.5, -0.1, -9.0), Seq(-1.0, -2.0, 0.5, 0.2, 3.0)))
      .toDF("a", "b")
    val (wa, wb, h) = df.select(
        V.binarizeSign(col("a"), 5).as("wa"), V.binarizeSign(col("b"), 5).as("wb"),
        V.hammingDist(V.binarizeSign(col("a"), 5), V.binarizeSign(col("b"), 5)).as("h"))
      .as[(Seq[Long], Seq[Long], Long)].head()
    assert(wa == Seq(5L))  // bits 0,2 -> 0b00101
    assert(wb == Seq(28L)) // bits 2,3,4 -> 0b11100
    assert(h == 3)         // xor = 0b11001
    // dim 70 packs into two words; bit 69 lands in word 1 bit 5
    val wide = Seq(Tuple1(Seq.tabulate(70)(j => if (j == 0 || j == 69) 1.0 else -1.0)))
      .toDF("v").select(V.binarizeSign(col("v"), 70).as("w")).as[Seq[Long]].head()
    assert(wide == Seq(1L, 1L << 5))
  }

  test("binaryTopK: self at hamming 0 rank 1; distances equal sign-mismatch counts") {
    val out = Ann.binaryTopK(corpus, qs, k = 10, dim = dim)
      .select("qid", "id", "hamming", "rank").as[(Long, Long, Long, Int)].collect()
    assert(out.length == 50)
    assert(out.filter(_._4 == 1).forall(r => r._1 == r._2 && r._3 == 0L))
    // cross-check every returned distance against a Scala-side count
    val vecs = corpus.as[(Long, Seq[Double])].collect().toMap
    out.foreach { case (qid, id, ham, _) =>
      val expected = vecs(qid).zip(vecs(id)).count { case (a, b) => (a > 0) != (b > 0) }
      assert(ham == expected, s"($qid,$id) hamming $ham != $expected")
    }
  }

  test("binary index lifecycle: round trip bit-equal; append=rebuild; replay throws; delete/compact") {
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val direct = asSet(Ann.binaryTopK(corpus, qs, k = 10, dim = dim))
    val dir = java.nio.file.Files.createTempDirectory("binidx").toString + "/idx"
    Ann.buildBinaryIndex(corpus, dir, dim)
    assert(asSet(Ann.searchBinaryIndex(spark, dir, qs, k = 10)) == direct,
      "persisted binary search diverged from binaryTopK")
    // append-then-search equals an index rebuilt on the union corpus
    val dirApp = java.nio.file.Files.createTempDirectory("binapp").toString + "/idx"
    Ann.buildBinaryIndex(corpus.filter(col("id") <= 100L), dirApp, dim)
    Ann.appendToBinaryIndex(spark, dirApp, corpus.filter(col("id") > 100L))
    assert(asSet(Ann.searchBinaryIndex(spark, dirApp, qs, k = 10)) == direct,
      "appended binary index diverged from rebuild")
    // replayed id fails fast; wrong-dim batch fails fast
    val replay = intercept[IllegalArgumentException] {
      Ann.appendToBinaryIndex(spark, dirApp, corpus.filter(col("id") === 1L))
    }
    assert(replay.getMessage.contains("already exists"), replay.getMessage)
    val wrongDim = intercept[IllegalArgumentException] {
      Ann.appendToBinaryIndex(spark, dirApp,
        Seq((999L, Seq.fill(dim / 2)(1.0))).toDF("id", "v"))
    }
    assert(wrongDim.getMessage.contains("dimension"), wrongDim.getMessage)
    // tombstoned search equals binaryTopK over the survivors; compaction
    // is bit-equal and physically purges
    val dead = direct.map(_._2).take(2).toSeq
    IndexFiles.writeTombstones(dead.toDF("id"), dir)
    val survivors = asSet(Ann.binaryTopK(
      corpus.filter(!col("id").isin(dead: _*)), qs, k = 10, dim = dim))
    assert(asSet(Ann.searchBinaryIndex(spark, dir, qs, k = 10)) == survivors,
      "tombstoned ids still ranked")
    IndexFamily.binary.compact(spark, dir)
    assert(asSet(Ann.searchBinaryIndex(spark, dir, qs, k = 10)) == survivors,
      "compacted binary index diverged")
    assert(spark.read.parquet(s"$dir/bits")
      .filter(col("id").isin(dead: _*)).count() == 0, "purge left dead rows")
    // the packed table stores words, not floats: ceil(dim/64) longs/row
    val widths = spark.read.parquet(s"$dir/bits")
      .select(size(col("cb"))).distinct().as[Int].collect().toSeq
    assert(widths == Seq((dim + 63) / 64), s"packed widths $widths")
  }

  test("binaryTopK: dimension mismatch fails fast instead of mis-ranking") {
    // dim smaller than the vectors would silently ignore tail components
    val small = intercept[IllegalArgumentException] {
      Ann.binaryTopK(corpus, qs, k = 5, dim = dim / 2)
    }
    assert(small.getMessage.contains("dimension"), small.getMessage)
    val big = intercept[IllegalArgumentException] {
      Ann.binaryTopK(corpus, qs, k = 5, dim = dim * 2)
    }
    assert(big.getMessage.contains("dimension"), big.getMessage)
  }

  test("append dim guard probes past null vectors instead of NPE-ing") {
    val dir = java.nio.file.Files.createTempDirectory("nullprobe").toString + "/idx"
    Ann.buildIvfIndex(corpus, dir, nlist = 4)
    // first row's vector is null, second has the WRONG dimension: the
    // guard must skip the null and still diagnose the mismatch
    val bad = Seq((300L, None: Option[Seq[Double]]),
      (301L, Some(Seq.fill(dim / 2)(0.5)))).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      Ann.appendToIvfIndex(spark, dir, bad)
    }
    assert(ex.getMessage.contains("dimension"), ex.getMessage)
  }

  test("compact on a crashed-swap index points at the _old rename-back repair") {
    val postings = Seq((1L, 10L, 1.0), (2L, 11L, 1.0)).toDF("id", "term", "w")
    val dir = java.nio.file.Files.createTempDirectory("crashedswap").toString + "/idx"
    Ann.buildSparseIndex(postings, dir, buckets = 4)
    IndexFiles.writeTombstones(Seq(1L).toDF("id"), dir)
    // simulate the crash-between-renames window: live table renamed
    // aside, staged copy never made it in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/postings"),
      new org.apache.hadoop.fs.Path(s"$dir/postings_old")))
    val ex = intercept[IllegalArgumentException] {
      Ann.compactSparseIndex(spark, dir)
    }
    assert(ex.getMessage.contains("rename it back"), ex.getMessage)
  }

  test("bm25TopK: scores match the Robertson/Lucene formula on a hand corpus") {
    val postings = Seq((1L, 10, 2.0), (1L, 11, 1.0), (2L, 10, 1.0), (2L, 12, 1.0),
      (3L, 11, 2.0)).toDF("id", "term", "tf")
    val qterms = Seq((1L, 10), (1L, 11)).toDF("qid", "term")
    val out = Ann.bm25TopK(postings, qterms, k = 3)
      .select("qid", "id", "score", "rank").as[(Long, Long, Double, Int)].collect()
    def idf(df: Double, n: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double, avgdl: Double) =
      tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    val avgdl = (3.0 + 2.0 + 2.0) / 3
    val exp1 = BigDecimal(idf(2, 3) * w(2, 3, avgdl) + idf(2, 3) * w(1, 3, avgdl))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got1 = out.find(r => r._1 == 1L && r._2 == 1L).get._3
    assert(got1 == exp1, s"doc1 bm25 $got1 != $exp1")
    // doc1 matches both terms and is the longest; it still outranks the
    // single-term docs because it carries both idf contributions
    assert(out.find(_._4 == 1).get._2 == 1L)
    assert(out.length == 3)
  }

  test("refineTopK: factor covering the corpus reproduces exact brute force") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id", "score", "rank").as[(Long, Long, Double, Int)].collect().toSet
    val full = Ann.refineTopK(corpus, qs, k = 10, factor = 20) // 200 cands = |corpus|
      .select("qid", "id", "score", "rank").as[(Long, Long, Double, Int)].collect().toSet
    assert(full == exact, "refine over the whole corpus diverged from brute force")
    // a thin candidate set still keeps self first and high overlap
    val thin = Ann.refineTopK(corpus, qs, k = 10, factor = 3)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(thin.filter(_._3 == 1).forall(r => r._1 == r._2))
    val overlap = thin.map(r => (r._1, r._2)).toSet
      .intersect(exact.map(r => (r._1, r._2))).size.toDouble / exact.size
    assert(overlap >= 0.9, s"refine@factor=3 overlap $overlap below 0.9")
  }

  test("ivfPqTopK: full-probe ADC recall@10 >= 0.8 vs exact l2; deterministic; exact fallback") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10, metric = "l2")
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val full = Ann.ivfPqTopK(corpus, qs, k = 10, nlist = 8, nprobe = 8, m = 4, ksub = 16)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect full).size.toDouble / exact.size
    assert(recall >= 0.8, s"full-probe recall $recall below 0.8")
    // partial probe: residual reconstruction keeps self near the top
    val part = Ann.ivfPqTopK(corpus, qs, k = 10, nlist = 8, nprobe = 4, m = 4, ksub = 16)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    (1 to 5).foreach { qid =>
      val selfRank = part.find(r => r._1 == qid && r._2 == qid).map(_._3)
      assert(selfRank.exists(_ <= 3), s"query $qid self-rank $selfRank")
    }
    val again = Ann.ivfPqTopK(corpus, qs, k = 10, nlist = 8, nprobe = 8, m = 4, ksub = 16)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(again == full, "same seed produced different rankings")
    // corpus no bigger than the cell count: exact brute-force fallback
    val fb = Ann.ivfPqTopK(corpus.filter(col("id") <= 8), qs, k = 5, nlist = 8, m = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(fb.length == 25 && fb.filter(_._3 == 1).forall(r => r._1 == r._2))
  }

  test("buildIvfPqIndex + searchIvfPqIndex: persisted search matches direct ivfPqTopK") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/idx"
    Ann.buildIvfPqIndex(corpus, dir, nlist = 8, m = 4, ksub = 16)
    val persisted = Ann.searchIvfPqIndex(spark, dir, qs, k = 10, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Ann.ivfPqTopK(corpus, qs, k = 10, nlist = 8, nprobe = 4, m = 4, ksub = 16)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(persisted == direct && persisted.nonEmpty, "round trip changed results")
    // cell-partitioned code layout (under the build's src segment),
    // raw vectors nowhere in the index
    val cellDirs = new java.io.File(s"$dir/codes/src=base").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.length == 8, s"got ${cellDirs.toSeq}")
    assert(!spark.read.parquet(s"$dir/codes").columns.contains("v"))
    // empty query set -> empty result, not a failure
    val noQs = Seq.empty[(Long, Seq[Double])].toDF("qid", "qv")
    assert(Ann.searchIvfPqIndex(spark, dir, noQs, k = 5).count() == 0)
  }

  test("appendToIvfPqIndex: codes assigned through STORED codebooks; replay fails fast") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqapp").toString + "/idx"
    Ann.buildIvfPqIndex(corpus.filter(col("id") <= 100), dir, nlist = 8, m = 4, ksub = 16)
    Ann.appendToIvfPqIndex(spark, dir, corpus.filter(col("id") > 100))
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == 200 && codes.select("id").distinct().count() == 200)
    // recompute a few appended rows' cells and codes through the STORED
    // artifacts — the append docstring's determinism claim
    val cb = spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    val pqRows = spark.read.parquet(s"$dir/pq")
      .select("sub", "code", "vec").collect()
    val m = pqRows.map(_.getInt(0)).max + 1
    val cbs = Array.ofDim[Array[Double]](m, pqRows.map(_.getInt(1)).max + 1)
    pqRows.foreach(r => cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val vecs = corpus.as[(Long, Seq[Double])].collect().toMap
    val appended = codes.filter(col("id") > 100)
      .select("id", "cell", "codes").as[(Long, Int, Seq[Int])].collect()
    assert(appended.length == 100)
    appended.take(20).foreach { case (id, cell, stored) =>
      val v = vecs(id).toArray
      def dot(c: Array[Double]) = c.zip(v).map { case (a, b) => a * b }.sum
      assert(dot(cb(cell)) >= cb.map(dot).max - 1e-9, s"id $id not in nearest cell")
      val res = v.zip(cb(cell)).map { case (a, b) => a - b }
      val dsub = res.length / m
      val expect = (0 until m).map { j =>
        val sub = res.slice(j * dsub, (j + 1) * dsub)
        cbs(j).zipWithIndex.minBy { case (c, ci) =>
          (c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum, ci)
        }._2
      }
      assert(stored == expect, s"id $id codes $stored != recomputed $expect")
    }
    // an appended vector is findable: querying with id 150's own vector
    // ranks it at the top at full probe
    val q150 = corpus.filter(col("id") === 150L)
      .select(col("id").as("qid"), col("v").as("qv"))
    // codebooks were trained on the FIRST half only, so the appended
    // half carries extra quantization error — top-5 of 200 is the
    // searchability bar, not top-1
    val hit = Ann.searchIvfPqIndex(spark, dir, q150, k = 5, nprobe = 8)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect()
    assert(hit.exists(r => r._2 == 150L && r._3 <= 5),
      s"appended self-retrieval missed: ${hit.toSeq}")
    // replayed id fails fast; empty batch is a no-op
    val err = intercept[IllegalArgumentException] {
      Ann.appendToIvfPqIndex(spark, dir, corpus.filter(col("id") === 5L))
    }
    assert(err.getMessage.contains("already exists"), err.getMessage)
    Ann.appendToIvfPqIndex(spark, dir, corpus.filter(lit(false)))
    assert(spark.read.parquet(s"$dir/codes").count() == 200)
  }

  test("ivfTopK: trained codebook recall@10 >= 0.8 vs brute force at nprobe=4") {
    val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(corpus, qs, k = 10, nlist = 8, nprobe = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8")
  }

  // ---- rerank (the reference's /rerank endpoint, m3_server_v2.py:283) ----

  private lazy val rerankDocs = (1L to 20L)
    .map(i => (i, s"passage text number $i about topic ${i % 4}"))
  private lazy val rerankQs = Seq((1L, "what is topic one"), (2L, "tell me topic two"))

  test("rerankTopK: covering candidates reproduce pure stub-fusion ordering") {
    import graft.operators.Tag
    val passages = rerankDocs.toDF("id", "ptext")
    val queries = rerankQs.toDF("qid", "qtext")
    val allCand = rerankQs.flatMap { case (q, _) => rerankDocs.map(d => (q, d._1)) }
      .toDF("qid", "id")
    val got = Ann.rerankTopK(allCand, queries, passages, k = 20)
      .select("qid", "id", "ce_score", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == 40, s"expected 2×20 reranked rows, got ${got.length}")
    // oracle: score every pair directly with the stub and rank in memory
    rerankQs.foreach { case (qid, qt) =>
      val want = rerankDocs.map { case (id, pt) =>
        val s = Tag.stubRerankCall(Seq((qt, pt))).head.doubleValue
        // Spark round() semantics: BigDecimal HALF_UP at scale 6
        (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, s), r) => (qid, id, s, r + 1) }
      val mine = got.filter(_._1 == qid).sortBy(_._4).toSeq
      assert(mine == want, s"\nmine $mine\nwant $want")
    }
  }

  test("rerankTopK: weights are exercised — single-mode weights rank by that mode alone") {
    import graft.operators.Tag
    val passages = rerankDocs.toDF("id", "ptext")
    val queries = rerankQs.take(1).toDF("qid", "qtext")
    val cand = rerankDocs.map(d => (1L, d._1)).toDF("qid", "id")
    def modeScore(tag: String, q: String, p: String): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest((tag + "#" + q + "\u001f" + p).getBytes("UTF-8"))
      val hex = d.take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1000001L) / 1000000.0
    }
    val byMode = Seq("d" -> Seq(1.0, 0.0, 0.0), "s" -> Seq(0.0, 1.0, 0.0),
      "c" -> Seq(0.0, 0.0, 1.0)).map { case (tag, ws) =>
      val got = Ann.rerankTopK(cand, queries, passages, k = 20, weights = ws)
        .orderBy("rank").select("id").as[Long].collect().toSeq
      val want = rerankDocs
        .map { case (id, pt) => (id, modeScore(tag, rerankQs.head._2, pt)) }
        .sortBy { case (id, s) => (-s, id) }.map(_._1)
      assert(got == want, s"mode $tag: got $got want $want")
      got
    }
    // the three single-mode orderings must not all coincide (md5 modes
    // are independent), or the weights changed nothing
    assert(byMode.distinct.size > 1, "single-mode orderings all identical")
  }

  test("rerankTopK: candidate-bounded — only first-stage survivors are scored") {
    val passages = rerankDocs.toDF("id", "ptext")
    val queries = rerankQs.toDF("qid", "qtext")
    val cand = Seq((1L, 3L), (1L, 7L), (2L, 3L)).toDF("qid", "id")
    val got = Ann.rerankTopK(cand, queries, passages, k = 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (1L, 7L), (2L, 3L)),
      s"rerank escaped the candidate set: $got")
  }

  test("clusterBalancedSample: per-cell cap, deterministic rank, tombstones excluded, map-side prune") {
    val dir = java.nio.file.Files.createTempDirectory("csample").toString + "/idx"
    val vecs = (1 to 60).map(i =>
        (i.toLong, Seq.tabulate(8)(j => math.sin(i * 131 + j * 17))))
      .toDF("id", "v")
      // a zero-norm vector (failed embed) must be excluded at fit and
      // so never sampled
      .unionByName(Seq((999L, Seq.fill(8)(0.0))).toDF("id", "v"))
    Ann.buildIvfIndex(vecs, dir, nlist = 4)
    def sample(per: Int) = Ann.clusterBalancedSample(spark, dir, per)
    val rows = sample(5).as[(Long, Int, Long)].collect().toSeq
    assert(rows.forall(_._1 != 999L), "zero-norm vector surfaced")
    assert(rows.map(_._1).toSet.subsetOf((1 to 60).map(_.toLong).toSet))
    // cap + contiguous ranks from 1 within every cell
    rows.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.length <= 5, s"cell $c over cap: ${rs.length}")
      assert(rs.map(_._3).sorted == (1L to rs.length), s"cell $c ranks")
    }
    // a small corpus at nlist=4 has more than one populated cell — the
    // sample is BALANCED, not a global top-k
    assert(rows.map(_._2).distinct.size > 1, "all rows from one cell")
    // deterministic under re-run
    assert(sample(5).as[(Long, Int, Long)].collect().toSeq.sorted
      == rows.sorted)
    // tombstoned ids free their slots: survivors refill the ranks
    IndexFiles.writeTombstones(vecs.filter(col("id") <= 30).select("id"), dir)
    val after = sample(5).as[(Long, Int, Long)].collect().toSeq
    assert(after.forall(_._1 > 30L), s"tombstoned id surfaced: $after")
    after.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).sorted == (1L to rs.length),
        s"cell $c ranks did not refill after takedown") }
    // plan pin: the rank filter must keep Catalyst's map-side top-k
    // prune (the contrastiveTriplets lesson)
    val phys = sample(5).queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"),
      s"per-cell cap lost the WindowGroupLimit prune:\n$phys")
    // misconfiguration is loud
    intercept[IllegalArgumentException](sample(0))
  }
}
