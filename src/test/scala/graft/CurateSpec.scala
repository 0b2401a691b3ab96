package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Curate, IndexFiles}

class CurateSpec extends SparkSpec {
  import spark.implicits._

  test("contamination: flags docs sharing a shingle with the benchmark, counts hits") {
    val bench = Seq((100L, "the secret benchmark answer is forty two exactly")).toDF("id", "text")
    val corpus = Seq(
      (1L, "this doc leaks the secret benchmark answer is forty two exactly verbatim"),
      (2L, "an entirely unrelated document about gardening and weather patterns"),
      (3L, "partial leak: benchmark answer is forty two appears here")
    ).toDF("id", "text")
    val out = Curate.contamination(corpus, bench, "id", "text", w = 13)
      .as[(Long, Long)].collect().toMap
    assert(out.contains(1L) && out.contains(3L) && !out.contains(2L), s"got $out")
    // doc 1 contains the full benchmark text, so it hits every one of its
    // 13-char shingles; doc 3 only the suffix ones
    assert(out(1L) > out(3L))

    // the report form: totals, hits, fraction — zero-hit docs included
    val score = Curate.contaminationScore(corpus, bench, "id", "text", w = 13)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(score.keySet == Set(1L, 2L, 3L), "every corpus doc reports")
    assert(score(2L)._3 == 0L && score(2L)._4 == 0.0)
    score.values.foreach { case (_, n, h, f) =>
      assert(h <= n && f == math.rint(h.toDouble / n * 1e6) / 1e6, s"bad row ($n,$h,$f)")
    }
    // hit counts agree with the membership form
    assert(score(1L)._3 == out(1L) && score(3L)._3 == out(3L))
  }

  test("perplexityScore: matches a hand-computed add-1 bigram model") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b"),
      (3L, "c c c"),
      (4L, "   ")) // empty after tokenize -> absent from output
    // independent plain-Scala model over the same token streams
    val streams = docs.map { case (id, t) =>
      id -> "[a-z0-9]+".r.findAllIn(t.toLowerCase).toList
    }.filter(_._2.nonEmpty)
    val grams = streams.flatMap { case (id, ts) =>
      ("<s>" :: ts.init).zip(ts).map(g => (id, g._1, g._2))
    }
    val cb = grams.groupBy(g => (g._2, g._3)).view.mapValues(_.size.toDouble)
    val cu = grams.groupBy(_._2).view.mapValues(_.size.toDouble)
    val v = grams.map(_._3).distinct.size.toDouble
    val expect = grams.groupBy(_._1).map { case (id, gs) =>
      val x = gs.map { case (_, p, w) =>
        -math.log((cb((p, w)) + 1.0) / (cu(p) + v)) }.sum / gs.size
      id -> (gs.size.toLong,
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = Curate.perplexityScore(docs.toDF("id", "text"), "id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(!got.contains(4L))
    // doc 3's tokens are the corpus-rare ones -> highest cross-entropy
    assert(got(3L)._2 > got(1L)._2 && got(3L)._2 > got(2L)._2)
  }

  test("importanceWeight: matches a hand-computed hashed-ngram likelihood ratio") {
    val B = 64
    def h32(seed: Int, s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed#$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    def feats(t: String): List[Long] = {
      val ts = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toList
      ts.map(w => h32(31, w) % B) ++
        ts.zip(ts.drop(1)).map { case (p, w) => h32(37, s"$p $w") % B }
    }
    val target = Seq((100L, "clean wiki prose about science"),
      (101L, "more clean prose about history"))
    val corpus = Seq((1L, "clean prose about science topics"),
      (2L, "spam buy now cheap pills"), (3L, ""))
    val ctM = target.flatMap(d => feats(d._2))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val tt = ctM.values.sum
    val crM = corpus.flatMap(d => feats(d._2))
      .groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val tr = crM.values.sum
    val expect = corpus.filter(d => feats(d._2).nonEmpty).map { case (id, t) =>
      val fs = feats(t)
      val lw = fs.map(b => math.log((ctM.getOrElse(b, 0.0) + 1.0) / (tt + B))
        - math.log((crM(b) + 1.0) / (tr + B))).sum
      id -> (fs.size.toLong,
        BigDecimal(lw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = Curate.importanceWeight(corpus.toDF("id", "text"),
        target.toDF("id", "text"), "id", "text", buckets = B)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(!got.contains(3L)) // featureless doc absent
    // the target-like doc outscores the spam doc
    assert(got(1L)._2 > got(2L)._2)
  }

  test("gopherFilter: each rule trips independently; zero-word docs absent") {
    val good = "the quick brown fox and the lazy dog have gone to the market " +
      "with plenty of words that keep every single gopher rule happy today " +
      "because nothing here is strange or repetitive in any measurable way"
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "too few words to pass"),                 // word floor
      (3L, good + " ####### ##### #### ### ## # #"), // symbol ratio
      (4L, ("9999 8888 " * 20) + "the of and"),      // alpha ratio
      (5L, "x ".repeat(30).trim),                    // no stopwords, short words
      (6L, "   ")                                    // zero words -> absent
    ).toDF("id", "text")
    val out = Curate.gopherFilter(docs, "id", "text", minWords = 20)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("pass"), r.getAs[Long]("n_words"))).toMap
    assert(out(1L)._1 === true, s"good doc failed: ${out(1L)}")
    assert(out(2L)._1 === false && out(2L)._2 == 5L)
    assert(out(3L)._1 === false)
    assert(out(4L)._1 === false)
    assert(out(5L)._1 === false)
    assert(!out.contains(6L))
    // mean word length of doc 1 matches the obvious hand computation
    val ws = good.split("\\s+")
    val mean = BigDecimal(ws.map(_.length).sum.toDouble / ws.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val row = Curate.gopherFilter(docs, "id", "text", minWords = 20)
      .filter(col("id") === 1).collect().head
    assert(row.getAs[Double]("mean_word_len") == mean)
  }

  test("gopherPassCol: bit-identical verdicts to gopherFilter's pass column") {
    val docs = Seq(
      (1L, ("the quick brown fox jumps over and that was fine with " +
        "everyone involved today again tomorrow always maybe certainly done")),
      (2L, "too few words here"),                      // n_words < 20
      (3L, ""),                                        // zero words: frame drops it
      (4L, "   \t  "),                                 // whitespace only
      (5L, ("### ### ### the and that with be to of have " +
        "### ### ### ### ### ### ### ### ### ###")),   // symbol-heavy
      (6L, ("the and that with " +
        Seq.fill(20)("ab").mkString(" "))),            // short words drag mwl < 3
      (7L, ("the and that with " +
        Seq.fill(20)("12345").mkString(" "))))         // numeric: alpha ratio low
      .toDF("id", "text")
    val frame = Curate.gopherFilter(docs, "id", "text", minWords = 20)
      .filter(col("pass")).select("id").as[Long].collect().toSet
    val colForm = docs
      .filter(Curate.gopherPassCol(col("text"), minWords = 20))
      .select("id").as[Long].collect().toSet
    assert(colForm == frame, s"column $colForm vs frame $frame")
    // zero-word docs (absent from the frame form) must FAIL the column
    assert(!colForm.contains(3L) && !colForm.contains(4L))
  }

  test("c4Filter: each line and document rule trips independently") {
    val docs = Seq(
      (1L, "this line ends with a period.\nno terminal punct here\n" +
        "this one asks a question?"),                 // 2 of 3 lines kept
      (2L, "two words.\nanother good sentence right here."), // word floor
      (3L, "please enable javascript to proceed.\n" +
        "a fine closing sentence."),                   // javascript line
      (4L, "lorem ipsum dolor sit amet.\na fine closing sentence."),
      (5L, "var x = { a: 1 } is code.\na fine closing sentence."),
      (6L, "this doc mentions frak once.\na fine closing sentence."),
      (7L, "   \n  \n"),                               // blank-only page
      (8L, "first good sentence right here.\nsecond good sentence right " +
        "here!\nthird good \"sentence\"")              // ., !, closing quote
    ).toDF("id", "text")
    val out = Curate.c4Filter(docs, "id", "text", minLines = 2,
      badWords = Seq("frak")).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    def f(id: Long, c: String) = out(id).getAs[Boolean](c)
    def n(id: Long, c: String) = out(id).getAs[Long](c)
    // line rules: terminal punct, >=3 words, no 'javascript'
    assert(n(1L, "n_lines") == 3 && n(1L, "n_kept") == 2 && f(1L, "pass"))
    assert(out(1L).getAs[String]("clean") ==
      "this line ends with a period.\nthis one asks a question?")
    assert(n(2L, "n_kept") == 1 && !f(2L, "pass"))
    assert(n(3L, "n_kept") == 1 && !f(3L, "pass"))
    // document flags: each trips alone, lines themselves survive
    assert(n(4L, "n_kept") == 2 && f(4L, "has_lorem") && !f(4L, "pass"))
    assert(n(5L, "n_kept") == 2 && f(5L, "has_brace") && !f(5L, "pass"))
    assert(n(6L, "n_kept") == 2 && f(6L, "has_bad_word") && !f(6L, "pass"))
    assert(Seq("has_lorem", "has_brace", "has_bad_word")
      .forall(c => !f(1L, c) && !f(8L, c)))
    // blank-only page: present, zero lines, fails
    assert(n(7L, "n_lines") == 0 && !f(7L, "pass"))
    // all three terminal punctuation forms keep their lines
    assert(n(8L, "n_kept") == 3 && f(8L, "pass"))
    // bad-word match is exact-token: 'frak.' (punct attached) is no hit
    val attached = Seq((9L, "this mentions frak. with punct attached\n" +
      "a fine closing sentence.")).toDF("id", "text")
    assert(!Curate.c4Filter(attached, "id", "text", minLines = 1,
      badWords = Seq("frak")).collect().head.getAs[Boolean]("has_bad_word"))
  }

  test("budgetSample: hash-ordered prefix per stratum, distributed offsets exact") {
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s"41#$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16)
    }
    // ~60 docs, 2 budgeted strata + 1 unbudgeted; varied token counts
    val rows = (1L to 60L).map { i =>
      val lang = Seq("en", "zh", "xx")(((i % 3)).toInt)
      (i, (s"tok " * ((i % 7) + 1).toInt).trim, lang)
    }
    val df = rows.toDF("id", "text", "lang")
    val budgets = Map("en" -> 30L, "zh" -> 25L)
    // independent plain-Scala oracle: order by (hash, id), prefix-fill
    val expect = rows.filter(r => budgets.contains(r._3)).groupBy(_._3)
      .flatMap { case (lang, ds) =>
        var cum = 0L
        ds.sortBy(d => (h32(d._1.toString), d._1)).flatMap { d =>
          val n = d._2.split(" ").length.toLong
          cum += n
          if (cum <= budgets(lang)) Some((d._1, lang, n, cum)) else None
        }
      }.toSet
    // buckets=4 forces several non-trivial driver-side offsets
    val got = Curate.budgetSample(df, "id", "text", "lang", budgets,
      buckets = 4).as[(Long, String, Long, Long)].collect().toSet
    assert(got == expect, s"got $got expect $expect")
    assert(got.nonEmpty && !got.exists(_._2 == "xx"))
    // deterministic under repartitioning and a different bucket count
    val again = Curate.budgetSample(df.repartition(13), "id", "text",
      "lang", budgets, buckets = 7).as[(Long, String, Long, Long)]
      .collect().toSet
    assert(again == got)
  }

  test("contaminatedSpans / removeContaminatedSpans: surgical excision, hand-checked") {
    // bench sentence (>= 13 chars after normText) leaked into doc 10's
    // middle; doc 11 is a verbatim bench copy; doc 12 is clean
    val leak = "the secret benchmark answer is forty two"
    val bench = Seq((1L, leak)).toDF("id", "text")
    val pre = "perfectly ordinary prefix text "
    val post = " and an ordinary suffix closes it"
    val corpus = Seq(
      (10L, pre + leak + post),
      (11L, leak),
      (12L, "completely clean document with no overlap whatsoever"))
      .toDF("id", "text")
    val spans = Curate.contaminatedSpans(corpus, bench, "id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 10: a window matches only when it lies ENTIRELY inside the
    // leak occurrence, so the island is exactly the leak's char range
    val s10 = (pre.length + 1).toLong
    val e10 = (pre.length + leak.length).toLong
    assert(spans == Seq((10L, s10, e10, leak.length.toLong),
      (11L, 1L, leak.length.toLong, leak.length.toLong)), s"got $spans")
    val clean = Curate.removeContaminatedSpans(corpus, bench, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(clean(11L) == "", "verbatim bench copy must excise to empty")
    assert(clean(12L) == "completely clean document with no overlap whatsoever")
    assert(clean(10L) == pre + post, s"got '${clean(10L)}'")
    assert(!clean(10L).contains("secret benchmark"))
    // doc-level consistency: contamination's flagged set == docs with
    // >= 1 span (minHits = 1, minLen = w)
    val flagged = Curate.contamination(corpus, bench, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(flagged == spans.map(_._1).toSet)
  }

  test("decontaminate: clean side = corpus minus contaminated") {
    val bench = Seq((100L, "the secret benchmark answer is forty two exactly")).toDF("id", "text")
    val corpus = Seq(
      (1L, "this doc leaks the secret benchmark answer is forty two exactly verbatim"),
      (2L, "an entirely unrelated document about gardening and weather patterns")
    ).toDF("id", "text")
    val clean = Curate.decontaminate(corpus, bench, "id", "text", w = 13)
      .select("id").as[Long].collect().toSet
    assert(clean == Set(2L))
  }

  test("stratifiedSample: deterministic, respects per-stratum fractions, default drops") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "other"))
      .toDF("id", "lang")
    val kept = Curate.stratifiedSample(df, "id", "lang", Map("en" -> 0.5))
      .as[(Long, String)].collect()
    assert(kept.forall(_._2 == "en")) // default 0.0 drops "other"
    // 1000 'en' rows at 0.5: binomial(1000, .5) stays within ±5 sigma
    assert(math.abs(kept.length - 500) < 80, s"kept ${kept.length}")
    val again = Curate.stratifiedSample(df, "id", "lang", Map("en" -> 0.5))
      .as[(Long, String)].collect()
    assert(kept.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq) // stable re-run
    // fraction 1.0 keeps everything, 0.0 keeps nothing
    assert(Curate.stratifiedSample(df, "id", "lang",
      Map("en" -> 1.0, "other" -> 1.0)).count() == 2000)
    assert(Curate.stratifiedSample(df, "id", "lang", Map.empty, default = 0.0)
      .count() == 0)
  }

  test("stratifiedSample and holdoutSplit run unchanged on a stream (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("id", "lang")
    val q = Curate.holdoutSplit(
        Curate.stratifiedSample(sdf, "id", "lang", Map("en" -> 1.0)),
        "id", testFrac = 0.5)
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, "en"), (2L, "other"), (3L, "en"))
    q.processAllAvailable()
    val got = spark.table("curate_stream")
      .select("id", "lang", "split").as[(Long, String, String)].collect()
    q.stop()
    assert(got.map(_._1).toSet == Set(1L, 3L)) // "other" dropped mid-stream
    // same hash decision as the batch form
    val batch = Curate.holdoutSplit(
        Seq((1L, "en"), (3L, "en")).toDF("id", "lang"), "id", testFrac = 0.5)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got.forall(r => batch(r._1) == r._3))
  }

  test("perplexityScoreWith: reference LM, unseen floor; self-trained equals perplexityScore") {
    val ref = Seq((10L, "a b"), (11L, "a b")).toDF("id", "text")
    // corpus doc of entirely unseen tokens: (<s>,c) has the SEEN <s>
    // context (cu=2, cb=0 -> p=1/4); (c,d) is fully unseen (p = 1/V = 1/2)
    val corpus = Seq((1L, "c d"), (2L, "a b")).toDF("id", "text")
    val got = Curate.perplexityScoreWith(corpus, ref, "id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val unseenXent = (-math.log(1.0 / 4.0) - math.log(1.0 / 2.0)) / 2
    assert(got(1L)._2 == 2L &&
      got(1L)._3 == math.rint(unseenXent * 1e4) / 1e4, s"${got(1L)}")
    // doc "a b" under the ref model: p(a|<s>) = (2+1)/(2+2), p(b|a) = (2+1)/(2+2)
    val pab = -math.log(3.0 / 4.0)
    assert(got(2L)._3 == math.rint(pab * 1e4) / 1e4, s"${got(2L)}")
    // in-domain text scores lower than out-of-domain — the CCNet signal
    assert(got(2L)._3 < got(1L)._3)
    // self-trained special case is bit-equal to perplexityScore
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c c c")).toDF("id", "text")
    val self = Curate.perplexityScoreWith(docs, docs, "id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val plain = Curate.perplexityScore(docs, "id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(self == plain, s"\nself  $self\nplain $plain")
    // empty reference: V = 0 means there is no model — rows stay total
    // with NULL xent (never an infinity smuggled through round())
    val emptyRef = Seq.empty[(Long, String)].toDF("id", "text")
    val floored = Curate.perplexityScoreWith(corpus, emptyRef, "id", "text")
      .select("id", "xent").as[(Long, Option[Double])].collect()
    assert(floored.length == 2 && floored.forall(_._2.isEmpty))
  }

  test("temperatureMixtureStream: stream admissions equal the batch mixture") {
    import graft.streaming.StreamCurate
    implicit val sqlCtx = spark.sqlContext
    val ref = ((0L until 80L).map((_, "en")) ++ (80L until 100L).map((_, "de")))
      .toDF("id", "lang")
    val mem = MemoryStream[(Long, String)]
    val q = StreamCurate.temperatureMixtureStream(
        mem.toDF().toDF("id", "lang"), ref, "id", "lang",
        alpha = 0.5, budget = 50)
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode(OutputMode.Append()).start()
    // feed the ref corpus across two triggers (arrival order scrambled)
    val rows = (0L until 100L).map(i => (i, if (i < 80) "en" else "de"))
    mem.addData(rows.filter(_._1 % 2 == 0): _*)
    q.processAllAvailable()
    mem.addData(rows.filter(_._1 % 2 == 1): _*)
    q.processAllAvailable()
    val got = spark.table("mix_stream")
      .select("id", "stratum", "keep_ppm").as[(Long, String, Long)].collect()
    q.stop()
    val batch = Curate.temperatureMixture(ref, "id", "lang", 0.5, 50)
      .select("id", "stratum", "keep_ppm").as[(Long, String, Long)].collect()
    assert(got.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
      "stream admission must be arrival-order-independent and equal batch")
  }

  test("holdoutSplit: total, disjoint, deterministic, group-consistent") {
    val df = (0L until 1000L).map(i => (i, s"src${i % 50}")).toDF("id", "src")
    val out = Curate.holdoutSplit(df, "src", testFrac = 0.2)
      .select("id", "src", "split").as[(Long, String, String)].collect()
    assert(out.length == 1000 && out.forall(r => r._3 == "train" || r._3 == "test"))
    // same group key -> same side, always (no near-dup leakage)
    out.groupBy(_._2).values.foreach(g => assert(g.map(_._3).distinct.length == 1))
    // ~10 of 50 sources in test; binomial(50, .2) within ±5 sigma
    val testSrcs = out.filter(_._3 == "test").map(_._2).distinct.length
    assert(math.abs(testSrcs - 10) <= 15, s"$testSrcs test sources")
    val again = Curate.holdoutSplit(df, "src", testFrac = 0.2)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(out.forall(r => again(r._1) == r._3))
  }

  test("packSequences: offsets are a per-shard running sum; seq = start/budget") {
    val df = (0L until 50L).map(i => (i, Seq.fill(10)("tok").mkString(" ")))
      .toDF("id", "text") // every doc = exactly 10 tokens
    val out = Curate.packSequences(df, "id", "text", budget = 25, shards = 4)
      .select("id", "shard", "n_tok", "start_tok", "seq_id")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length == 50 && out.forall(_._3 == 10))
    // within each shard, ordered by id, offsets step by exactly n_tok
    out.groupBy(_._2).values.foreach { g =>
      val sorted = g.sortBy(_._1)
      sorted.zipWithIndex.foreach { case ((_, _, _, start, seq), i) =>
        assert(start == 10L * i, s"offset gap in $sorted")
        assert(seq == start / 25, "seq_id must be floor(start/budget)")
      }
    }
    // determinism: same shard assignment on re-run
    val again = Curate.packSequences(df, "id", "text", budget = 25, shards = 4)
      .select("id", "shard").as[(Long, Long)].collect().toMap
    assert(out.forall(r => again(r._1) == r._2))
  }

  test("temperatureMixture: thresholds match the hand formula; alpha edges") {
    // 400 docs of 'big', 100 of 'small' — known sizes for hand math
    val df = ((0L until 400L).map((_, "big")) ++ (400L until 500L).map((_, "small")))
      .toDF("id", "lang")
    def ppm(alpha: Double, budget: Long): Map[String, Long] = {
      val z = math.pow(400, alpha) + math.pow(100, alpha)
      Map(
        "big" -> math.rint(math.min(1.0,
          budget * (math.pow(400, alpha) / z) / 400) * 1e6).toLong,
        "small" -> math.rint(math.min(1.0,
          budget * (math.pow(100, alpha) / z) / 100) * 1e6).toLong)
    }
    for (alpha <- Seq(0.0, 0.5, 1.0); budget <- Seq(100L, 250L)) {
      val expect = ppm(alpha, budget)
      val got = Curate.temperatureMixture(df, "id", "lang", alpha, budget)
        .select("stratum", "keep_ppm").distinct()
        .as[(String, Long)].collect().toMap
      assert(got == expect, s"alpha=$alpha budget=$budget: $got vs $expect")
    }
    // alpha=1 is the natural distribution: every stratum keeps budget/N
    val nat = Curate.temperatureMixture(df, "id", "lang", 1.0, 250)
      .select("keep_ppm").distinct().as[Long].collect().toSet
    assert(nat == Set(500000L), s"alpha=1 must flatten to budget/N, got $nat")
    // alpha=0 is uniform over strata: expected budget/S docs each, so the
    // small stratum's keep fraction is 4x the big one's
    val uni = Curate.temperatureMixture(df, "id", "lang", 0.0, 100)
      .select("stratum", "keep_ppm").distinct().as[(String, Long)].collect().toMap
    assert(uni("small") == 4 * uni("big"), s"got $uni")
    // membership is the hash predicate exactly, stable under repartition
    val out = Curate.temperatureMixture(df, "id", "lang", 0.5, 250)
      .select("id").as[Long].collect().toSet
    val rep = Curate.temperatureMixture(df.repartition(13), "id", "lang", 0.5, 250)
      .select("id").as[Long].collect().toSet
    assert(out == rep, "must be repartition-invariant")
    // saturation: a budget >= N clamps every stratum at 1.0 (keep all)
    val all = Curate.temperatureMixture(df, "id", "lang", 0.5, 10000)
    assert(all.count() == 500 &&
      all.select("keep_ppm").distinct().as[Long].collect().toSet == Set(1000000L))
  }

  test("temperatureMixtureTokens: token-mass thresholds match the hand formula; NULL strata excluded") {
    // 'big': 10 docs x 100 tokens = 1000 tokens; 'small': 40 docs x 10
    // tokens = 400 tokens — doc counts and token masses DISAGREE on
    // which stratum is larger, so a doc-count mixture would weight
    // these strata in the opposite order
    val bigText = Seq.fill(100)("w").mkString(" ")
    val smallText = Seq.fill(10)("w").mkString(" ")
    val df = ((0L until 10L).map((_, "big", bigText)) ++
        (10L until 50L).map((_, "small", smallText)))
      .toDF("id", "lang", "text")
    def ppm(alpha: Double, budget: Long): Map[String, Long] = {
      val z = math.pow(1000, alpha) + math.pow(400, alpha)
      Map(
        "big" -> math.rint(math.min(1.0,
          budget * (math.pow(1000, alpha) / z) / 1000) * 1e6).toLong,
        "small" -> math.rint(math.min(1.0,
          budget * (math.pow(400, alpha) / z) / 400) * 1e6).toLong)
    }
    for (alpha <- Seq(0.0, 0.5, 1.0); budget <- Seq(300L, 700L)) {
      val expect = ppm(alpha, budget)
      val got = Curate.temperatureMixtureTokens(df, "id", "lang", "text",
          alpha, budget)
        .select("stratum", "keep_ppm").distinct()
        .as[(String, Long)].collect().toMap
      assert(got == expect, s"alpha=$alpha budget=$budget: $got vs $expect")
    }
    // alpha=1 natural: every stratum keeps budget/totalTokens
    val nat = Curate.temperatureMixtureTokens(df, "id", "lang", "text", 1.0, 700)
      .select("keep_ppm").distinct().as[Long].collect().toSet
    assert(nat == Set(500000L), s"alpha=1 must flatten to budget/T, got $nat")
    // NULL strata neither admit nor consume budget mass: with the NULL
    // rows present, real thresholds are identical to a frame without them
    val withNull = df.unionByName(
      Seq((900L, null: String, bigText), (901L, null: String, bigText))
        .toDF("id", "lang", "text"))
    val gotNull = Curate.temperatureMixtureTokens(withNull, "id", "lang",
        "text", 0.5, 700)
      .select("stratum", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(gotNull == ppm(0.5, 700L), s"NULL strata leaked into z: $gotNull")
    assert(Curate.temperatureMixtureTokens(withNull, "id", "lang", "text",
      0.5, 700).filter(col("id") >= 900L).count() == 0)
  }

  test("scoreBuckets: discrete-quantile thresholds match the hand CDF") {
    // hist: 1x3 (f=.3), 2 (f=.4), 3 (f=.5), 4x2 (f=.7), 5x2 (f=.9), 10 (f=1)
    // t(1/3) = 2 (first f >= .3333), t(2/3) = 4
    val df = Seq(1.0, 1.0, 1.0, 2.0, 3.0, 4.0, 4.0, 5.0, 5.0, 10.0)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "sc")
    val got = Curate.scoreBuckets(df, "id", col("sc"),
        cuts = Seq(0.3333, 0.6667), labels = Seq("head", "middle", "tail"))
      .select("score", "bucket").as[(Double, String)].collect()
    assert(got.length == 10)
    got.foreach { case (s, b) =>
      val expect = if (s <= 2.0) "head" else if (s <= 4.0) "middle" else "tail"
      assert(b == expect, s"score $s -> $b, want $expect")
    }
    // NULL scores drop (no place on the CDF); the survivors' thresholds
    // come from the survivor histogram alone
    val withNull = df.withColumn("sc",
      when(col("id") === 0L, lit(null).cast("double")).otherwise(col("sc")))
    assert(Curate.scoreBuckets(withNull, "id", col("sc"),
      Seq(0.5), Seq("lo", "hi")).count() == 9)
    // composes with a computed score column (the CCNet shape: bucket by
    // a scoring operator's output)
    val docs = Seq((1L, "a b c"), (2L, "a b c d e f"), (3L, "a")).toDF("id", "text")
    val byTok = Curate.scoreBuckets(docs, "id",
        graft.functions.TextFunctions.tokenCount(col("text")),
        Seq(0.33, 0.66), Seq("short", "mid", "long"))
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert(byTok == Map(3L -> "short", 1L -> "mid", 2L -> "long"), s"$byTok")
    // empty corpus: empty result, no crash on the null threshold row
    assert(Curate.scoreBuckets(docs.filter(col("id") < 0), "id",
      col("id"), Seq(0.5), Seq("a", "b")).count() == 0)
  }

  test("scoreBucketsStream: static-ref thresholds bucket the stream like batch") {
    import graft.streaming.StreamCurate
    implicit val sqlCtx = spark.sqlContext
    val ref = (0L until 90L).map(i => (i, (i % 9).toDouble)).toDF("id", "sc")
    val mem = MemoryStream[(Long, Double)]
    val q = StreamCurate.scoreBucketsStream(
        mem.toDF().toDF("id", "sc"), ref, "id", col("sc"),
        cuts = Seq(0.3333, 0.6667), labels = Seq("head", "middle", "tail"))
      .writeStream.format("memory").queryName("buckets_stream")
      .outputMode(OutputMode.Append()).start()
    val rows = (0L until 90L).map(i => (i, (i % 9).toDouble))
    mem.addData(rows.filter(_._1 % 2 == 0): _*)
    q.processAllAvailable()
    mem.addData(rows.filter(_._1 % 2 == 1): _*)
    q.processAllAvailable()
    val got = spark.table("buckets_stream")
      .select("id", "score", "bucket").as[(Long, Double, String)].collect()
    q.stop()
    val batch = Curate.scoreBuckets(ref, "id", col("sc"),
        Seq(0.3333, 0.6667), Seq("head", "middle", "tail"))
      .as[(Long, Double, String)].collect()
    assert(got.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq)
  }

  test("shuffleShards: total collision-free dense assignment, seed-independent orders") {
    val df = (0L until 300L).map(i => (i, s"t$i")).toDF("id", "text")
    val out = Curate.shuffleShards(df, "id", numShards = 8)
      .select("id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.length == 300 && out.map(_._1).distinct.length == 300)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    // per shard: positions are exactly 0..count-1 (dense, no ties lost)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq)
    }
    // deterministic under repartition
    val rep = Curate.shuffleShards(df.repartition(11), "id", numShards = 8)
      .select("id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == rep.sortBy(_._1).toSeq)
    // a different seed is a different epoch: some shard's id-order differs
    // (shards too, but order is the property readers consume)
    val ep2 = Curate.shuffleShards(df, "id", numShards = 8, seed = 101)
      .select("id", "shard", "pos").as[(Long, Long, Long)].collect()
    def orders(rows: Array[(Long, Long, Long)]): Map[Long, Seq[Long]] =
      rows.groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    assert(orders(out) != orders(ep2), "seeds must give independent orders")
    // shard is hash32(seed, id) mod shards — pin one row against an
    // independent md5 computation so the hash space never drifts
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("37#0".getBytes("UTF-8")).take(4)
      .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    assert(out.find(_._1 == 0L).get._2 == md % 8, "hash space drifted")
  }

  test("corpusDiff: added/removed/changed/unchanged under the exact-dedup identity") {
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "kept text"),
      (4L, "  Spacing   And Case  ")).toDF("id", "text")
    val neu = Seq((1L, "alpha beta"),          // byte-identical
      (2L, "gamma delta REVISED"),             // changed
      (4L, "spacing and case"),                // normalizes EQUAL -> unchanged
      (5L, "brand new doc")).toDF("id", "text")// added; 3 removed
    val out = Curate.corpusDiff(old, neu, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"), s"got $out")
    // empty sides degrade to all-removed / all-added
    val none = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Curate.corpusDiff(old, none, "id", "text")
      .filter(col("status") =!= "removed").count() == 0)
    assert(Curate.corpusDiff(none, neu, "id", "text")
      .filter(col("status") =!= "added").count() == 0)
    // algebra: diff(a, a) is all-unchanged; swapping sides swaps
    // added/removed and preserves changed/unchanged
    assert(Curate.corpusDiff(old, old, "id", "text")
      .filter(col("status") =!= "unchanged").count() == 0)
    val fwd = Curate.corpusDiff(old, neu, "id", "text")
      .as[(Long, String)].collect().toMap
    val bwd = Curate.corpusDiff(neu, old, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(fwd.keySet == bwd.keySet)
    fwd.foreach { case (id, st) =>
      val expect = st match {
        case "added" => "removed"
        case "removed" => "added"
        case other => other
      }
      assert(bwd(id) == expect, s"id $id: $st fwd but ${bwd(id)} bwd")
    }
    // NULL text is PRESENCE, not absence: status keys on the row, the
    // compare is null-safe
    val oldN = Seq((1L, "x"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val neuN = Seq((1L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    val dn = Curate.corpusDiff(oldN, neuN, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(dn == Map(1L -> "changed", 2L -> "removed", 3L -> "added"),
      s"got $dn")
    assert(Curate.corpusDiff(oldN, oldN, "id", "text")
      .filter(col("status") =!= "unchanged").count() == 0,
      "NULL-vs-NULL text must compare unchanged")
  }

  test("crawlTriage: every action fires, gates in pipeline order") {
    val good = "the words and the cat sat with that dog of mine here" // passes gopher@10
    val old = Seq(
      (1L, good),                       // will be unchanged
      (2L, good + " old form"),         // will change, stays good
      (3L, good + " doomed"),           // will be removed
      (4L, good + " survivor")          // history fp for the added dup
    ).toDF("id", "text")
    val neu = Seq(
      (1L, good),                       // unchanged -> skip_unchanged
      (2L, good + " new form"),         // changed, passes -> upsert
      (4L, good + " survivor"),         // unchanged
      (5L, good + " survivor"),         // added, fp IN history -> skip_duplicate
      (6L, "### #### #####"),           // added, fails quality -> skip_quality
      (7L, good + " twin pair"),        // added, batch twin, min id -> upsert
      (8L, good + " twin pair"),        // added, batch twin loser -> skip_duplicate
      (9L, good + "   TWIN  pair")      // normalizes EQUAL to 7/8 -> loser too
    ).toDF("id", "text")
    val out = Curate.crawlTriage(old, neu, "id", "text", minWords = 10)
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      1L -> ("unchanged", "skip_unchanged"),
      2L -> ("changed", "upsert"),
      3L -> ("removed", "delete"),
      4L -> ("unchanged", "skip_unchanged"),
      5L -> ("added", "skip_duplicate"),
      6L -> ("added", "skip_quality"),
      7L -> ("added", "upsert"),
      8L -> ("added", "skip_duplicate"),
      9L -> ("added", "skip_duplicate")), s"got $out")
    // quality gate runs BEFORE dedup: a bad-quality doc whose fp is in
    // history reports skip_quality, not skip_duplicate
    val old2 = Seq((1L, "### #### #####")).toDF("id", "text")
    val neu2 = Seq((2L, "### #### #####")).toDF("id", "text")
    val a2 = Curate.crawlTriage(old2, neu2, "id", "text", minWords = 10)
      .filter(col("id") === 2L).select("action").as[String].head()
    assert(a2 == "skip_quality")
    // NULL text: present (never 'removed'/'added' by fp nullness) and
    // FAILS quality rather than null-propagating past the branch
    val old3 = Seq((1L, good)).toDF("id", "text")
    val neu3 = Seq((1L, null.asInstanceOf[String]),
      (2L, null.asInstanceOf[String])).toDF("id", "text")
    val t3 = Curate.crawlTriage(old3, neu3, "id", "text", minWords = 10)
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(t3 == Map(1L -> (("changed", "skip_quality")),
      2L -> (("added", "skip_quality"))), s"got $t3")
  }

  test("crawlTriage drives the IVF index lifecycle: patched equals brute force over the action-applied corpus") {
    import graft.operators.Ann
    // deterministic per-text embedding (spec-local stand-in for the
    // embed stage): 4 dims off the text hash, never zero-norm
    def vec(text: String): Seq[Double] = {
      val h = text.hashCode
      (0 until 4).map(k => 1.0 + ((h >> (k * 8)) & 0xff) / 255.0)
    }
    def good(i: Int) =
      s"the cat and dog sit here with that word token$i inside"
    val oldDocs = (1 to 40).map(i => (i.toLong, good(i))).toDF("id", "text")
    val embed = udf((t: String) => vec(t))
    def embedded(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), embed(col("text")).as("v"))
    val dir = java.nio.file.Files.createTempDirectory("triageivf")
      .toString + "/idx"
    Ann.buildIvfIndex(embedded(oldDocs), dir, nlist = 4)

    // day-1 snapshot: removals, good/bad/dup changes, good/dup adds
    val newDocs = (
      (1 to 34).map { i =>
        val t = if (i <= 3) good(i + 100)       // changed, good -> upsert
          else if (i == 4) "### #### #####"     // changed, bad -> skip_quality
          else if (i == 5) good(6)              // changed, dup of 6 -> skip_duplicate
          else good(i)                          // unchanged (35..40 removed)
        (i.toLong, t)
      } ++ Seq(
        (50L, good(50)),                        // added -> upsert
        (51L, good(2)),                         // added, history dup -> skip
        (52L, good(200)), (53L, good(200)),     // batch twins: 52 wins
        (54L, "## ###"))                        // added, bad -> skip_quality
    ).toDF("id", "text")

    val plan = Curate.crawlTriage(oldDocs, newDocs, "id", "text",
      minWords = 5)
    val acts = plan.as[(Long, String, String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert((35 to 40).forall(i => acts(i.toLong) == "delete"))
    assert(Seq(1L, 2L, 3L, 50L, 52L).forall(acts(_) == "upsert"), s"got $acts")
    assert(acts(4L) == "skip_quality" && acts(5L) == "skip_duplicate" &&
      acts(51L) == "skip_duplicate" && acts(53L) == "skip_duplicate")

    // apply the plan to the persisted index: tombstone deletes, upsert
    // survivors re-embedded from the NEW text
    val deletes = plan.filter(col("action") === "delete").select("id")
    val upserts = plan.filter(col("action") === "upsert")
      .join(newDocs, Seq("id"))
    IndexFiles.writeTombstones(deletes, dir)
    Ann.upsertIntoIvfIndex(spark, dir, embedded(upserts))

    // expected corpus after the actions: old entries minus deletes,
    // upsert ids carrying their new text's vector (skip_* keep stale)
    val expected = embedded(oldDocs)
      .join(deletes.unionByName(upserts.select("id")), Seq("id"),
        "left_anti")
      .unionByName(embedded(upserts))
    val qs = Seq((1L, vec(good(101))), (2L, vec(good(50))),
      (3L, vec(good(38)))).toDF("qid", "qv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "score", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val patched = canon(Ann.searchIvfIndex(spark, dir, qs, k = 5,
      nprobe = 4))
    val brute = canon(Ann.bruteForceTopK(expected, qs, k = 5))
    assert(patched == brute && patched.nonEmpty,
      "patched index diverged from brute force over the action-applied corpus")
    // deleted ids are unreachable; an upserted add is reachable
    assert(!patched.exists(h => h._2 >= 35L && h._2 <= 40L))
    assert(patched.exists(_._2 == 50L))
  }

  test("epochPlan: hand-checkable mixture table; null and empty strata handled") {
    val docs = Seq(
      (1L, "a", "one two three four"),          // 4 tokens
      (2L, "b", "one two three four"), (3L, "b", "one two three four"),
      (4L, "b", "one two three four"), (5L, "b", "one two three four"),
      (6L, null.asInstanceOf[String], "ignored entirely"),
      (7L, "c", "   ")                          // zero tokens
    ).toDF("id", "lang", "text")
    val out = Curate.epochPlan(docs, "lang", "text",
        alpha = 0.5, budgetTokens = 60L)
      .as[(String, Long, Long, Double, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    // sqrt masses: a=2, b=4, c=0 -> z=6; weights 1/3, 2/3, 0
    assert(out("a") == (("a", 1L, 4L, 0.333333, 20L, Some(5.0))), out("a"))
    assert(out("b") == (("b", 4L, 16L, 0.666667, 40L, Some(2.5))), out("b"))
    assert(out("c") == (("c", 1L, 0L, 0.0, 0L, None)), out("c"))
    assert(!out.contains(null), "null stratum must be out of the mixture")
  }

  test("applyEpochPlan: whole passes + hash-admitted fractional pass, model-checked") {
    val docs = Seq(
      (1L, "a", "one two three four"),
      (2L, "b", "one two three four"), (3L, "b", "one two three four"),
      (4L, "b", "one two three four"), (5L, "b", "one two three four"),
      (6L, null.asInstanceOf[String], "ignored"),
      (7L, "c", "   ")).toDF("id", "lang", "text")
    // plan from the sibling test: a -> 5.0 epochs, b -> 2.5, c -> NULL
    val plan = Curate.epochPlan(docs, "lang", "text",
      alpha = 0.5, budgetTokens = 60L)
    val out = Curate.applyEpochPlan(docs, "id", "lang", plan)
      .as[(Long, String, Long)].collect()
    // model: the md5 ppm hash decides b's fractional 3rd pass
    def ppm(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"41#$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8), 16) % 1000000L
    val expect = (Seq(1L).flatMap(id => (0L until 5L).map(e => (id, "a", e))) ++
      Seq(2L, 3L, 4L, 5L).flatMap { id =>
        val n = 2L + (if (ppm(id) < 500000L) 1L else 0L)
        (0L until n).map(e => (id, "b", e))
      }).toSet
    assert(out.toSet == expect, s"got ${out.toSet} want $expect")
    // every doc of b got 2 or 3 passes; c and the null stratum none
    assert(!out.exists(r => r._2 == "c"))
    // epochs dense from 0 per doc
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (0L until g.length).toSeq)
    }
  }

  test("crawlTriage: model-based check on a seeded random mutation") {
    // independent Scala reimplementation of the triage over a random
    // old→new mutation: removals, good/bad changes, history-dup and
    // twin adds, all seeded — catches rule drift the hand cases miss
    val rnd = new scala.util.Random(7)
    def goodText(i: Int) =
      s"the cat and dog sit here with that word token$i inside"
    val old = (1 to 60).map(i => (i.toLong, goodText(i)))
    val neu = old.flatMap { case (id, t) =>
      rnd.nextInt(6) match {
        case 0 => None                                        // removed
        case 1 => Some((id, goodText(rnd.nextInt(200) + 300)))// changed good
        case 2 => Some((id, "### ## #"))                      // changed bad
        case _ => Some((id, t))                               // unchanged
      }
    } ++ (1 to 25).map { j =>
      val id = 1000L + j
      rnd.nextInt(3) match {
        case 0 => (id, goodText(rnd.nextInt(60) + 1))   // history dup-ish
        case 1 => (id, goodText(rnd.nextInt(6) + 500))  // fresh, twins likely
        case _ => (id, "## #")                          // bad quality
      }
    }
    def fp(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
    def pass(t: String): Boolean = { // gopherPassCol over these texts:
      val ws = t.trim.split("\\s+").filter(_.nonEmpty)
      val stop = Set("the", "be", "to", "of", "and", "that", "have", "with")
      val mwl = ws.map(_.length).sum.toDouble / math.max(ws.length, 1)
      ws.length >= 5 && mwl >= 3 && mwl <= 10 &&
        (!t.contains("#")) && // our corpora: symbols appear only in bad docs
        ws.count(w => stop(w.toLowerCase)) >= 2
    }
    val neuMap = neu.toMap
    val oldFp = old.toMap.map { case (id, t) => id -> fp(t) }
    val newFp = neuMap.map { case (id, t) => id -> fp(t) }
    val histFps = oldFp.values.toSet
    val status = (oldFp.keySet ++ newFp.keySet).map { id =>
      id -> ((oldFp.get(id), newFp.get(id)) match {
        case (None, Some(_)) => "added"
        case (Some(_), None) => "removed"
        case (Some(a), Some(b)) if a != b => "changed"
        case _ => "unchanged"
      })
    }.toMap
    val reenter = newFp.keySet.filter(id =>
      Set("added", "changed")(status(id)) && pass(neuMap(id)))
    val winner = reenter.groupBy(newFp).map { case (f, ids) => f -> ids.min }
    val expect = status.map { case (id, st) =>
      id -> ((st, st match {
        case "unchanged" => "skip_unchanged"
        case "removed" => "delete"
        case _ if !pass(neuMap(id)) => "skip_quality"
        case _ if !histFps(newFp(id)) && winner(newFp(id)) == id => "upsert"
        case _ => "skip_duplicate"
      }))
    }
    val got = Curate.crawlTriage(old.toDF("id", "text"),
        neu.toDF("id", "text"), "id", "text", minWords = 5)
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expect, {
      val bad = got.keySet.filter(k => got(k) != expect(k))
      s"diverged on ${bad.toSeq.sorted.map(k => s"$k got ${got(k)} want ${expect(k)}")}"
    })
    // the mutation actually exercised every action
    assert(got.values.map(_._2).toSet == Set("skip_unchanged", "delete",
      "skip_quality", "skip_duplicate", "upsert"))
  }

  test("crawlTriage drives the exact-dedup history: takedown + upsert keep the gate consistent") {
    import graft.operators.Dedup
    def good(i: Int) =
      s"the cat and dog sit here with that word token$i inside"
    val old = (1 to 20).map(i => (i.toLong, good(i))).toDF("id", "text")
    val neu = ((1 to 16).map { i =>
      (i.toLong, if (i <= 3) good(i + 100) else good(i)) // 1-3 changed
    } ++ Seq((30L, good(30)), (31L, good(5)))).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("triageex")
      .toString + "/idx"
    Dedup.buildExactIndex(old, "id", "text", dir)
    val plan = Curate.crawlTriage(old, neu, "id", "text", minWords = 5)
    // apply: removed docs and changed-upserts' OLD texts leave the
    // history (takedown); upserts' NEW texts enter it
    val upserts = plan.filter(col("action") === "upsert")
    val staleTexts = plan
      .filter(col("action") === "delete" ||
        (col("action") === "upsert" && col("status") === "changed"))
      .join(old, Seq("id")).select("text")
    Dedup.deleteFromExactIndex(spark, dir, staleTexts, "text")
    Dedup.appendToExactIndex(spark, dir,
      upserts.join(neu, Seq("id")).select("id", "text"), "id", "text")
    // day-3 probes under fresh ids
    val day3 = Seq(
      (101L, good(17)),   // removed doc's text -> novel again
      (102L, good(1)),    // changed doc 1's OLD text -> novel
      (103L, good(101)),  // its NEW text -> dup of 1
      (104L, good(5)),    // untouched history -> dup of 5
      (105L, good(30)),   // added upsert -> dup of 30
      (106L, good(999))   // never seen -> novel
    ).toDF("id", "text")
    def verdicts(d: String) =
      Dedup.dedupExactAgainstIndex(spark, d, day3, "id", "text")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = verdicts(dir)
    assert(got == Map(
      101L -> ((None, false)), 102L -> ((None, false)),
      103L -> ((Some(1L), true)), 104L -> ((Some(5L), true)),
      105L -> ((Some(30L), true)), 106L -> ((None, false))), s"got $got")
    // equivalently: a fresh index over the action-applied corpus gives
    // the same verdicts (the patched gate IS the new corpus's gate)
    val applied = old
      .join(plan.filter(col("action") === "delete" ||
          (col("action") === "upsert" && col("status") === "changed"))
        .select("id"), Seq("id"), "left_anti")
      .unionByName(upserts.join(neu, Seq("id")).select("id", "text"))
    val fresh = java.nio.file.Files.createTempDirectory("triageex2")
      .toString + "/idx"
    Dedup.buildExactIndex(applied, "id", "text", fresh)
    assert(verdicts(fresh) == got,
      "patched gate diverged from a rebuild on the action-applied corpus")
  }

  test("triageStream: arriving docs triage like batch crawlTriage") {
    import graft.streaming.StreamCurate
    implicit val sqlCtx = spark.sqlContext
    def good(i: Int) =
      s"the cat and dog sit here with that word token$i inside"
    val old = (1 to 20).map(i => (i.toLong, good(i))).toDF("id", "text")
    // twin-free arriving snapshot: unchanged, changed-good,
    // changed-bad, changed-to-history-dup, added-good, added-dup,
    // added-bad (no within-batch twins — the ledger's job, see scaladoc)
    val arriving = Seq(
      (1L, good(1)), (2L, good(102)), (3L, "## ###"), (4L, good(5)),
      (30L, good(30)), (31L, good(7)), (32L, "# ##"),
      (5L, null.asInstanceOf[String])) // NULL text: changed, fails quality
    val mem = MemoryStream[(Long, String)]
    val q = StreamCurate.triageStream(mem.toDF().toDF("id", "text"),
        "id", "text", old, "id", "text", minWords = 5)
      .writeStream.format("memory").queryName("triage_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(arriving.take(4): _*)
    q.processAllAvailable()
    mem.addData(arriving.drop(4): _*)
    q.processAllAvailable()
    val got = spark.table("triage_stream")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    q.stop()
    val batch = Curate.crawlTriage(old, arriving.toDF("id", "text"),
        "id", "text", minWords = 5)
      .filter(col("status") =!= "removed")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.map(r => r._1 -> r._3).toMap == Map(
      1L -> "skip_unchanged", 2L -> "upsert", 3L -> "skip_quality",
      4L -> "skip_duplicate", 30L -> "upsert", 31L -> "skip_duplicate",
      32L -> "skip_quality", 5L -> "skip_quality"))
    assert(got.find(_._1 == 5L).get._2 == "changed",
      "NULL arriving text for a known id must read changed, not added/unchanged")
  }

  test("semanticContamination: hand-checked argmax, tie-break, zero-norm skip; clean+flagged partition") {
    val bench = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (101L, Seq(0.0, 1.0, 0.0)),
      (102L, Seq(0.0, 0.0, 0.0))  // zero-norm benchmark row: skipped
    ).toDF("id", "v")
    val corpus = Seq(
      (1L, Seq(2.0, 0.0, 0.0)),   // cos 1.0 to 100
      (2L, Seq(1.0, 1.0, 0.0)),   // 0.7071 to BOTH → tie → bench 100
      (3L, Seq(0.0, 0.0, 5.0)),   // orthogonal: 0.0 to both → tie → 100
      (4L, Seq(0.0, 0.0, 0.0)),   // zero-norm corpus doc: no report
      (5L, Seq(-1.0, 0.0, 0.0))   // -1.0 to 100, 0.0 to 101 → argmax 101
    ).toDF("id", "v")
    val rep = Curate.semanticContamination(corpus, bench, "id", "v")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep == Map(
      1L -> (100L, 1.0), 2L -> (100L, 0.7071),
      3L -> (100L, 0.0), 5L -> (101L, 0.0)), s"got $rep")
    // clean side at tau 0.7: 1 and 2 drop; the zero-norm doc 4 is KEPT
    val clean = Curate.decontaminateSemantic(corpus, bench, "id", "v", 0.7)
      .select("id").as[Long].collect().toSet
    assert(clean == Set(3L, 4L, 5L), s"got $clean")
    // flagged + clean partition the corpus at every tau
    Seq(-1.1, 0.0, 0.5, 1.1).foreach { tau =>
      val flagged = rep.filter(_._2._2 >= tau).keySet
      val kept = Curate.decontaminateSemantic(corpus, bench, "id", "v", tau)
        .select("id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 3L, 4L, 5L) -- flagged, s"tau=$tau: $kept")
    }
    // STRING ids: the tie-break negates the cosine, never the id
    // column, so arbitrary id types keep the deterministic
    // smallest-bench-id argmax (an id negation would NULL these out)
    val benchS = Seq(("urn:b2", Seq(1.0, 0.0, 0.0)),
      ("urn:b1", Seq(0.0, 1.0, 0.0))).toDF("id", "v")
    val corpusS = Seq(("doc-x", Seq(1.0, 1.0, 0.0))).toDF("id", "v")
    val repS = Curate.semanticContamination(corpusS, benchS, "id", "v")
      .as[(String, String, Double)].collect().toSeq
    assert(repS == Seq(("doc-x", "urn:b1", 0.7071)), s"got $repS")
  }
}
