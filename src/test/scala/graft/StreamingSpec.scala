package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Events, SessionEvent, StreamIngest}
import graft.operators.{IndexFamily, IndexFiles}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)

  private lazy val batchDf = Seq(
    (1L, 1L, ts(0), "click", 1.0),
    (1L, 2L, ts(5), "click", 2.0),
    (1L, 3L, ts(60), "view", 3.0),  // > 30min gap → new session
    (2L, 4L, ts(0), "view", 4.0)
  ).toDF("user_id", "event_id", "ts", "event_type", "value")

  test("sessionizeBatch: gap splits sessions, aggregates per session") {
    val out = Events.sessionizeBatch(batchDf)
      .select("user_id", "session_seq", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 3.0), (2L, 1L, 1L, 4.0)))
  }

  test("windowAggBatch: tumbling buckets") {
    val out = Events.windowAggBatch(batchDf)
      .select("bucket", "event_type", "n").as[(Long, String, Long)].collect()
    assert(out.map(_._3).sum == 4)
  }

  test("windowAggStream over MemoryStream matches the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("user_id", "event_id", "ts", "event_type", "value")
    val q = Events.windowAggStream(sdf, width = "5 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("winagg")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, 1L, ts(0), "click", 1.0), (1L, 2L, ts(5), "click", 2.0),
      (1L, 3L, ts(60), "view", 3.0), (2L, 4L, ts(0), "view", 4.0))
    q.processAllAvailable()
    // advance watermark far enough to close all windows
    mem.addData((9L, 9L, ts(1000), "view", 0.0))
    q.processAllAvailable()
    val got = spark.table("winagg")
      .select(col("event_type"), col("n"), col("total_value"))
      .as[(String, Long, Double)].collect().toSet
    q.stop()
    assert(got.contains(("click", 1L, 1.0)))  // minute 0 window
    assert(got.contains(("click", 1L, 2.0)))  // minute 5 window
    assert(got.contains(("view", 1L, 4.0)))
  }

  test("sessionizeStream: session_window groups events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("user_id", "event_id", "ts", "event_type", "value")
    val q = Events.sessionizeStream(sdf, gap = "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, 1L, ts(0), "click", 1.0), (1L, 2L, ts(5), "click", 2.0),
      (1L, 3L, ts(60), "view", 3.0))
    q.processAllAvailable()
    mem.addData((9L, 9L, ts(5000), "view", 0.0)) // push watermark
    q.processAllAvailable()
    val got = spark.table("sess").select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().filter(_._1 == 1L).toSet
    q.stop()
    assert(got == Set((1L, 2L, 3.0), (1L, 1L, 3.0)))
  }

  test("sessionizeWithState: custom flatMapGroupsWithState matches batch sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .as[SessionEvent]
    val q = Events.sessionizeWithState(events)
      .writeStream.format("memory").queryName("fmgws")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(0), 4.0))
    q.processAllAvailable()
    mem.addData((1L, ts(60), 3.0)) // gap > 30min: closes user 1's first session
    q.processAllAvailable()
    mem.addData((9L, ts(5000), 0.0)) // watermark push → timeouts close the rest
    q.processAllAvailable()
    mem.addData((9L, ts(9999), 0.0)) // one more trigger to process fired timeouts
    q.processAllAvailable()
    val got = spark.table("fmgws")
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSet
    q.stop()
    assert(got.contains((1L, 2L, 3.0))) // t0+t5 session closed by the t60 event
    assert(got.contains((1L, 1L, 3.0))) // t60 session closed by timeout
    assert(got.contains((2L, 1L, 4.0))) // user 2 closed by timeout
  }

  test("StreamDrain: chunked bench drains equal the batch forms") {
    // the bench-only harness (event-time-ordered chunked feed + far-
    // future flush) must reproduce batch results exactly — otherwise a
    // benched streaming number times a different computation
    val events = Seq(
      (1L, ts(0), 7L, "click", 1.0), (2L, ts(5), 7L, "view", 2.0),
      (3L, ts(60), 7L, "click", 3.0),   // gap > 30min: new session
      (4L, ts(2), 8L, "click", 4.0), (5L, ts(95), 8L, "view", 5.0),
      (6L, ts(1), 9L, "click", 6.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val drained = graft.streaming.StreamDrain.sessionizeDrained(events, chunks = 3)
      .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), round(col("total_value"), 2))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val batch = Events.sessionizeBatch(events)
      .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(drained == batch, s"sessionize drain $drained vs batch $batch")
    val wdrained = graft.streaming.StreamDrain.windowAggDrained(events, chunks = 3)
      .select((unix_millis(col("window.start")) / 300000L).cast("long"),
        col("event_type"), col("n"), col("total_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    val wbatch = Events.windowAggBatch(events)
      .select(col("bucket"), col("event_type"), col("n"), col("total_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(wdrained == wbatch, s"window drain $wdrained vs batch $wbatch")
  }

  test("asofJoin: latest right row at-or-before each left ts, per key") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
      (2L, 150L, "d")).toDF("user_id", "ts", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 250L, 20.0), (3L, 1L, 99.0))
      .toDF("user_id", "rts", "v")
    val out = Events.asofJoin(left, right, "user_id", "ts", "rts", Seq("v"))
      .select("user_id", "ts", "tag", "v")
      .as[(Long, Long, String, Option[Double])].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, 100L, "a", Some(10.0)),  // equal ts → inclusive
      (1L, 200L, "b", Some(10.0)),  // 250 is in the future
      (1L, 300L, "c", Some(20.0)),
      (2L, 150L, "d", None)))       // no right rows for user 2
  }

  test("asofJoin: a matched right row with a NULL value wins over older rows") {
    val left = Seq((1L, 200L, "a"), (1L, 300L, "b")).toDF("user_id", "ts", "tag")
    // latest right row at ts=250 carries a legitimately NULL v — true
    // as-of returns that NULL, not the older 10.0
    val right = Seq((1L, 100L, Some(10.0)), (1L, 250L, None))
      .toDF("user_id", "rts", "v")
    val out = Events.asofJoin(left, right, "user_id", "ts", "rts", Seq("v"))
      .select("user_id", "ts", "v")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._2)
    assert(out.toSeq == Seq((1L, 200L, Some(10.0)), (1L, 300L, None)))
  }

  test("rangeJoin: points match containing ranges exactly once") {
    val points = Seq((1L, 100L, 5L), (1L, 250L, 6L), (2L, 100L, 7L))
      .toDF("user_id", "ts", "pid")
    val ranges = Seq((1L, 50L, 150L, "r1"), (1L, 200L, 300L, "r2"),
      (2L, 500L, 600L, "r3")).toDF("user_id", "rs", "re", "rname")
    val out = Events.rangeJoin(points, ranges, "user_id", "ts", "rs", "re",
        bucketMs = 100L)
      .select("pid", "rname").as[(Long, String)].collect().sortBy(_._1)
    // r1 spans two cells but its contained point matches once; pid 7 is
    // outside every range of its key
    assert(out.toSeq == Seq((5L, "r1"), (6L, "r2")))
  }

  test("dedupStream: duplicate fingerprints within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docsStream = mem.toDF().toDF("doc_id", "text", "ts")
    val q = StreamIngest.dedupStream(docsStream, "text", "ts", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (1L, "unique doc one", ts(0)),
      (2L, "Unique  doc ONE", ts(1)), // same normalized fingerprint → dropped
      (3L, "another doc", ts(2)))
    q.processAllAvailable()
    val got = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(got == Set(1L, 3L), s"got $got")
  }

  test("admitNovelStream: drained admissions equal the batch probe's non-dups") {
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((10L, "seen before alpha"), (11L, "seen before beta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("exstream").toString + "/idx"
    graft.operators.Dedup.buildExactIndex(history, "doc_id", "text", dir)
    val batch = Seq(
      (20L, "SEEN  before ALPHA"),   // dup via normalization → rejected
      (21L, "novel gamma"),
      (22L, "seen before beta"),     // verbatim dup → rejected
      (23L, "novel delta"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.admitNovelStream(spark, dir,
        mem.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("sadmit")
      .outputMode(OutputMode.Append()).start()
    mem.addData(batch.take(2): _*)
    q.processAllAvailable()
    mem.addData(batch.drop(2): _*)
    q.processAllAvailable()
    val got = spark.table("sadmit").select("doc_id").as[Long].collect().toSet
    q.stop()
    assert(got == Set(21L, 23L), s"got $got")
    // equivalence with the batch gate on the same feed
    val batchNovel = graft.operators.Dedup
      .dedupExactAgainstIndex(spark, dir, batch.toDF("doc_id", "text"),
        "doc_id", "text")
      .filter(!col("is_dup")).select("id").as[Long].collect().toSet
    assert(got == batchNovel)
    // takedown flows through the stream's static side: a tombstoned
    // history text admits on a fresh stream
    graft.operators.Dedup.deleteFromExactIndex(spark, dir,
      Seq("seen before alpha").toDF("text"), "text")
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamIngest.admitNovelStream(spark, dir,
        mem2.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("sadmit2")
      .outputMode(OutputMode.Append()).start()
    mem2.addData((30L, "seen before alpha"), (31L, "seen before beta"))
    q2.processAllAvailable()
    val got2 = spark.table("sadmit2").select("doc_id").as[Long].collect().toSet
    q2.stop()
    assert(got2 == Set(30L), s"tombstoned text should admit, beta not: $got2")
  }

  test("curateStream: drained admissions equal the composed batch chain; every gate bites") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Curate, Dedup}
    import graft.functions.{TextFunctions => T}
    import graft.streaming.StreamCurate
    // originals: gopher-passing docs need >=20 words, mwl in [3,10],
    // alpha >= 0.8, >=2 stop hits; token counts vary so the ref CDF
    // splits them across buckets
    def passText(i: Int): String =
      ("the quick brown fox jumps over and that was fine with everyone " +
        "involved today again tomorrow always maybe certainly done " +
        Seq.fill(i)("extra words arrive here").mkString(" ")).trim
    val originals: Seq[(Long, String, String)] =
      (0 until 12).map(i => (100L + i, if (i % 3 == 0) "en" else "de",
        passText(i))) ++
      Seq((200L, "en", "too short to pass"),          // gopher kills
        (201L, "en", passText(2)),                    // replay of 102's text
        (202L, "de", passText(5)))                    // replay of 105's text
    // history: the exact (fixed) texts of docs 102/105 — 201/202 replay
    val history = Seq((1L, passText(2)), (2L, passText(5))).toDF("id", "text")
    val dir = java.nio.file.Files.createTempDirectory("curstr").toString + "/idx"
    Dedup.buildExactIndex(history, "id", "text", dir)
    // ref corpus for thresholds: its own spread of the same score
    val ref = (0 until 12).map(i => (900L + i, if (i % 2 == 0) "en" else "de",
      passText(i))).toDF("id", "lang", "text")
    // the stream arrives mojibaked: spaces carry the CP1252 NBSP artifact
    val m = T.mojibakeTable.map(_.swap).toMap
    val corrupted = originals.map { case (id, lang, t) =>
      (id, lang, t.replace(" ", m(" "))) }
    val scoreOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      T.tokenCount(_)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamCurate.curateStream(spark, dir,
        mem.toDF().toDF("id", "lang", "text"), "id", "text", "lang", ref,
        scoreOf, minWords = 20, budget = 8)
      .writeStream.format("memory").queryName("scurate")
      .outputMode(OutputMode.Append()).start()
    mem.addData(corrupted.take(7): _*)
    q.processAllAvailable()
    mem.addData(corrupted.drop(7): _*)
    q.processAllAvailable()
    val drained = spark.table("scurate")
      .select("id", "stratum", "keep_ppm", "score", "bucket")
      .as[(Long, String, Long, Double, String)].collect().toSet
    q.stop()
    // batch equivalent from independent public pieces over the originals
    val batchDocs = corrupted.toDF("id", "lang", "text")
      .withColumn("text", T.fixText(col("text")))
    val quality = batchDocs.join(
      Curate.gopherFilter(batchDocs, "id", "text", minWords = 20)
        .filter(col("pass")).select("id"), Seq("id"), "left_semi")
    val novel = quality.join(
      Dedup.dedupExactAgainstIndex(spark, dir, quality, "id", "text")
        .filter(!col("is_dup")).select("id"), Seq("id"), "left_semi")
    val buckets = StreamCurate.scoreBucketsStream(novel, ref, "id",
        scoreOf(col("text")), Seq(0.3333, 0.6667),
        Seq("head", "middle", "tail"))
      .filter(col("bucket") =!= "tail")
    val mixture = StreamCurate.temperatureMixtureStream(
      novel.join(buckets.select("id"), Seq("id"), "left_semi"),
      ref, "id", "lang", alpha = 0.5, budget = 8)
    val expected = mixture.join(buckets, Seq("id"))
      .select("id", "stratum", "keep_ppm", "score", "bucket")
      .as[(Long, String, Long, Double, String)].collect().toSet
    assert(drained == expected, s"\ndrained  $drained\nexpected $expected")
    // every gate bit: the short doc and both replays are out, the tail
    // never admits, and the set is a non-trivial strict subset
    val ids = drained.map(_._1)
    assert(!ids.contains(200L) && !ids.contains(201L) && !ids.contains(202L))
    assert(drained.map(_._5).subsetOf(Set("head", "middle")),
      s"tail leaked through: $drained")
    assert(ids.nonEmpty, "nothing admitted — a gate is over-killing")
    assert(ids.size < 12, "every doc admitted — no gate actually bit")
  }

  test("qualityClassifier runs unchanged on a stream: drained scores equal batch scores") {
    // the fit runs on STATIC positives/negatives; scoring is a
    // broadcast-coefficient column transform, so the same call is
    // stream-safe (the stratifiedSample stateless precedent)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.MlEmbed
    val pos = (0 until 20).map(i =>
      (i.toLong, "curated encyclopedic prose reads cleanly here"))
      .toDF("id", "text")
    val neg = (100 until 120).map(i =>
      (i.toLong, "spam clickbait garbage listicle noise junk"))
      .toDF("id", "text")
    val feed = Seq((900L, "encyclopedic prose cleanly"),
      (901L, "clickbait junk noise"), (902L, "prose junk"))
    val mem = MemoryStream[(Long, String)]
    val q = MlEmbed.qualityClassifier(mem.toDF().toDF("id", "text"),
        pos, neg, "text", numFeatures = 1 << 12)
      .select(col("id"), round(col("quality_prob"), 6).as("p"))
      .writeStream.format("memory").queryName("squal")
      .outputMode(OutputMode.Append()).start()
    mem.addData(feed: _*)
    q.processAllAvailable()
    val drained = spark.table("squal").as[(Long, Double)].collect().toMap
    q.stop()
    val batch = MlEmbed.qualityClassifier(feed.toDF("id", "text"),
        pos, neg, "text", numFeatures = 1 << 12)
      .select(col("id"), round(col("quality_prob"), 6).as("p"))
      .as[(Long, Double)].collect().toMap
    assert(drained == batch, s"\nstream $drained\nbatch  $batch")
  }

  test("tokenizeStream: drained subword streams equal batch tokenize; OOV symbols keep NULL ids") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val ref = Seq((0L, "low lower newest widest"), (1L, "low newest"))
      .toDF("id", "text")
    val rulesDf = Bpe.train(ref, "text", numMerges = 6)
    val rules = rulesDf.orderBy("step").select("left", "right")
      .as[(String, String)].collect().toSeq
    // feed covers exactly the reference's word set (ids must line up
    // with batch tokenize's own-input numbering) plus one OOV doc
    val feed = Seq((10L, "low lower"), (11L, "newest widest low"),
      (12L, "zzz"))
    val mem = MemoryStream[(Long, String)]
    val q = Bpe.tokenizeStream(mem.toDF().toDF("id", "text"), "id", "text",
        rules, ref, "text")
      .writeStream.format("memory").queryName("stok")
      .outputMode(OutputMode.Append()).start()
    mem.addData(feed.take(2): _*)
    q.processAllAvailable()
    mem.addData(feed.drop(2): _*)
    q.processAllAvailable()
    val drained = spark.table("stok")
      .as[(Long, Long, Long, String, Option[Long])].collect().toSet
    q.stop()
    // in-vocab docs: bit-equal to the batch form (same word set as the
    // reference → identical symbol set → identical lexicographic ids)
    val batch = Bpe.tokenize(feed.take(2).toDF("id", "text"), "id", "text",
        rules)
      .as[(Long, Long, Long, String, Option[Long])].collect().toSet
    assert(drained.filter(_._1 != 12L) == batch,
      s"\ndrained ${drained.filter(_._1 != 12L)}\nbatch   $batch")
    // the OOV doc tokenizes (kernel needs no vocabulary) but its
    // unseen symbols carry NULL ids — loud, never silently renumbered
    val oov = drained.filter(_._1 == 12L)
    assert(oov.nonEmpty)
    assert(oov.filter(_._4 == "z").forall(_._5.isEmpty), s"$oov")
  }

  test("Tag.tag runs unchanged on a stream: drained labels equal batch labels") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Tag
    val feed = Seq((1L, "alpha news story"), (2L, "beta tech report"),
      (3L, "gamma finance note"))
    val mem = MemoryStream[(Long, String)]
    val q = Tag.tag(mem.toDF().toDF("id", "text"), "id", "text")
      .writeStream.format("memory").queryName("stag")
      .outputMode(OutputMode.Append()).start()
    mem.addData(feed: _*)
    q.processAllAvailable()
    val drained = spark.table("stag").as[(Long, String)].collect().toMap
    q.stop()
    val batch = Tag.tag(feed.toDF("id", "text"), "id", "text")
      .as[(Long, String)].collect().toMap
    assert(drained == batch, s"\nstream $drained\nbatch  $batch")
  }

  test("tokenizeStream: non-numeric ids survive natively (no silent long-cast NULLs)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    val ref = Seq(("r0", "low lower")).toDF("id", "text")
    val rules = Bpe.train(ref, "text", numMerges = 3)
      .orderBy("step").select("left", "right")
      .as[(String, String)].collect().toSeq
    val mem = MemoryStream[(String, String)]
    val q = Bpe.tokenizeStream(mem.toDF().toDF("id", "text"), "id", "text",
        rules, ref, "text")
      .writeStream.format("memory").queryName("stokstr")
      .outputMode(OutputMode.Append()).start()
    mem.addData(("doc-a", "low"), ("doc-b", "lower"))
    q.processAllAvailable()
    val ids = spark.table("stokstr").select("id")
      .as[String].collect().toSet
    q.stop()
    assert(ids == Set("doc-a", "doc-b"), s"ids lost through the stream seam: $ids")
  }

  test("packSequencesStream: drained stream equals batch packSequences on the same prefix") {
    implicit val sqlCtx = spark.sqlContext
    val docsSeq = (0L until 20L).map(i =>
      (i, ("tok " * (1 + (i % 5)).toInt).trim))
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamCurate
      .packSequencesStream(sdf, "doc_id", "text", budget = 6, shards = 3)
      .writeStream.format("memory").queryName("spack")
      .outputMode(OutputMode.Append()).start()
    // two triggers, ids globally ascending across them (the replay case)
    mem.addData(docsSeq.take(12): _*)
    q.processAllAvailable()
    mem.addData(docsSeq.drop(12): _*)
    q.processAllAvailable()
    val streamed = spark.table("spack")
      .select("id", "shard", "n_tok", "start_tok", "seq_id")
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    q.stop()
    val batch = graft.operators.Curate
      .packSequences(docsSeq.toDF("doc_id", "text"), "doc_id", "text",
        budget = 6, shards = 3)
      .select(col("id"), col("shard").cast("int"), col("n_tok"),
        col("start_tok"), col("seq_id"))
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.size == 20,
      s"streamed ${streamed.toSeq.sortBy(_._1)} vs batch ${batch.toSeq.sortBy(_._1)}")
  }

  test("dedupIngestStream: micro-batches dedup against the GROWING index; pairs equal sequential batch calls") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val history = Seq((1L, base),
      (2L, "unrelated finance news content entirely " * 4)).toDF("doc_id", "text")
    val b1 = Seq((10L, base.replace("quick", "rapid")),
      (11L, "fresh volcano geology prose and ash plumes " * 4))
    val b2 = Seq((20L, base.replace("quick", "rapid"))) // near-dup of 1 AND of 10
    val sDir = java.nio.file.Files.createTempDirectory("sdedup").toString
    val bDir = java.nio.file.Files.createTempDirectory("bdedup").toString
    Dedup.buildMinhashIndex(history, "doc_id", "text", s"$sDir/idx")
    Dedup.buildMinhashIndex(history, "doc_id", "text", s"$bDir/idx")
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.dedupIngestStream(mem.toDF().toDF("doc_id", "text"),
      s"$sDir/idx", "doc_id", "text", s"$sDir/pairs", s"$sDir/ckpt",
      tau = 0.5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$sDir/pairs")
      .select("id_new", "id_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // the sequential batch lifecycle over the same two batches
    def run(batch: Seq[(Long, String)]) = {
      val df = batch.toDF("doc_id", "text")
      val pairs = Dedup.dedupAgainstIndex(spark, s"$bDir/idx", df, "doc_id", "text")
        .select("id_new", "id_old", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      Dedup.appendToMinhashIndex(spark, s"$bDir/idx", df, "doc_id", "text",
        s"s${batch.head._1}")
      pairs
    }
    val expected = run(b1) ++ run(b2)
    assert(streamed == expected && streamed.nonEmpty,
      s"streamed $streamed != sequential $expected")
    // batch 2's near-dup matched batch 1's doc 10 — proof the index GREW
    // between micro-batches, not just the pre-built history
    assert(streamed.exists(p => p._1 == 20L && p._2 == 10L),
      "no match against the batch appended by the previous trigger")
    assert(streamed.exists(p => p._1 == 20L && p._2 == 1L))
  }

  test("admitIngestStream: the growing admission ledger; within-batch collapse; replay converges") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val histText = "seen in history before now"
    val history = Seq((1L, histText), (2L, "other stored document text"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sadmitl").toString
    Dedup.buildExactIndex(history, "doc_id", "text", s"$dir/idx")
    val b1 = Seq((20L, histText),        // replay of history → dup of 1
      (21L, "novel text alpha"),         // novel
      (22L, "novel text alpha"),         // within-batch dup → collapses to 21
      (23L, "novel text beta"))
    val b2 = Seq((30L, "novel text alpha"), // dup of PREVIOUS BATCH's 21
      (31L, "completely fresh gamma"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.admitIngestStream(mem.toDF().toDF("doc_id", "text"),
      s"$dir/idx", "doc_id", "text", s"$dir/admit", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def ledger() = spark.read.parquet(s"$dir/admit")
      .select("id", "first_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().toSet
    val got = ledger()
    assert(got == Set(
      (20L, 1L, true),   // history replay
      (21L, 21L, false), // keeper of the within-batch family
      (22L, 21L, true),  // collapsed onto 21
      (23L, 23L, false),
      (30L, 21L, true),  // rejected against the PREVIOUS batch's append
      (31L, 31L, false)), s"got $got")
    // replay convergence: re-executing batch 1's micro-batch against
    // the now-grown index rewrites the identical ledger slice and
    // leaves the index unchanged (no marker protocol needed)
    val fpsBefore = spark.read.parquet(s"$dir/idx/fps").count()
    StreamIngest.applyAdmitBatch(b1.toDF("doc_id", "text"), 0L,
      s"$dir/idx", "doc_id", "text", s"$dir/admit")
    assert(ledger() == got, "replayed micro-batch changed the ledger")
    assert(spark.read.parquet(s"$dir/idx/fps").count() == fpsBefore)
  }

  test("applyDedupBatch: replays are idempotent in every crash window") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val history = Seq((1L, base)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sdreplay").toString
    Dedup.buildMinhashIndex(history, "doc_id", "text", s"$dir/idx")
    val b1 = Seq((10L, base.replace("quick", "rapid"))).toDF("doc_id", "text")
    def apply1() = StreamIngest.applyDedupBatch(b1, 1L, s"$dir/idx",
      "doc_id", "text", s"$dir/pairs", tau = 0.5)
    apply1()
    def pairs() = spark.read.parquet(s"$dir/pairs")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    val once = pairs()
    assert(once.contains((10L, 1L)))
    // replay with the marker present: full no-op
    apply1()
    assert(pairs() == once)
    // replay simulating a crash AFTER the append but BEFORE the marker:
    // all batch ids are stored -> skip the append, rewrite the marker
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx/applied/1")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/1"), false)
    apply1() // must not throw through the replayed-id guard
    assert(pairs() == once)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/1")))
    // the index holds each doc exactly once after all replays
    assert(spark.read.parquet(s"$dir/idx/shingles")
      .select("id").distinct().count() == 2)
    // already-indexed ids arriving under a NEW batchId with no pairs
    // output = checkpoint/ledger mismatch, not a replay — loud failure
    val b2 = Seq((10L, base.replace("quick", "rapid"))).toDF("doc_id", "text")
    val mism = intercept[IllegalArgumentException] {
      StreamIngest.applyDedupBatch(b2, 7L, s"$dir/idx",
        "doc_id", "text", s"$dir/pairs", tau = 0.5)
    }
    assert(mism.getMessage.contains("ledger mismatch"), mism.getMessage)
    // a GENUINE half-append (id present in sigs, absent from shingles
    // and the sidecar — a crash between the table writes) fails loudly
    // the half-append lands in the payload's src partition layout, as
    // a real crashed append would
    Seq((99L, 0, "fake-sig")).toDF("id", "band", "sig")
      .write.mode("append").parquet(s"$dir/idx/sigs/src=ghost")
    val half = intercept[IllegalStateException] {
      StreamIngest.applyDedupBatch(
        Seq((99L, "brand new doc " * 8)).toDF("doc_id", "text"),
        8L, s"$dir/idx", "doc_id", "text", s"$dir/pairs", tau = 0.5)
    }
    assert(half.getMessage.contains("inconsistently stored"), half.getMessage)
    // a MIXED re-delivered batch (one indexed doc, one new) must fail
    // loudly, not silently skip the new doc
    val mixed = intercept[IllegalStateException] {
      StreamIngest.applyDedupBatch(
        Seq((10L, base.replace("quick", "rapid")),
          (77L, "genuinely new content " * 8)).toDF("doc_id", "text"),
        11L, s"$dir/idx", "doc_id", "text", s"$dir/pairs", tau = 0.5)
    }
    assert(mixed.getMessage.contains("inconsistently stored"), mixed.getMessage)
    // a batch the shingle filter legitimately empties (doc shorter than
    // the shingle width) must APPLY cleanly, not brick the stream
    StreamIngest.applyDedupBatch(
      Seq((50L, "hi")).toDF("doc_id", "text"),
      9L, s"$dir/idx", "doc_id", "text", s"$dir/pairs", tau = 0.5)
    val fs2 = new org.apache.hadoop.fs.Path(s"$dir/idx/applied/9")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs2.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/9")))
  }

  test("stale replay markers (checkpoint reset) fail loudly instead of dropping the batch") {
    import graft.operators.{Ann, Dedup}
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val dir = java.nio.file.Files.createTempDirectory("stalemark").toString
    Dedup.buildMinhashIndex(Seq((1L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
    // simulate a checkpoint reset: batch 0's marker survives in the index
    // dir, but the stream restarts from batch 0 with a genuinely NEW doc
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), true).close()
    val fresh = Seq((42L, base.replace("quick", "speedy"))).toDF("doc_id", "text")
    val ex = intercept[IllegalStateException] {
      StreamIngest.applyDedupBatch(fresh, 0L, s"$dir/idx",
        "doc_id", "text", s"$dir/pairs", tau = 0.5)
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
    // nothing was silently appended or dropped into the pairs ledger
    assert(Dedup.indexedIds(spark, s"$dir/idx")
      .as[Long].collect().toSet == Set(1L))
    // same guard on the ANN side
    val dimA = 8
    def vec(i: Long) = Seq.tabulate(dimA)(j => math.sin(i * 131 + j * 17))
    Ann.buildIvfIndex((1L to 60L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$dir/ann", nlist = 4)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/ann/applied/0"), true).close()
    val exAnn = intercept[IllegalStateException] {
      StreamIngest.applyAnnBatch(
        (61L to 70L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/ann")
    }
    assert(exAnn.getMessage.contains("checkpoint reset"), exAnn.getMessage)
    // a marker backed by fully-stored docs is still honored as a replay
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/ann/applied/0"), false)
    StreamIngest.applyAnnBatch(
      (61L to 70L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/ann")
    StreamIngest.applyAnnBatch(
      (61L to 70L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/ann")
    assert(spark.read.parquet(s"$dir/ann/cells").count() == 70)
    // retiring a segment whose checkpoint hasn't committed is the same
    // signature: the marker survives, the payload is gone, and a crash
    // replay of that batch fails LOUDLY instead of silently
    // resurrecting the retired segment — the retireWindow scaladoc's
    // keep >= 1 floor for live streams
    IndexFamily.ivf.retireSrcs(spark, s"$dir/ann", Seq("b0"))
    val exRet = intercept[IllegalStateException] {
      StreamIngest.applyAnnBatch(
        (61L to 70L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/ann")
    }
    assert(exRet.getMessage.contains("checkpoint reset"), exRet.getMessage)
  }

  test("mineIngestStream: streamed anchors equal the batch mining; replay is idempotent") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val corpus = (1L to 80L).map(i => (i, vec(i))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("minestream").toString
    Ann.buildIvfIndex(corpus, s"$dir/idx", nlist = 4)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.mineIngestStream(
      mem.toDF().toDF("qid", "qv"), s"$dir/idx", s"$dir/out", s"$dir/ckpt",
      k = 5, dupThreshold = 0.9, window = 30, nprobe = 4,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((1L to 3L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    mem.addData((4L to 6L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    // union of the streamed batches == one batch mining of all anchors
    // (per-anchor independence — the mining is stateless by design)
    val streamed = spark.read.parquet(s"$dir/out")
      .select("qid", "id", "score", "neg_rank")
      .as[(Long, Long, Double, Long)].collect().toSet
    val anchors = (1L to 6L).map(i => (i, vec(i))).toDF("qid", "qv")
    val direct = Ann.mineHardNegativesIndex(spark, s"$dir/idx", anchors,
        k = 5, dupThreshold = 0.9, window = 30, nprobe = 4)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(streamed == direct, "drained mining diverged from batch")
    // replay: re-applying a batch overwrites to the identical output
    graft.streaming.StreamIngest.applyMineBatch(
      (1L to 3L).map(i => (i, vec(i))).toDF("qid", "qv"), 0L,
      s"$dir/idx", k = 5, dupThreshold = 0.9, window = 30, nprobe = 4,
      s"$dir/out")
    assert(spark.read.parquet(s"$dir/out")
      .select("qid", "id", "score", "neg_rank")
      .as[(Long, Long, Double, Long)].collect().toSet == direct)
  }

  test("annIngestStream: streamed batches land in the stored-codebook cells; search sees them") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val history = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("annstream").toString
    Ann.buildIvfIndex(history, s"$dir/idx", nlist = 4)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.annIngestStream(
      mem.toDF().toDF("id", "v"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((61L to 80L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    mem.addData((81L to 100L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    val cells = spark.read.parquet(s"$dir/idx/cells")
    assert(cells.count() == 100 && cells.select("id").distinct().count() == 100)
    // full-probe search over the streamed index equals brute force on
    // everything ingested so far — appended rows fully searchable
    val full = (1L to 100L).map(i => (i, vec(i))).toDF("id", "v")
    val qs85 = Seq((85L, vec(85L))).toDF("qid", "qv")
    val searched = Ann.searchIvfIndex(spark, s"$dir/idx", qs85, k = 5, nprobe = 4)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Ann.bruteForceTopK(full, qs85, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(searched == exact, "streamed index at full probe diverged from brute force")
    // replay idempotency: marker removed, batch re-applied -> no throw, no dup rows
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    graft.streaming.StreamIngest.applyAnnBatch(
      (61L to 80L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/cells").count() == 100)
  }

  test("sparseIngestStream: streamed postings searchable at once; replay and crash windows repaired") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    def post(lo: Long, hi: Long) = (lo to hi).flatMap(i =>
      Seq((i, i % 13, 2.0), (i, 13 + i % 7, 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("sparsestream").toString
    Ann.buildSparseIndex(post(1L, 40L).toDF("id", "term", "w"),
      s"$dir/idx", buckets = 8)
    val mem = MemoryStream[(Long, Long, Double)]
    val q = graft.streaming.StreamIngest.sparseIngestStream(
      mem.toDF().toDF("id", "term", "w"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(post(41L, 60L): _*)
    q.processAllAvailable()
    mem.addData(post(61L, 80L): _*)
    q.processAllAvailable()
    q.stop()
    // weight-sum AND BM25 searches over the streamed index equal the
    // full-corpus in-memory forms — appends kept doclens/stats current
    val full = post(1L, 80L).toDF("id", "term", "w")
    val qterms = full.filter(col("id") === 70L)
      .select(col("id").as("qid"), col("term"), col("w").as("qw"))
    val wsGot = Ann.searchSparseIndex(spark, s"$dir/idx", qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val wsWant = Ann.sparseTopK(full, qterms, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(wsGot == wsWant && wsGot.nonEmpty,
      "streamed sparse index diverged from full-postings weight-sum")
    val bmQ = qterms.select("qid", "term").distinct()
    val bmGot = Ann.searchSparseIndexBm25(spark, s"$dir/idx", bmQ, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val bmWant = Ann.bm25TopK(full.withColumnRenamed("w", "tf"), bmQ, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(bmGot == bmWant, "streamed doclens/stats diverged from rebuild BM25")
    // replay idempotency: marker lost, batch re-applied — no throw, no dups
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    graft.streaming.StreamIngest.applySparseBatch(
      post(41L, 60L).toDF("id", "term", "w"), 0L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/ids").count() == 80)
    // stale marker (checkpoint reset recycling batchId 0 with NEW docs)
    // fails loudly instead of dropping the batch
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamIngest.applySparseBatch(
        post(81L, 90L).toDF("id", "term", "w"), 0L, s"$dir/idx")
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
    // crash window: batch staged + journal committed, move never ran —
    // the next micro-batch's pre-witness heal rolls it forward
    val tail = post(81L, 90L).toDF("id", "term", "w")
    tail.withColumn("tbucket", pmod(col("term"), lit(8)).cast("int"))
      .withColumn("src", lit("b98"))
      .write.partitionBy("src", "tbucket")
      .parquet(s"$dir/idx/postings/_append_tmp")
    tail.groupBy("id").agg(sum(col("w")).as("dl"))
      .withColumn("src", lit("b98"))
      .write.partitionBy("src").parquet(s"$dir/idx/doclens/_append_tmp")
    tail.select("id").distinct().write.parquet(s"$dir/idx/_pending_append")
    graft.streaming.StreamIngest.applySparseBatch(
      post(91L, 95L).toDF("id", "term", "w"), 99L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/ids").count() == 95,
      "healed batch missing from the sidecar")
    val n = spark.read.parquet(s"$dir/idx/stats").head().getDouble(0)
    assert(n == 95.0, s"stats n=$n after heal+append")
  }

  test("ivfPqIngestStream: streamed batches encode through the stored codebooks; search equals batch appends") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val history = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("pqstream").toString
    // two identical builds (deterministic seed): one fed by the stream,
    // one by direct batch appends — the results must be bit-equal
    Ann.buildIvfPqIndex(history, s"$dir/idx", nlist = 4, m = 4, ksub = 8)
    Ann.buildIvfPqIndex(history, s"$dir/ref", nlist = 4, m = 4, ksub = 8)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.ivfPqIngestStream(
      mem.toDF().toDF("id", "v"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((61L to 80L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    mem.addData((81L to 100L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    Ann.appendToIvfPqIndex(spark, s"$dir/ref",
      (61L to 80L).map(i => (i, vec(i))).toDF("id", "v"))
    Ann.appendToIvfPqIndex(spark, s"$dir/ref",
      (81L to 100L).map(i => (i, vec(i))).toDF("id", "v"))
    val qs = Seq((85L, vec(85L))).toDF("qid", "qv")
    val got = Ann.searchIvfPqIndex(spark, s"$dir/idx", qs, k = 5, nprobe = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val want = Ann.searchIvfPqIndex(spark, s"$dir/ref", qs, k = 5, nprobe = 4)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty,
      "streamed IVF-PQ index diverged from direct batch appends")
    // replay idempotency: marker lost, batch re-applied — no throw, no dups
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    graft.streaming.StreamIngest.applyIvfPqBatch(
      (61L to 80L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/codes").count() == 100)
    // stale marker with NEW docs fails loudly
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamIngest.applyIvfPqBatch(
        (101L to 110L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
  }

  test("binaryIngestStream: streamed vectors Hamming-searchable at once; replay and crash windows repaired") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val dir = java.nio.file.Files.createTempDirectory("binstream").toString
    Ann.buildBinaryIndex((1L to 40L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$dir/idx", dim)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.binaryIngestStream(
      mem.toDF().toDF("id", "v"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((41L to 60L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    mem.addData((61L to 80L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    // search over the streamed index equals the in-memory form on the
    // union corpus — appended rows fully searchable
    val full = (1L to 80L).map(i => (i, vec(i))).toDF("id", "v")
    val qs = Seq((70L, vec(70L))).toDF("qid", "qv")
    val got = Ann.searchBinaryIndex(spark, s"$dir/idx", qs, k = 5)
      .select("qid", "id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    val want = Ann.binaryTopK(full, qs, k = 5, dim = dim)
      .select("qid", "id", "hamming", "rank")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty,
      "streamed binary index diverged from in-memory binaryTopK")
    // replay idempotency: marker lost, batch re-applied — no throw, no dups
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    graft.streaming.StreamIngest.applyBinaryBatch(
      (41L to 60L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/bits").count() == 80)
    // stale marker (checkpoint reset recycling batchId 0 with NEW docs)
    // fails loudly instead of dropping the batch
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamIngest.applyBinaryBatch(
        (81L to 90L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
    // crash window: batch staged + journal committed, move never ran —
    // the next micro-batch's pre-witness heal rolls it forward
    val tail = (81L to 90L).map(i => (i, vec(i))).toDF("id", "v")
    tail.select(col("id"), graft.functions.VectorFunctions
        .binarizeSign(col("v"), dim).as("cb"))
      .withColumn("src", lit("b98"))
      .write.partitionBy("src").parquet(s"$dir/idx/bits/_append_tmp")
    tail.select("id").distinct().write.parquet(s"$dir/idx/_pending_append")
    graft.streaming.StreamIngest.applyBinaryBatch(
      (91L to 95L).map(i => (i, vec(i))).toDF("id", "v"), 99L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/ids").count() == 95,
      "healed batch missing from the sidecar")
    assert(spark.read.parquet(s"$dir/idx/bits").count() == 95)
  }

  test("phashIngestStream: streamed signatures probe-able at once; replay and crash windows repaired") {
    import graft.operators.Multimodal
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    // [0,1] feature vectors so thresh 0.5 splits bits evenly; ids i and
    // i+1000 share features → guaranteed hamming-0 matches for the probe
    def feat(i: Long) =
      Seq.tabulate(dim)(j => (math.sin((i % 1000) * 131 + j * 17) + 1) / 2)
    val dir = java.nio.file.Files.createTempDirectory("phstream").toString
    Multimodal.buildPhashIndex((1L to 40L).map(i => (i, feat(i)))
      .toDF("id", "features"), "id", "features", s"$dir/idx", dim, maxHam = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.phashIngestStream(
      mem.toDF().toDF("id", "features"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((41L to 60L).map(i => (i, feat(i))): _*)
    q.processAllAvailable()
    mem.addData((61L to 80L).map(i => (i, feat(i))): _*)
    q.processAllAvailable()
    q.stop()
    // a probe batch re-using streamed assets' features must hit them:
    // the streamed index equals a sequentially-built one
    val probe = Seq((1055L, feat(55L)), (1077L, feat(77L)))
      .toDF("id", "features")
    val got = Multimodal.dedupPhashAgainstIndex(spark, s"$dir/idx",
        probe, "id", "features")
      .select("id_new", "id_old", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1055L, 55L, 0L)) && got.contains((1077L, 77L, 0L)),
      s"streamed signatures not probe-able: $got")
    val seqDir = java.nio.file.Files.createTempDirectory("phseq").toString
    Multimodal.buildPhashIndex((1L to 80L).map(i => (i, feat(i)))
      .toDF("id", "features"), "id", "features", s"$seqDir/idx", dim, maxHam = 2)
    val want = Multimodal.dedupPhashAgainstIndex(spark, s"$seqDir/idx",
        probe, "id", "features")
      .select("id_new", "id_old", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"\nstreamed $got\nsequential $want")
    // replay idempotency: marker lost, batch re-applied — no throw, no dups
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    graft.streaming.StreamIngest.applyPhashBatch(
      (41L to 60L).map(i => (i, feat(i))).toDF("id", "features"),
      0L, s"$dir/idx", "id", "features")
    assert(spark.read.parquet(s"$dir/idx/ids").count() == 80)
    // stale marker (checkpoint reset recycling batchId 0 with NEW assets)
    // fails loudly instead of dropping the batch
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamIngest.applyPhashBatch(
        (81L to 90L).map(i => (i, feat(i))).toDF("id", "features"),
        0L, s"$dir/idx", "id", "features")
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
    // crash window: batch staged + journal committed, move never ran —
    // the next micro-batch's pre-witness heal rolls it forward
    val tail = (81L to 90L).map(i => (i, feat(i))).toDF("id", "features")
    val bands = 3; val width = 6 // maxHam+1 bands, ceil(16/3), last band 4 bits
    val sig = tail.select(col("id"),
      Multimodal.phashBits(col("features"), dim, 0.5).as("sig"))
    sig.select(col("id"), col("sig"),
        explode(array((0 until bands).map { b =>
          val w = math.min(width, dim - b * width)
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * width).bitwiseAND((1L << w) - 1).as("key"))
        }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"),
        lit("b98").as("src"))
      .write.partitionBy("src").parquet(s"$dir/idx/bands/_append_tmp")
    tail.select("id").distinct().write.parquet(s"$dir/idx/_pending_append")
    graft.streaming.StreamIngest.applyPhashBatch(
      (91L to 95L).map(i => (i, feat(i))).toDF("id", "features"),
      99L, s"$dir/idx", "id", "features")
    assert(spark.read.parquet(s"$dir/idx/ids").count() == 95,
      "healed batch missing from the sidecar")
    assert(spark.read.parquet(s"$dir/idx/bands").select("id").distinct().count() == 95)
  }

  test("lshIngestStream: streamed vectors bucket-searchable at once; replay and crash windows repaired") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 16
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val dir = java.nio.file.Files.createTempDirectory("lshstream").toString
    Ann.buildLshIndex((1L to 40L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$dir/idx", dim, planes = 4, tables = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.lshIngestStream(
      mem.toDF().toDF("id", "v"), s"$dir/idx", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((41L to 60L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    mem.addData((61L to 80L).map(i => (i, vec(i))): _*)
    q.processAllAvailable()
    q.stop()
    // signatures are deterministic in (dim, planes, tables): the
    // streamed index equals the in-memory form on the union corpus
    val full = (1L to 80L).map(i => (i, vec(i))).toDF("id", "v")
    val qs = Seq((70L, vec(70L))).toDF("qid", "qv")
    val got = Ann.searchLshIndex(spark, s"$dir/idx", qs, k = 5)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Ann.lshTopK(full, qs, k = 5, dim = dim, planes = 4, tables = 2)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want && got.nonEmpty,
      "streamed LSH index diverged from in-memory lshTopK")
    // replay idempotency: marker lost, batch re-applied — no dup rows
    val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/idx/applied/0"), false)
    val rowsBefore = spark.read.parquet(s"$dir/idx/buckets").count()
    graft.streaming.StreamIngest.applyLshBatch(
      (41L to 60L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    assert(spark.read.parquet(s"$dir/idx/buckets").count() == rowsBefore,
      "replayed batch re-appended")
    // stale marker (checkpoint reset recycling batchId 0 with NEW docs)
    // fails loudly instead of dropping the batch
    val ex = intercept[IllegalStateException] {
      graft.streaming.StreamIngest.applyLshBatch(
        (81L to 90L).map(i => (i, vec(i))).toDF("id", "v"), 0L, s"$dir/idx")
    }
    assert(ex.getMessage.contains("checkpoint reset"), ex.getMessage)
    // crash window: staging written + journal committed, move never ran.
    // Stage exactly what appendToLshIndex would (an index built with the
    // SAME meta produces the same deterministic bucket rows), then let
    // the next micro-batch's pre-witness heal roll it forward.
    val scratch = java.nio.file.Files.createTempDirectory("lshtail").toString
    Ann.buildLshIndex((81L to 90L).map(i => (i, vec(i))).toDF("id", "v"),
      s"$scratch/idx", dim, planes = 4, tables = 2)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/idx/buckets/_append_tmp")
    fs.mkdirs(staging.getParent)
    require(fs.rename(
      new org.apache.hadoop.fs.Path(s"$scratch/idx/buckets"), staging))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/idx/_pending_append"))
    graft.streaming.StreamIngest.applyLshBatch(
      (91L to 95L).map(i => (i, vec(i))).toDF("id", "v"), 99L, s"$dir/idx")
    val ids = spark.read.parquet(s"$dir/idx/buckets")
      .select("id").distinct().as[Long].collect().toSet
    assert(ids == (1L to 95L).toSet,
      s"healed/streamed ids wrong: missing ${(1L to 95L).toSet -- ids}")
    // the healed batch is searchable like any other: the persisted
    // search equals the in-memory form over everything ingested (ties
    // at 4dp — vec(12) vs vec(85) — resolve identically on both paths)
    val q85 = Seq((85L, vec(85L))).toDF("qid", "qv")
    val healedGot = Ann.searchLshIndex(spark, s"$dir/idx", q85, k = 3)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val healedWant = Ann.lshTopK((1L to 95L).map(i => (i, vec(i))).toDF("id", "v"),
        q85, k = 3, dim = dim, planes = 4, tables = 2)
      .select("qid", "id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(healedGot == healedWant && healedGot.exists(_._2 == 85L),
      s"healed index search diverged: $healedGot vs $healedWant")
  }

  test("stream_ingest: readStream through the ingest pipeline produces Milvus rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val docsStream = mem.toDF().toDF("doc_id", "text", "source")
    val existing = Seq((2L, "x")).toDF("file_id", "x") // doc 2 already ingested
    val q = StreamIngest.pipeline(docsStream, existing, dim = 8,
        chunkSize = 50, overlap = 10)
      .writeStream.format("memory").queryName("singest")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (1L, "spark streaming ingest pipeline " * 5, "srcA"),
      (2L, "already ingested doc, must be skipped", "srcB"))
    q.processAllAvailable()
    val out = spark.table("singest")
    val rows = out.collect()
    q.stop()
    assert(rows.nonEmpty)
    assert(out.columns.toSeq == graft.sources.VectorSchema.schema.fieldNames.toSeq)
    assert(rows.forall(_.getAs[Long]("file_id") == 1L)) // exists-check skipped doc 2
    assert(rows.map(_.getAs[Long]("block_id")).distinct.length == rows.length)
  }

  test("asofJoinStream: drained stream equals batch asofJoin; out-of-order within watermark joined exactly") {
    import graft.streaming.{AsofEvent, AsofJoined}
    implicit val sqlCtx = spark.sqlContext
    def ev(key: Long, min: Int, side: Int, id: Long, v: Double) =
      AsofEvent(key, ts(min), side, id, v)
    // rights (versioned lookup) and lefts (events to enrich)
    val rights = Seq(ev(1, 0, 0, 0, 1.0), ev(1, 10, 0, 0, 2.0), ev(2, 5, 0, 0, 5.0))
    val lefts = Seq(ev(1, 1, 1, 1, 0), ev(1, 9, 1, 2, 0), ev(1, 10, 1, 3, 0), // inclusive match at 10
      ev(1, 25, 1, 4, 0), ev(2, 4, 1, 10, 0), ev(2, 6, 1, 11, 0))
    val mem = MemoryStream[AsofEvent]
    val q = graft.streaming.Events
      .asofJoinStream(mem.toDS().withWatermark("ts", "1 hour").as[AsofEvent])
      .writeStream.format("memory").queryName("sasof")
      .outputMode(OutputMode.Append()).start()
    // two interleaved OUT-OF-ORDER triggers, then a far-future right to
    // push the watermark past every left so all of them become final
    mem.addData(lefts(1), rights(1), lefts(4), rights(0), lefts(0))
    q.processAllAvailable()
    mem.addData(lefts(3), rights(2), lefts(2), lefts(5))
    q.processAllAvailable()
    mem.addData(ev(99, 60 * 24, 0, 0, 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sasof")
      .select("key", "event_id", "ts_ms", "value")
      .as[AsofJoined].collect().toSet
    q.stop()
    val leftDf = lefts.map(e => (e.key, e.event_id, e.ts.getTime))
      .toDF("user_id", "event_id", "ts_ms")
    val rightDf = rights.map(e => (e.key, e.ts.getTime, e.value))
      .toDF("user_id", "rts", "upd_value")
    val batch = Events.asofJoin(leftDf, rightDf, "user_id", "ts_ms", "rts",
        Seq("upd_value"))
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("upd_value"))
      .collect().map(r => AsofJoined(r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(streamed == batch && streamed.size == lefts.size,
      s"streamed ${streamed.toSeq.sortBy(_.event_id)} vs batch ${batch.toSeq.sortBy(_.event_id)}")
    // the pre-right left joined null; the inclusive-ts left took 2.0
    assert(streamed.find(_.event_id == 10L).get.value.isEmpty)
    assert(streamed.find(_.event_id == 3L).get.value.contains(2.0))
  }

  test("asofJoinStream: a left arriving after the watermark passed its ts is dropped (late-data contract)") {
    import graft.streaming.{AsofEvent, AsofJoined}
    implicit val sqlCtx = spark.sqlContext
    def ev(key: Long, min: Int, side: Int, id: Long, v: Double) =
      AsofEvent(key, ts(min), side, id, v)
    val mem = MemoryStream[AsofEvent]
    val q = graft.streaming.Events
      .asofJoinStream(mem.toDS().withWatermark("ts", "1 hour").as[AsofEvent])
      .writeStream.format("memory").queryName("sasoflate")
      .outputMode(OutputMode.Append()).start()
    // trigger 1: a right at t=0 and a far-future event push the
    // watermark to ~23h — far past every minute-scale timestamp below
    mem.addData(ev(1, 0, 0, 0, 1.0), ev(99, 60 * 24, 0, 0, 0.0))
    q.processAllAvailable()
    // trigger 2: a left at t=5min arrives AFTER the watermark passed its
    // ts — the engine must drop it before the state fn (it can no longer
    // be joined correctly: rights below the watermark already collapsed)
    mem.addData(ev(1, 5, 1, 42, 0))
    q.processAllAvailable()
    // a live left (above the watermark) still joins once the watermark
    // passes IT — the drop is the late-data contract, not a stuck stream
    mem.addData(ev(1, 60 * 25, 1, 43, 0))
    q.processAllAvailable()
    mem.addData(ev(99, 60 * 48, 0, 0, 0.0))
    q.processAllAvailable()
    val out = spark.table("sasoflate").select("key", "event_id", "ts_ms", "value")
      .as[AsofJoined].collect()
    q.stop()
    assert(!out.exists(_.event_id == 42L),
      s"late left must be dropped, got ${out.toSeq}")
    val live = out.find(_.event_id == 43L)
    assert(live.isDefined && live.get.value.contains(1.0),
      s"live left must still join the surviving right version, got ${out.toSeq}")
  }

  test("rangeJoin is stream-static: a points stream against static ranges equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    // static side: per-user time ranges; stream side: points
    val ranges = Seq((1L, 0L, 1000L, 100L), (1L, 5000L, 9000L, 200L),
      (2L, 500L, 1500L, 300L)).toDF("user_id", "rs", "re", "range_id")
    val points = Seq((1L, 10L, 500L), (1L, 11L, 7000L), (1L, 12L, 2000L), // 12: no range
      (2L, 20L, 600L), (2L, 21L, 1501L))                                  // 21: just outside
    val mem = MemoryStream[(Long, Long, Long)]
    val sdf = mem.toDF().toDF("user_id", "event_id", "ts")
    val q = Events.rangeJoin(sdf, ranges, "user_id", "ts", "rs", "re",
        bucketMs = 1000L)
      .select("user_id", "event_id", "range_id")
      .writeStream.format("memory").queryName("srange")
      .outputMode(OutputMode.Append()).start()
    mem.addData(points.take(3): _*)
    q.processAllAvailable()
    mem.addData(points.drop(3): _*)
    q.processAllAvailable()
    val streamed = spark.table("srange")
      .as[(Long, Long, Long)].collect().toSet
    q.stop()
    val batch = Events.rangeJoin(points.toDF("user_id", "event_id", "ts"),
        ranges, "user_id", "ts", "rs", "re", bucketMs = 1000L)
      .select("user_id", "event_id", "range_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed ==
      Set((1L, 10L, 100L), (1L, 11L, 200L), (2L, 20L, 300L)),
      s"streamed $streamed vs batch $batch")
  }

  test("capPerDomainStream: drained quality-ordered stream equals batch capPerDomain; cap holds across triggers") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "http://a.site1.com/x", Some(9.0)),
      (2L, "http://site1.com/y", Some(8.0)),
      (3L, "http://www.site1.com/z", Some(7.0)), // over site1 cap
      (4L, "http://site1.com/w", None),          // null quality, over cap
      (10L, "http://site2.org/a", Some(5.0)),
      (11L, "http://site2.org/b", Some(4.0)),
      (12L, "http://site2.org/c", Some(3.0)),    // over site2 cap
      (20L, "http://solo.net/only", None))       // null quality, admitted (cap not hit)
    // the replay/backfill contract: global quality-desc nulls-last feed
    val ordered = docs.sortBy { case (id, _, q) =>
      (q.isEmpty, q.map(-_).getOrElse(0.0), id) }
    val mem = MemoryStream[(Long, String, Option[Double])]
    val sdf = mem.toDF().toDF("doc_id", "url", "q")
    val qy = graft.streaming.StreamCurate
      .capPerDomainStream(sdf, "doc_id", "url", n = 2, "q")
      .writeStream.format("memory").queryName("scap")
      .outputMode(OutputMode.Append()).start()
    mem.addData(ordered.take(4): _*)   // trigger 1 fills site1's cap
    qy.processAllAvailable()
    mem.addData(ordered.drop(4): _*)   // trigger 2: site1 arrivals must bounce
    qy.processAllAvailable()
    val streamed = spark.table("scap").select("id", "domain", "rank")
      .as[(Long, String, Long)].collect().toSet
    qy.stop()
    val batch = Dedup.capPerDomain(docs.toDF("doc_id", "url", "q"),
        "doc_id", "url", n = 2, "q")
      .select(col("doc_id"), col("domain"), col("rank"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // doc 4 arrived in trigger 2 AFTER site1 filled its budget in trigger 1
    assert(streamed.count(_._2 == "site1.com") == 2)
    assert(!streamed.exists(_._1 == 4L))
  }

  // deterministic multi-user frame for the drain specs: rights are the
  // event_id % 10 == 0 rows (same side split as q_asof_join), with an
  // equal-ts left/right pair (event 20/21 at t=8) to pin inclusiveness
  private lazy val drainEvents = Seq(
    (10L, ts(0), 7L, "click", 1.5), (11L, ts(2), 7L, "view", 2.0),
    (20L, ts(8), 8L, "click", 3.25), (21L, ts(8), 8L, "view", 0.5),
    (12L, ts(40), 7L, "click", 4.0), (30L, ts(41), 9L, "view", 5.0),
    (13L, ts(90), 7L, "view", 6.0), (22L, ts(95), 8L, "click", 7.0),
    (31L, ts(140), 9L, "click", 8.0), (40L, ts(190), 10L, "view", 9.0),
    (14L, ts(240), 7L, "click", 10.0), (23L, ts(290), 8L, "view", 11.0),
    (15L, ts(3), 11L, "view", 12.0)) // user 11 has no right → NULL join
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("asofJoinDrained equals the batch asofJoin on the same sides") {
    val batch = {
      val e = Events.withMs(drainEvents)
      val updates = e.filter(col("event_id") % 10 === 0)
        .groupBy(col("user_id"), col("ts_ms"))
        .agg(max(round(col("value"), 2)).as("upd_value"))
        .withColumnRenamed("ts_ms", "rts")
      Events.asofJoin(
          e.select(col("user_id"), col("event_id"), col("ts_ms")),
          updates, "user_id", "ts_ms", "rts", Seq("upd_value"))
        .select(col("user_id"), col("event_id"), col("ts_ms"), col("upd_value"))
        .as[(Long, Long, Long, Option[Double])].collect().toSet
    }
    val drained = graft.streaming.StreamDrain.asofJoinDrained(drainEvents, chunks = 3)
      .select(col("key"), col("event_id"), col("ts_ms"), col("value"))
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(drained == batch, s"drained $drained vs batch $batch")
    // the equal-ts pair: lefts at t=8 see the right version published AT t=8
    assert(drained.filter(d => d._2 == 20L || d._2 == 21L)
      .forall(_._4.contains(3.25)))
    // a left after its key's right takes that version; a key with no
    // right at all joins NULL
    assert(drained.find(_._2 == 11L).exists(_._4.contains(1.5)))
    assert(drained.find(_._2 == 15L).exists(_._4.isEmpty))
  }

  test("drains are chunk-count insensitive: chunks=1 and chunks=32 give identical rows") {
    // the chunked feed protocol (watermark advance per chunk) must only
    // change timing, never results — one chunk vs one-row-per-chunk
    def setOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    import graft.streaming.StreamDrain
    assert(setOf(StreamDrain.sessionizeDrained(drainEvents, chunks = 1)) ==
      setOf(StreamDrain.sessionizeDrained(drainEvents, chunks = 32)))
    assert(setOf(StreamDrain.windowAggDrained(drainEvents, chunks = 1)) ==
      setOf(StreamDrain.windowAggDrained(drainEvents, chunks = 32)))
    assert(setOf(StreamDrain.asofJoinDrained(drainEvents, chunks = 1)) ==
      setOf(StreamDrain.asofJoinDrained(drainEvents, chunks = 32)))
  }

  test("drains are state-partition insensitive: 1 and 32 partitions give identical rows") {
    // the auto-sized drain session picks a partition count from the
    // feed; like chunking, that choice may move only timing — state is
    // keyed, so how keys spread over partitions can't change results
    def setOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    import graft.streaming.StreamDrain
    assert(setOf(StreamDrain.sessionizeDrained(drainEvents, statePartitions = 1)) ==
      setOf(StreamDrain.sessionizeDrained(drainEvents, statePartitions = 32)))
    assert(setOf(StreamDrain.windowAggDrained(drainEvents, statePartitions = 1)) ==
      setOf(StreamDrain.windowAggDrained(drainEvents, statePartitions = 32)))
    assert(setOf(StreamDrain.asofJoinDrained(drainEvents, statePartitions = 1)) ==
      setOf(StreamDrain.asofJoinDrained(drainEvents, statePartitions = 32)))
  }

  test("drains are state-store-provider invariant: RocksDB equals the default in-heap store") {
    // the provider decides where state bytes live (heap vs local
    // RocksDB), never what the operators emit — the swap a 100 TB
    // deployment makes when live state outgrows executor memory
    def setOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    import graft.streaming.StreamDrain
    val defaults = (setOf(StreamDrain.sessionizeDrained(drainEvents)),
      setOf(StreamDrain.windowAggDrained(drainEvents)),
      setOf(StreamDrain.asofJoinDrained(drainEvents)))
    spark.conf.set(StreamDrain.RocksDbFlag, "true")
    try {
      assert(setOf(StreamDrain.sessionizeDrained(drainEvents)) == defaults._1)
      assert(setOf(StreamDrain.windowAggDrained(drainEvents)) == defaults._2)
      assert(setOf(StreamDrain.asofJoinDrained(drainEvents)) == defaults._3)
    } finally spark.conf.unset(StreamDrain.RocksDbFlag)
  }

  test("drain feed cap rejects an oversized corpus loudly") {
    import graft.streaming.StreamDrain
    StreamDrain.requireDrainable(StreamDrain.MaxDrainRows) // at cap: fine
    val ex = intercept[IllegalArgumentException] {
      StreamDrain.requireDrainable(StreamDrain.MaxDrainRows + 1L)
    }
    assert(ex.getMessage.contains("drain feed would collect"))
    // and through the PUBLIC entry points: an over-cap feed must die in
    // the guard BEFORE any full collect or streaming query starts — the
    // limit(cap+1) bound means only cap+1 rows ever reach the driver
    // (this is the latent-failure probe: the guard wiring, not the
    // formula, is what could silently rot)
    val over = spark.range(StreamDrain.MaxDrainRows + 5L)
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + col("id") % 86400).as("ts"),
        (col("id") % 50).as("user_id"),
        lit("click").as("event_type"), lit(1.0).as("value"))
    val e1 = intercept[IllegalArgumentException] {
      StreamDrain.sessionizeDrained(over)
    }
    assert(e1.getMessage.contains("drain feed would collect"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      StreamDrain.windowAggDrained(over)
    }
    assert(e2.getMessage.contains("drain feed would collect"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      StreamDrain.asofJoinDrained(over)
    }
    assert(e3.getMessage.contains("drain feed would collect"), e3.getMessage)
  }

  test("lineDfIngestStream: streamed cleans equal sequential filtering; latest-batch replay is idempotent") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val history = Seq((1L, "alpha\nfooter"), (2L, "beta\nunique2"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("slinedf").toString
    Dedup.buildLineDfIndex(history, "doc_id", "text", s"$dir/idx")
    val b1 = Seq((10L, "gamma\nfooter"), (11L, "alpha\ndelta"))
    val b2 = Seq((20L, "gamma\nepsilon"), (21L, "zeta\nzeta two"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.lineDfIngestStream(mem.toDF().toDF("doc_id", "text"),
      s"$dir/idx", "doc_id", "text", s"$dir/clean", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def cleans() = spark.read.parquet(s"$dir/clean")
      .select("id", "clean").as[(Long, String)].collect().toMap
    val got = cleans()
    // the sequential reference: batch i's docs filtered by the batch
    // operator over history ∪ batches 1..i
    val all = history.unionByName(b1.toDF("doc_id", "text"))
      .unionByName(b2.toDF("doc_id", "text"))
    val ref1 = Dedup.dedupLinesAcrossDocs(
        history.unionByName(b1.toDF("doc_id", "text")), "doc_id", "text")
      .filter(col("id").isin(10L, 11L)).as[(Long, String)].collect().toMap
    val ref2 = Dedup.dedupLinesAcrossDocs(all, "doc_id", "text")
      .filter(col("id").isin(20L, 21L)).as[(Long, String)].collect().toMap
    assert(got == ref1 ++ ref2, s"got $got")
    assert(got == Map(10L -> "gamma", 11L -> "delta",
      20L -> "epsilon", 21L -> "zeta\nzeta two"))
    // engine replay window: re-deliver the LATEST batch (the only one
    // Structured Streaming can re-run) — verdicts rewrite identically,
    // df increments do not double-count
    val rowsBefore = spark.read.parquet(s"$dir/idx/lines").count()
    StreamIngest.applyLineDfBatch(b2.toDF("doc_id", "text"), 1L,
      s"$dir/idx", "doc_id", "text", s"$dir/clean")
    assert(cleans() == got, "replayed micro-batch changed the cleans")
    assert(spark.read.parquet(s"$dir/idx/lines").count() == rowsBefore,
      "replayed micro-batch double-counted df increments")
  }

  test("containmentIngestStream: streamed verdicts equal sequential admission; latest-batch replay is idempotent") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val history = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "totally different maritime navigation content here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("scontain").toString
    Dedup.buildContainmentIndex(history, "doc_id", "text", s"$dir/idx")
    val b1 = Seq(
      (201L, "beta gamma delta epsilon zeta"),   // inside history 100 -> dropped
      (203L, "completely novel text about cooking recipes and baking"),
      (205L, "novel text about cooking"))        // inside same-batch 203 -> dropped
    val b2 = Seq(
      (301L, "text about cooking recipes"),      // inside batch-1 SURVIVOR 203
      (303L, "beta gamma delta"),                // inside history 100 still
      (305L, "entirely fresh subject matter with no overlap at all"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.containmentIngestStream(mem.toDF().toDF("doc_id", "text"),
      s"$dir/idx", "doc_id", "text", s"$dir/verdicts", s"$dir/ckpt",
      tau = 0.8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def verdicts() = spark.read.parquet(s"$dir/verdicts")
      .select("id", "is_contained", "container_id")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = verdicts()
    assert(got == Map(
      201L -> ((true, Some(100L))), 203L -> ((false, None)),
      205L -> ((true, Some(203L))),
      301L -> ((true, Some(203L))), 303L -> ((true, Some(100L))),
      305L -> ((false, None))), s"got $got")
    // only survivors were admitted: the index's ids are history + kept
    val ids = spark.read.parquet(s"$dir/idx/ids")
      .as[Long].collect().toSet
    assert(ids == Set(100L, 102L, 203L, 305L), s"got $ids")
    // engine replay window: re-deliver the LATEST batch — verdicts
    // rewrite identically, the id-guarded append adds nothing
    val rowsBefore = spark.read.parquet(s"$dir/idx/shingles").count()
    StreamIngest.applyContainmentBatch(b2.toDF("doc_id", "text"), 1L,
      s"$dir/idx", "doc_id", "text", s"$dir/verdicts", tau = 0.8)
    assert(verdicts() == got, "replayed micro-batch changed a verdict")
    assert(spark.read.parquet(s"$dir/idx/shingles").count() == rowsBefore,
      "replayed micro-batch re-appended shingle rows")
  }

  test("domainCapIngestStream: streamed verdicts equal sequential admission; latest-batch replay is idempotent") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sdomcap").toString
    Dedup.initDomainCapLedger(spark, s"$dir/ledger", n = 2)
    val b1 = Seq((1L, "http://a.com/x", 10L), (2L, "http://a.com/y", 30L),
      (3L, "http://a.com/z", 20L), (4L, "http://b.org/p", 5L))
    val b2 = Seq((5L, "http://a.com/new", 99L), (6L, "http://b.org/q", 1L),
      (7L, "http://b.org/r", 2L))
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamIngest.domainCapIngestStream(
      mem.toDF().toDF("id", "url", "q"), s"$dir/ledger", "id", "url", "q",
      s"$dir/verdicts", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def verdicts() = spark.read.parquet(s"$dir/verdicts")
      .select("id", "admitted", "admitted_rank")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = verdicts()
    // batch 1 spends a.com's whole budget (quality order); batch 2's
    // 99-quality a.com doc still bounces — first-come across batches —
    // and b.org's last slot goes to the better in-batch doc
    assert(got == Map(
      1L -> ((false, None)), 2L -> ((true, Some(1L))),
      3L -> ((true, Some(2L))), 4L -> ((true, Some(1L))),
      5L -> ((false, None)), 6L -> ((false, None)),
      7L -> ((true, Some(2L)))), s"got $got")
    // engine replay window: re-deliver the LATEST batch — verdicts
    // rewrite identically, the src-guarded append spends nothing
    val before = spark.read.parquet(s"$dir/ledger/counts")
      .agg(sum("cnt")).as[Long].head()
    StreamIngest.applyDomainCapBatch(b2.toDF("id", "url", "q"), 1L,
      s"$dir/ledger", "id", "url", "q", s"$dir/verdicts")
    assert(verdicts() == got, "replayed micro-batch changed a verdict")
    assert(spark.read.parquet(s"$dir/ledger/counts")
      .agg(sum("cnt")).as[Long].head() == before,
      "replayed micro-batch re-spent budgets")
  }

  test("cosineIngestStream: admitted vectors become the next batch's history; replay after roll-forward is a no-op") {
    import graft.operators.{Ann, Dedup, IndexFiles}
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cosstream").toString
    def e(i: Int) = Seq.tabulate(4)(j => if (j == i) 1.0 else 0.0)
    Ann.buildLshIndex(Seq((1L, e(0))).toDF("id", "v"), s"$dir/idx",
      dim = 4, planes = 1, tables = 2)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamIngest.cosineIngestStream(
      mem.toDF().toDF("id", "v"), s"$dir/idx", s"$dir/out", s"$dir/ckpt",
      tau = 0.9,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // b0: a copy of stored 1 (dup) + a novel direction (admitted)
    mem.addData((10L, e(0)), (11L, e(1))); q.processAllAvailable()
    // b1: a copy of b0's ADMITTED vector — dup against the accumulated
    // net, not just the base build — + another novel direction
    mem.addData((20L, e(1)), (21L, e(2))); q.processAllAvailable()
    q.stop()
    def verdicts() = spark.read.parquet(s"$dir/out")
      .select("id", "dup_of", "is_dup")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val got = verdicts()
    assert(got == Map(
      10L -> ((Some(1L), true)), 11L -> ((None, false)),
      20L -> ((Some(11L), true)), 21L -> ((None, false))), s"got $got")
    // only admitted vectors joined the history, one segment per batch
    assert(IndexFiles.listSrcs(spark, s"$dir/idx", "buckets")
      == Seq("b0", "b1", "base"), "segment layout")
    assert(spark.read.parquet(s"$dir/idx/buckets")
      .select("id").distinct().as[Long].collect().toSet
      == Set(1L, 11L, 21L), "dups leaked into the index")
    // replay after roll-forward (src committed): verdicts untouched,
    // nothing re-appends
    graft.streaming.StreamIngest.applyCosineDedupBatch(
      Seq((20L, e(1)), (21L, e(2))).toDF("id", "v"), 1L, s"$dir/idx",
      "id", "v", 0.9, s"$dir/out")
    assert(verdicts() == got, "replay changed a verdict")
    assert(Dedup.cosineDedupAgainstIndex(spark, s"$dir/idx",
        Seq((30L, e(2))).toDF("id", "v"), "id", "v", 0.9)
      .filter(col("is_dup")).count() == 1, "post-replay probe broken")
  }

  test("recallStream: per-batch rows equal recallAtK; an out-of-distribution batch lowers recall; replay idempotent") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Long, shift: Double = 0.0) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val corpus = (1L to 150L).map(i => (i, vec(i))).toDF("id", "v")
    val root = java.nio.file.Files.createTempDirectory("recallstream")
      .toString
    Ann.buildIvfIndex(corpus, s"$root/idx", nlist = 8)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamCurate.recallStream(s"$root/idx",
      mem.toDF().toDF("qid", "qv"), k = 10, nprobe = 1,
      s"$root/out", s"$root/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0: in-distribution queries (corpus points — neighbors
    // cluster locally, partial probes find them); batch 1: queries the
    // codebook never saw, whose true neighbors scatter across cells —
    // exactly the degradation the monitor exists to surface
    val b0 = (1L to 5L).map(i => (i, vec(i)))
    val b1 = (201L to 205L).map(i => (i, vec(i, 2.5)))
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "exact_n", "n_hits", "recall")
      .collect().map(_.toString).sorted.toSeq
    val out = spark.read.parquet(s"$root/out")
    // drained rows ARE the batch composition per micro-batch
    Seq(0L -> b0, 1L -> b1).foreach { case (id, slice) =>
      val qs = slice.toDF("qid", "qv")
      val exact = Ann.searchIvfIndex(spark, s"$root/idx", qs, k = 10,
        nprobe = 8)
      val approx = Ann.searchIvfIndex(spark, s"$root/idx", qs, k = 10,
        nprobe = 1)
      assert(rows(out.filter(col("batch_id") === id)) ==
        rows(Ann.recallAtK(approx, exact, 10)),
        s"batch $id diverged from the batch operator")
    }
    // the degraded batch actually reads lower — the monitor monitors
    val means = out.groupBy("batch_id").agg(avg(col("recall")).as("m"))
      .orderBy("batch_id").select("m").as[Double].collect()
    assert(means.length == 2 && means(1) < means(0),
      s"out-of-distribution batch did not lower recall: ${means.toSeq}")
    // replay: re-applying batch 0 overwrites to the identical rows
    val before = rows(out.filter(col("batch_id") === 0L))
    graft.streaming.StreamCurate.applyRecallBatch(spark, s"$root/idx",
      b0.toDF("qid", "qv"), 10, 1, "cosine", 0L, s"$root/out")
    assert(rows(spark.read.parquet(s"$root/out")
      .filter(col("batch_id") === 0L)) == before)
    // an empty trigger writes nothing
    graft.streaming.StreamCurate.applyRecallBatch(spark, s"$root/idx",
      Seq.empty[(Long, Seq[Double])].toDF("qid", "qv"), 10, 1, "cosine",
      9L, s"$root/out")
    assert(spark.read.parquet(s"$root/out")
      .filter(col("batch_id") === 9L).isEmpty)
  }

  test("recallStream family dispatch: LSH (bucket probe vs brute over stored) and IVF_PQ (ADC partial vs full) — drained equals batch, degraded batch reads lower") {
    import graft.operators.Ann
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(i: Long, shift: Double = 0.0) =
      Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17) + shift)
    val corpus = (1L to 150L).map(i => (i, vec(i))).toDF("id", "v")
    val b0 = (1L to 5L).map(i => (i, vec(i)))
    val b1 = (201L to 205L).map(i => (i, vec(i, 2.5)))
    def drain(idxDir: String, root: String, nprobe: Int): org.apache.spark.sql.DataFrame = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamCurate.recallStream(idxDir,
        mem.toDF().toDF("qid", "qv"), k = 10, nprobe = nprobe,
        s"$root/out", s"$root/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$root/out")
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "exact_n", "n_hits", "recall")
      .collect().map(_.toString).sorted.toSeq
    def meansOf(out: org.apache.spark.sql.DataFrame) = out
      .groupBy("batch_id").agg(avg(col("recall")).as("m"))
      .orderBy("batch_id").select("m").as[Double].collect()

    // ---- LSH: production = the bucket probe, reference = brute ----
    val rootL = java.nio.file.Files.createTempDirectory("recallLsh")
      .toString
    Ann.buildLshIndex(corpus, s"$rootL/idx", dim = dim, planes = 4,
      tables = 2)
    val outL = drain(s"$rootL/idx", rootL, nprobe = 1)
    Seq(0L -> b0, 1L -> b1).foreach { case (id, slice) =>
      val qs = slice.toDF("qid", "qv")
      val exact = Ann.bruteForceTopK(corpus, qs, k = 10)
      val approx = Ann.searchLshIndex(spark, s"$rootL/idx", qs, k = 10)
      assert(rows(outL.filter(col("batch_id") === id)) ==
        rows(Ann.recallAtK(approx, exact, 10)),
        s"LSH batch $id diverged from the batch operator")
    }
    val mL = meansOf(outL)
    assert(mL.length == 2 && mL(1) < mL(0),
      s"out-of-distribution batch did not lower LSH recall: ${mL.toSeq}")

    // ---- IVF_PQ: production = ADC at nprobe=1, reference = ADC full ----
    val rootP = java.nio.file.Files.createTempDirectory("recallPq")
      .toString
    Ann.buildIvfPqIndex(corpus, s"$rootP/idx", nlist = 8, m = 4,
      ksub = 16)
    val outP = drain(s"$rootP/idx", rootP, nprobe = 1)
    Seq(0L -> b0, 1L -> b1).foreach { case (id, slice) =>
      val qs = slice.toDF("qid", "qv")
      val exact = Ann.searchIvfPqIndex(spark, s"$rootP/idx", qs, k = 10,
        nprobe = 8)
      val approx = Ann.searchIvfPqIndex(spark, s"$rootP/idx", qs, k = 10,
        nprobe = 1)
      assert(rows(outP.filter(col("batch_id") === id)) ==
        rows(Ann.recallAtK(approx, exact, 10)),
        s"IVF_PQ batch $id diverged from the batch operator")
    }
    val mP = meansOf(outP)
    assert(mP.length == 2 && mP(1) < mP(0),
      s"out-of-distribution batch did not lower ADC recall: ${mP.toSeq}")
  }

  test("driftStream: per-batch summaries equal the batch operator; replay idempotent; empty trigger writes nothing") {
    import graft.operators.Stats
    implicit val sqlCtx = spark.sqlContext
    val dim = 4
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val ref = (1L to 50L).map(i => (i, vec(i))).toDF("id", "v")
    val dir = java.nio.file.Files.createTempDirectory("driftstream").toString
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamCurate.driftStream(ref,
      mem.toDF().toDF("id", "v"), "v", s"$dir/out", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val b0 = (51L to 60L).map(i => (i, vec(i)))
    val b1 = (61L to 65L).map(i => (i, vec(i * 7))) // a shifted batch
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    q.stop()
    def row(df: org.apache.spark.sql.DataFrame) = df
      .select("n_old", "n_new", "mean_norm_old", "mean_norm_new",
        "norm_delta", "centroid_cos")
      .collect().map(_.toString).toSeq
    val batches = spark.read.parquet(s"$dir/out")
    // each micro-batch row IS the batch operator over (ref, slice)
    Seq(0L -> b0, 1L -> b1).foreach { case (id, slice) =>
      assert(row(batches.filter(col("batch_id") === id)) ==
        row(Stats.embeddingDriftSummary(ref, slice.toDF("id", "v"), "v")),
        s"batch $id diverged from the batch operator")
    }
    // the shifted batch actually registers as drift (the monitor works)
    val cos = batches.orderBy("batch_id")
      .select("centroid_cos").as[Double].collect()
    assert(cos.length == 2 && cos(0) != cos(1),
      s"shifted batch did not move the centroid cosine: ${cos.toSeq}")
    // replay: re-applying a batch overwrites to the identical row
    graft.streaming.StreamCurate.applyDriftBatch(ref, b0.toDF("id", "v"),
      "v", 0L, s"$dir/out")
    assert(row(spark.read.parquet(s"$dir/out")
        .filter(col("batch_id") === 0L)) ==
      row(Stats.embeddingDriftSummary(ref, b0.toDF("id", "v"), "v")))
    // an empty trigger logs nothing (no all-NULL monitor rows)
    graft.streaming.StreamCurate.applyDriftBatch(ref,
      Seq.empty[(Long, Seq[Double])].toDF("id", "v"), "v", 9L, s"$dir/out")
    assert(spark.read.parquet(s"$dir/out")
      .filter(col("batch_id") === 9L).isEmpty)
  }

  test("driftByStream: per-batch per-stratum rows equal embeddingDriftBy; a new source surfaces with NULL mean_old") {
    import graft.operators.Stats
    implicit val sqlCtx = spark.sqlContext
    val dim = 4
    def vec(i: Long) = Seq.tabulate(dim)(j => math.sin(i * 131 + j * 17))
    val ref = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "web" else "books", vec(i)))
      .toDF("id", "src_tag", "v")
    val dir = java.nio.file.Files.createTempDirectory("driftby").toString
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val q = graft.streaming.StreamCurate.driftByStream(ref,
      mem.toDF().toDF("id", "src_tag", "v"), "v", "src_tag",
      s"$dir/out", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // batch 0: both known strata; batch 1 carries a BRAND-NEW source —
    // drift incarnate, and exactly what the drill-down exists to name
    val b0 = (41L to 50L).map(i =>
      (i, if (i % 2 == 0) "web" else "books", vec(i)))
    val b1 = (51L to 55L).map(i => (i, "newcrawl", vec(i * 7)))
    mem.addData(b0: _*); q.processAllAvailable()
    mem.addData(b1: _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("stratum", "dim", "mean_old", "mean_new", "delta")
      .collect().map(_.toString).sorted.toSeq
    val out = spark.read.parquet(s"$dir/out")
    Seq(0L -> b0, 1L -> b1).foreach { case (id, slice) =>
      assert(rows(out.filter(col("batch_id") === id)) ==
        rows(Stats.embeddingDriftBy(ref,
          slice.toDF("id", "src_tag", "v"), "v", "src_tag")),
        s"batch $id diverged from the batch operator")
    }
    // batch 0 drills down per known stratum...
    assert(out.filter(col("batch_id") === 0L)
      .select("stratum").distinct().as[String].collect().toSet
      == Set("web", "books"))
    // ...and the unseen source reports against a NULL old side instead
    // of vanishing (plus the reference strata with NULL new side)
    val newSrc = out.filter(col("batch_id") === 1L &&
      col("stratum") === "newcrawl")
    assert(newSrc.count() == dim &&
      newSrc.filter(col("mean_old").isNotNull).isEmpty,
      "a brand-new stratum must report with NULL mean_old")
    // replay overwrites to identical rows; empty trigger writes nothing
    graft.streaming.StreamCurate.applyDriftByBatch(ref,
      b0.toDF("id", "src_tag", "v"), "v", "src_tag", 0L, s"$dir/out")
    assert(rows(spark.read.parquet(s"$dir/out")
        .filter(col("batch_id") === 0L)) ==
      rows(Stats.embeddingDriftBy(ref, b0.toDF("id", "src_tag", "v"),
        "v", "src_tag")))
    graft.streaming.StreamCurate.applyDriftByBatch(ref,
      Seq.empty[(Long, String, Seq[Double])].toDF("id", "src_tag", "v"),
      "v", "src_tag", 9L, s"$dir/out")
    assert(spark.read.parquet(s"$dir/out")
      .filter(col("batch_id") === 9L).isEmpty)
  }
}
