package graft

import org.apache.spark.sql.functions._
import graft.operators.{IndexFamily, IndexFiles, Multimodal, Tag}

class MultimodalTagSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = (1 to 10).map { i =>
    (i.toLong, s"payload-$i".getBytes("UTF-8"), if (i % 2 == 0) "image" else "video")
  }.toDF("media_id", "payload", "kind")

  test("withMetadata: typed struct with checksum/len from the payload") {
    val out = Multimodal.withMetadata(media, "payload", "kind")
    val m = out.select("media_meta.byte_len", "media_meta.checksum", "media_meta.kind")
      .as[(Long, String, String)].collect()
    assert(m.forall(_._1 > 0))
    assert(m.map(_._2).distinct.length == 10) // distinct payload → distinct checksum
  }

  test("decodeFeatures: batched per-partition decode, deterministic") {
    val f1 = Multimodal.decodeFeatures(media, "media_id", "payload", dim = 6, batchSize = 3)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val f2 = Multimodal.decodeFeatures(media, "media_id", "payload", dim = 6, batchSize = 7)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(f1.length == 10 && f1.forall(_._2.size == 6))
    assert(f1.toSeq == f2.toSeq) // batch shape must not change results
  }

  test("phashPairs: banded join equals brute-force hamming, end to end from the decode seam") {
    // 40 payloads in 4 content families (re-encode stand-ins: same bytes
    // modulo a family tag), decoded at the stub seam
    val fam = (0 until 40).map { i =>
      (i.toLong, s"asset-${i % 4}".getBytes("UTF-8"), "image")
    }.toDF("media_id", "payload", "kind")
    val feats = Multimodal.decodeFeatures(fam, "media_id", "payload", dim = 12)
    val got = Multimodal.phashPairs(feats, "media_id", "features",
        dim = 12, maxHam = 2)
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the same signatures, plain Scala
    val sigs = feats.as[(Long, Seq[Double])].collect().map { case (id, f) =>
      id -> (0 until 12).map(j => if (f(j) >= 0.5) 1L << j else 0L).sum
    }
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (a, b, h)).toSet
    assert(got == brute, s"banded ${got.size} vs brute ${brute.size}")
    // same-family payloads have identical bytes -> identical features ->
    // hamming 0: every within-family pair must be present
    val famOf = (0 until 40).map(i => i.toLong -> i % 4).toMap
    for (a <- 0L until 40L; b <- a + 1 until 40L if famOf(a) == famOf(b))
      assert(got.contains((a, b, 0)), s"missing within-family pair ($a,$b)")
    // uneven banding (10 bits, 3 bands -> 4+4+2) also matches brute force
    val feats10 = Multimodal.decodeFeatures(fam, "media_id", "payload", dim = 10)
    val got10 = Multimodal.phashPairs(feats10, "media_id", "features",
        dim = 10, maxHam = 2)
      .as[(Long, Long, Int)].collect().toSet
    val sigs10 = feats10.as[(Long, Seq[Double])].collect().map { case (id, f) =>
      id -> (0 until 10).map(j => if (f(j) >= 0.5) 1L << j else 0L).sum
    }
    val brute10 = (for {
      (a, sa) <- sigs10; (b, sb) <- sigs10 if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (a, b, h)).toSet
    assert(got10 == brute10, s"uneven banding ${got10.size} vs ${brute10.size}")
    // degenerate banding rejected loudly
    assertThrows[IllegalArgumentException] {
      Multimodal.phashPairs(feats, "media_id", "features", dim = 4, maxHam = 2)
    }
  }

  test("phash index lifecycle: probe equals brute bipartite; append equals rebuild; replay throws") {
    // history: 30 assets in 3 families; batch: 6 new assets, 4 of them
    // re-encodes of history families, 2 novel
    def payloads(ids: Seq[Long], famOf: Long => String) =
      ids.map(i => (i, famOf(i).getBytes("UTF-8"), "image"))
        .toDF("media_id", "payload", "kind")
    val hist = Multimodal.decodeFeatures(
      payloads(0L until 30L, i => s"asset-${i % 3}"), "media_id", "payload",
      dim = 12)
    val batch = Multimodal.decodeFeatures(
      payloads(100L until 106L,
        i => if (i < 104) s"asset-${i % 2}" else s"novel-$i"),
      "media_id", "payload", dim = 12)
    val dir = java.nio.file.Files.createTempDirectory("phidx").toString + "/idx"
    Multimodal.buildPhashIndex(hist, "media_id", "features", dir,
      dim = 12, maxHam = 2)
    def probe(d: String) =
      Multimodal.dedupPhashAgainstIndex(spark, d, batch, "media_id",
        "features").as[(Long, Long, Int)].collect().toSet
    val got = probe(dir)
    // brute bipartite over the same signatures, plain Scala
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Double])].collect().map { case (id, f) =>
        id -> (0 until 12).map(j => if (f(j) >= 0.5) 1L << j else 0L).sum }
    val brute = (for {
      (n, sn) <- sigsOf(batch.select("media_id", "features"))
      (o, so) <- sigsOf(hist.select("media_id", "features"))
      h = java.lang.Long.bitCount(sn ^ so) if h <= 2
    } yield (n, o, h)).toSet
    assert(got == brute, s"probe ${got.size} vs brute ${brute.size}")
    // the re-encode batch assets hit their families; novel ones match
    // nothing at hamming 0 with certainty only if their features differ
    assert(got.exists(_._1 == 100L) && got.exists(_._1 == 103L))
    // append == rebuild: extend history by a second day, probe again,
    // compare with an index built from scratch over the union
    val day2 = Multimodal.decodeFeatures(
      payloads(200L until 210L, i => s"asset-${i % 3}"), "media_id",
      "payload", dim = 12)
    Multimodal.appendToPhashIndex(spark, dir, day2, "media_id", "features",
      "d2")
    val dirFull = java.nio.file.Files.createTempDirectory("phfull").toString + "/idx"
    Multimodal.buildPhashIndex(
      hist.unionByName(day2), "media_id", "features", dirFull,
      dim = 12, maxHam = 2)
    assert(probe(dir) == probe(dirFull), "appended index != rebuilt index")
    // replayed ids are rejected loudly
    val ex = intercept[IllegalArgumentException] {
      Multimodal.appendToPhashIndex(spark, dir, day2, "media_id", "features",
        "d3")
    }
    assert(ex.getMessage.contains("already"), ex.getMessage)
  }

  test("retirePhashSrc + phash takedown: segment drops, survivors bit-equal, tombstones prune with it") {
    def payloads(ids: Seq[Long], famOf: Long => String) =
      ids.map(i => (i, famOf(i).getBytes("UTF-8"), "image"))
        .toDF("media_id", "payload", "kind")
    val hist = Multimodal.decodeFeatures(
      payloads(0L until 30L, i => s"asset-${i % 3}"), "media_id", "payload",
      dim = 12)
    val day2 = Multimodal.decodeFeatures(
      payloads(200L until 206L, i => s"asset-${i % 3}"), "media_id",
      "payload", dim = 12)
    val batch = Multimodal.decodeFeatures(
      payloads(100L until 104L, i => s"asset-${i % 2}"), "media_id",
      "payload", dim = 12)
    val dir = java.nio.file.Files.createTempDirectory("phret").toString + "/idx"
    val dirBase = java.nio.file.Files.createTempDirectory("phretb").toString + "/idx"
    Multimodal.buildPhashIndex(hist, "media_id", "features", dir,
      dim = 12, maxHam = 2)
    Multimodal.appendToPhashIndex(spark, dir, day2, "media_id", "features",
      "d2")
    def probe(d: String) =
      Multimodal.dedupPhashAgainstIndex(spark, d, batch, "media_id",
        "features").as[(Long, Long, Int)].collect().toSet
    assert(probe(dir).exists(_._2 >= 200L), "appended segment not matched")
    // tombstone an asset INSIDE the doomed segment (201 is family
    // asset-0, matched by probe 100/102): the tombstone must leave
    // with it, or a later re-append of the same id is silently dead
    IndexFiles.writeTombstones(Seq(201L).toDF("id"), dir)
    IndexFamily.phash.retireSrcs(spark, dir, Seq("d2"))
    Multimodal.buildPhashIndex(hist, "media_id", "features", dirBase,
      dim = 12, maxHam = 2)
    assert(probe(dir) == probe(dirBase),
      "retired phash index != never-appended index")
    assert(spark.read.parquet(s"$dir/ids").as[Long].collect().toSet
      == (0L until 30L).toSet, "ids sidecar not rebuilt from survivors")
    Multimodal.appendToPhashIndex(spark, dir, day2, "media_id", "features",
      "d2")
    assert(probe(dir).exists(_._2 == 201L),
      "re-appended asset unmatched — a stale tombstone outlived the retire")
    // plain takedown: tombstoned asset stops matching instantly; the id
    // re-opens only after physical compaction (202 is family asset-1,
    // matched by probe 101/103)
    IndexFiles.writeTombstones(Seq(202L).toDF("id"), dir)
    assert(!probe(dir).exists(_._2 == 202L), "deleted asset still matches")
    intercept[IllegalArgumentException] {
      Multimodal.appendToPhashIndex(spark, dir,
        day2.filter(col("media_id") === 202L), "media_id", "features", "d4")
    }
    IndexFamily.phash.compact(spark, dir)
    assert(!probe(dir).exists(_._2 == 202L), "compaction resurrected the asset")
    Multimodal.appendToPhashIndex(spark, dir,
      day2.filter(col("media_id") === 202L), "media_id", "features", "d5")
    assert(probe(dir).exists(_._2 == 202L),
      "re-ingest after compaction did not restore matches")
    // typo'd tag loud; zero-yield day a no-op; emptying blocked
    intercept[IllegalArgumentException] {
      IndexFamily.phash.retireSrcs(spark, dir, Seq("never-appended")) }
    IndexFamily.phash.retireSrcs(spark, dir, Seq("never-appended"), strict = false)
    IndexFamily.phash.retireSrcs(spark, dir, Seq("d2"))
    IndexFamily.phash.retireSrcs(spark, dir, Seq("d5"))
    intercept[IllegalArgumentException] {
      IndexFamily.phash.retireSrcs(spark, dir, Seq("base")) }
  }

  test("sampleFrames: one frame per everyMs of stub duration") {
    val withMeta = Multimodal.withMetadata(media, "payload", "kind")
    val frames = Multimodal.sampleFrames(withMeta, "media_id", everyMs = 60000L)
    val byId = frames.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    val durs = withMeta.select("media_id", "media_meta.duration_ms")
      .as[(Long, Long)].collect().toMap
    byId.foreach { case (id, n) => assert(n == durs(id) / 60000L + 1) }
  }

  test("Tag.tag: null text labels 'other' (SQL NULL semantics), no NPE") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "real text"))
      .toDF("id", "text")
    val out = Tag.tag(docs, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "other")
    assert(Tag.labels.contains(out(2L)))
  }

  test("tag and decode seams keep non-numeric ids natively (no silent long-cast NULLs)") {
    val sdocs = Seq(("doc-a", "alpha text"), ("doc-b", "beta text"))
      .toDF("id", "text")
    val tagged = Tag.tag(sdocs, "id", "text")
      .select("id").as[String].collect().toSet
    assert(tagged == Set("doc-a", "doc-b"), s"tag seam lost ids: $tagged")
    val smedia = Seq(("asset-1", "bytes one"), ("asset-2", "bytes two"))
      .toDF("id", "payload")
      .withColumn("payload", col("payload").cast("binary"))
    val decoded = Multimodal.decodeFeatures(smedia, "id", "payload", dim = 4)
      .select("media_id").as[String].collect().toSet
    assert(decoded == Set("asset-1", "asset-2"), s"decode seam lost ids: $decoded")
  }

  test("Tag.chatMessages: assembly follows the reference's rules") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = Seq(
      // (query, system, history)
      ("what is spark", null.asInstanceOf[String],
        Seq(("earlier q", "earlier a"), ("what is spark", "self answer"))),
      ("hello", "custom system", Seq.empty[(String, String)])
    ).toDF("q", "sys", "hist")
    val out = rows.select(Tag.chatMessages(col("q"), col("sys"),
        col("hist").cast("array<struct<q:string,a:string>>")).as("m"))
      .as[Seq[(String, String)]].collect()
    // default system; self-pair skipped; history expands in order; query last
    assert(out(0) == Seq(
      ("system", Tag.DefaultSystem),
      ("user", "earlier q"), ("assistant", "earlier a"),
      ("user", "what is spark")))
    // explicit system wins; empty history contributes nothing
    assert(out(1) == Seq(("system", "custom system"), ("user", "hello")))
    // null history behaves like empty
    val noHist = Seq(Tuple1("solo")).toDF("q")
      .select(Tag.chatMessages(col("q"), lit(null).cast("string"),
        lit(null).cast("array<struct<q:string,a:string>>")).as("m"))
      .as[Seq[(String, String)]].head()
    assert(noHist == Seq(("system", Tag.DefaultSystem), ("user", "solo")))
  }

  test("Tag.chatTag: label is the stub digest of the FULL assembled request") {
    val docs = Seq((1L, "doc text one", "src1", "en"),
      (2L, "doc text two", "src2", "zh")).toDF("id", "text", "source", "lang")
    import org.apache.spark.sql.functions.{array, col, struct}
    val withHist = docs.withColumn("hist",
      array(struct(col("source").as("q"), col("lang").as("a"))))
    val out = Tag.chatTag(withHist, "id", "text", historyCol = Some("hist"))
      .as[(Long, String)].collect().toMap
    def serial(text: String, src: String, lang: String) =
      s"system\u001f${Tag.DefaultSystem}\u001euser\u001f$src\u001e" +
        s"assistant\u001f$lang\u001euser\u001f$text\u001e"
    assert(out(1L) == Tag.stubModelCall(Seq(serial("doc text one", "src1", "en"))).head)
    assert(out(2L) == Tag.stubModelCall(Seq(serial("doc text two", "src2", "zh"))).head)
  }

  test("Tag.tag: batched seam, deterministic labels from the stub model") {
    val docs = (1 to 50).map(i => (i.toLong, s"document number $i")).toDF("id", "text")
    val a = Tag.tag(docs, "id", "text", batchSize = 8).as[(Long, String)].collect().sortBy(_._1)
    val b = Tag.tag(docs, "id", "text", batchSize = 17).as[(Long, String)].collect().sortBy(_._1)
    assert(a.length == 50)
    assert(a.forall(r => Tag.labels.contains(r._2)))
    assert(a.toSeq == b.toSeq)
  }

  test("phash sighting window: a re-encode rejection re-sights the stored asset; last-seen aging tombstones what no kept day re-saw") {
    def feats(ids: Seq[Long], famOf: Long => String) =
      Multimodal.decodeFeatures(
        ids.map(i => (i, famOf(i).getBytes("UTF-8"), "image"))
          .toDF("media_id", "payload", "kind"),
        "media_id", "payload", dim = 16)
    val idx = java.nio.file.Files.createTempDirectory("phsighted")
      .toString + "/idx"
    // d0: assets A and B stored; d1: a re-encode of A arrives
    // (hamming 0 — rejected, touches A) alongside novel C; d2: novel D
    Multimodal.buildPhashIndexSighted(
      feats(Seq(1L, 2L), i => if (i == 1L) "fam-A" else "fam-B"),
      "media_id", "features", idx, dim = 16, day = "d0")
    Multimodal.appendToPhashIndexSighted(spark, idx,
      feats(Seq(11L, 12L), i => if (i == 11L) "fam-A" else "fam-C"),
      "media_id", "features", day = "d1")
    Multimodal.appendToPhashIndexSighted(spark, idx,
      feats(Seq(21L), _ => "fam-D"), "media_id", "features", day = "d2")
    def seenIds(day: String) = spark.read.parquet(s"$idx/seen")
      .filter(col("src") === day).select("id").as[Long].collect().toSet
    assert(seenIds("d0") == Set(1L, 2L))
    assert(seenIds("d1") == Set(1L, 12L), s"got ${seenIds("d1")}")
    assert(seenIds("d2") == Set(21L))
    // keep the last two days: d0 ages out; A survives (re-seen via the
    // d1 rejection), B is forgotten; the rejected copy was never stored
    assert(IndexFamily.phash.retireSeenWindow(spark, idx, keep = 2)
      == Seq("d0"))
    def verdicts() = Multimodal.dedupPhashAgainstIndex(spark, idx,
        feats(Seq(31L, 32L, 33L), i =>
          if (i == 31L) "fam-A" else if (i == 32L) "fam-B" else "fam-D"),
        "media_id", "features")
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    val after = verdicts()
    assert(after.contains((31L, 1L)), s"re-seen asset must survive: $after")
    assert(after.contains((33L, 21L)), s"got $after")
    assert(!after.exists(_._2 == 2L),
      s"an asset no kept day re-saw must be forgotten: $after")
    assert(!after.exists(_._2 == 11L), s"rejected copy was stored: $after")
    // tombstone-shaped retire; compaction is verdict-invariant
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isDefined)
    IndexFamily.phash.compact(spark, idx)
    assert(graft.operators.IndexFiles.tombstones(spark, idx).isEmpty)
    assert(verdicts() == after)
    // guards: unsighted append refused; window refused on an unsighted
    // dir; keep >= 1; horizon form retires by natural day order
    val err = intercept[IllegalArgumentException] {
      Multimodal.appendToPhashIndex(spark, idx,
        feats(Seq(41L), _ => "fam-E"), "media_id", "features", "d3")
    }
    assert(err.getMessage.contains("appendToPhashIndexSighted"),
      err.getMessage)
    intercept[IllegalArgumentException] {
      IndexFamily.phash.retireSeenWindow(spark, idx, keep = 0)
    }
    val plain = java.nio.file.Files.createTempDirectory("phplain")
      .toString + "/idx"
    Multimodal.buildPhashIndex(feats(Seq(1L), _ => "fam-A"),
      "media_id", "features", plain, dim = 16)
    val err2 = intercept[IllegalArgumentException] {
      IndexFamily.phash.retireSeenWindow(spark, plain, keep = 1)
    }
    assert(err2.getMessage.contains("sightings ledger"), err2.getMessage)
    assert(IndexFamily.phash.retireSeenBefore(spark, idx, "d2") == Seq("d1"))
    val end = verdicts()
    assert(!end.exists(_._2 == 1L) && end.contains((33L, 21L)),
      s"horizon retire must forget the d1-last-seen assets: $end")
  }
}
