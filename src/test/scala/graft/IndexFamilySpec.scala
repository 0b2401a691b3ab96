package graft

import graft.operators.{Ann, Dedup, IndexFamily, IndexFiles, Maintenance, Multimodal}

class IndexFamilySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a nightly retire keeps each Bloom sidecar at its build's fpp") {
    val root = tmp("fppkeep")
    val sent = "the quick brown fox jumps over the lazy dog again and again "
    def docs(lo: Long) = (lo until lo + 8).map(i =>
      (i, s"line-one $i\n${sent * 3} $i")).toDF("doc_id", "text")
    Dedup.buildExactIndex(docs(0), "doc_id", "text", s"$root/exact",
      fpp = 0.001)
    Dedup.buildLineDfIndex(docs(0), "doc_id", "text", s"$root/linedf",
      fpp = 0.001)
    Dedup.buildContainmentIndex(docs(0), "doc_id", "text",
      s"$root/containment", fpp = 0.001)
    Dedup.appendToExactIndex(spark, s"$root/exact", docs(100),
      "doc_id", "text", "d1")
    Dedup.appendToLineDfIndex(spark, s"$root/linedf", docs(100),
      "doc_id", "text", "d1")
    Dedup.appendToContainmentIndex(spark, s"$root/containment", docs(100),
      "doc_id", "text", "d1")
    val specs = Seq("exact", "linedf", "containment")
      .map(f => (s"$root/$f", f, 0))
    val got = Maintenance.nightly(spark, specs)
      .select("family", "tag").as[(String, String)].collect().toSet
    assert(got == specs.map(s => (s._2, "d1")).toSet, s"got $got")
    specs.foreach { case (dir, family, _) =>
      val fpp = spark.read.parquet(s"$dir/bloom").select("fpp")
        .as[Double].head()
      assert(fpp == 0.001, s"$family bloom re-sized to fpp $fpp by a retire")
    }
  }

  test("every sighted family's window refuses to forget every live key, before anything mutates") {
    val A = "alpha container document with a long and distinctive body " +
      "of text that keeps flowing across many eight gram shingles here"
    val B = "beta container about something entirely different from " +
      "every other stored text in this corpus with its own words"
    val D = "delta novel content arriving on day two and equally " +
      "matching nothing already stored anywhere in the index"
    def texts(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def vec(axis: Int) = Seq.tabulate(8)(j => if (j == axis) 1.0 else 0.0)
    def feats(rows: (Long, String)*) = Multimodal.decodeFeatures(
      rows.map { case (i, fam) => (i, fam.getBytes("UTF-8"), "image") }
        .toDF("media_id", "payload", "kind"),
      "media_id", "payload", dim = 16)
    val takeDown21 = (dir: String) =>
      IndexFiles.writeTombstones(Seq(21L).toDF("id"), dir)
    // per family: build sighted on d1, append a disjoint d2 whose docs
    // no d1 doc matches, then take d2's docs down — the kept day d2
    // then holds no live key, and keep = 1 would forget everything
    val fixtures: Map[String, String => Unit] = Map(
      "exact" -> { dir =>
        Dedup.buildExactIndexSighted(texts((1L, A), (2L, B)),
          "doc_id", "text", dir, day = "d1")
        Dedup.appendToExactIndexSighted(spark, dir, texts((21L, D)),
          "doc_id", "text", "d2")
        Dedup.deleteFromExactIndex(spark, dir, texts((21L, D)), "text")
      },
      "minhash" -> { dir =>
        Dedup.buildMinhashIndexSighted(texts((1L, A), (2L, B)),
          "doc_id", "text", dir, day = "d1")
        Dedup.appendToMinhashIndexSighted(spark, dir, texts((21L, D)),
          "doc_id", "text", day = "d2", tau = 0.5)
        takeDown21(dir)
      },
      "containment" -> { dir =>
        Dedup.buildContainmentIndexSighted(texts((1L, A), (2L, B)),
          "doc_id", "text", dir, day = "d1")
        Dedup.appendToContainmentIndexSighted(spark, dir, texts((21L, D)),
          "doc_id", "text", day = "d2")
        takeDown21(dir)
      },
      "phash" -> { dir =>
        Multimodal.buildPhashIndexSighted(feats((1L, "fam-A"), (2L, "fam-B")),
          "media_id", "features", dir, dim = 16, day = "d1")
        Multimodal.appendToPhashIndexSighted(spark, dir,
          feats((21L, "fam-D")), "media_id", "features", day = "d2")
        takeDown21(dir)
      },
      "lsh" -> { dir =>
        Ann.buildLshIndexSighted(Seq((1L, vec(0)), (2L, vec(1))).toDF("id", "v"),
          dir, dim = 8, day = "d1", planes = 4, tables = 2)
        Ann.appendToLshIndexSighted(spark, dir,
          Seq((21L, vec(3))).toDF("id", "v"), day = "d2", tau = 0.9)
        takeDown21(dir)
      })
    val sighted = IndexFamily.all.filter(_.sighted)
    assert(sighted.map(_.name).toSet == fixtures.keySet)
    sighted.foreach { fam =>
      val dir = tmp(s"refuse_${fam.name}") + "/idx"
      fixtures(fam.name)(dir)
      def deadRows =
        spark.read.parquet(s"$dir/${fam.deletes.get.table}").count()
      val deadBefore = deadRows
      val err = intercept[IllegalArgumentException] {
        fam.retireSeenWindow(spark, dir, keep = 1)
      }
      assert(err.getMessage.contains("would forget every live"),
        s"${fam.name}: ${err.getMessage}")
      assert(IndexFiles.listSrcs(spark, dir, "seen") == Seq("d1", "d2"),
        s"${fam.name}: the refused window dropped a sighting day")
      assert(deadRows == deadBefore,
        s"${fam.name}: the refused window wrote tombstones")
    }
  }

  test("each sighted append stores what its family's probe admits and sights what it matched") {
    import org.apache.spark.sql.functions.col
    val A = "alpha container document with a long and distinctive body " +
      "of text that keeps flowing across many eight gram shingles here"
    val B = "beta container about something entirely different from " +
      "every other stored text in this corpus with its own words"
    val C = "gamma novel arrival whose words match nothing stored so far " +
      "and which runs long enough to contain a shorter copy of itself"
    def texts(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    def vec(axis: Int) = Seq.tabulate(8)(j => if (j == axis) 1.0 else 0.0)
    def feats(rows: (Long, String)*) = Multimodal.decodeFeatures(
      rows.map { case (i, fam) => (i, fam.getBytes("UTF-8"), "image") }
        .toDF("media_id", "payload", "kind"),
      "media_id", "payload", dim = 16)
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col(c)).distinct().as[Long].collect().toSet
    val history = texts((1L, A), (2L, B))
    // 11 copies stored doc 1, 12 is novel; for containment 13 is
    // contained in 12, a rejection inside the batch
    val batch = texts((11L, A), (12L, C),
      (13L, C.split(" ").take(16).mkString(" ")))
    val fBatch = feats((11L, "fam-A"), (12L, "fam-D"))
    val vBatch = Seq((11L, vec(0)), (12L, vec(3))).toDF("id", "v")
    // per family: build sighted on d1, the batch's ids, the probe's
    // (rejected ids, stored ids matched), and the sighted append on d2
    val cases: Seq[(String, String => Unit, Set[Long],
        String => (Set[Long], Set[Long]), String => Unit)] = Seq(
      ("minhash",
        Dedup.buildMinhashIndexSighted(history, "doc_id", "text", _, "d1"),
        Set(11L, 12L, 13L),
        { dir =>
          val p = Dedup.dedupAgainstIndex(spark, dir, batch, "doc_id", "text")
          (ids(p, "id_new"), ids(p, "id_old"))
        },
        Dedup.appendToMinhashIndexSighted(spark, _, batch, "doc_id", "text",
          "d2")),
      ("containment",
        Dedup.buildContainmentIndexSighted(history, "doc_id", "text", _, "d1"),
        Set(11L, 12L, 13L),
        { dir =>
          val v = Dedup.dropContainedAgainstIndex(spark, dir, batch, "doc_id",
            "text").filter(col("is_contained"))
          (ids(v, "id"), ids(v, "container_id") -- Set(11L, 12L, 13L))
        },
        Dedup.appendToContainmentIndexSighted(spark, _, batch, "doc_id",
          "text", "d2")),
      ("phash",
        Multimodal.buildPhashIndexSighted(feats((1L, "fam-A"), (2L, "fam-B")),
          "media_id", "features", _, dim = 16, day = "d1"),
        Set(11L, 12L),
        { dir =>
          val p = Multimodal.dedupPhashAgainstIndex(spark, dir, fBatch,
            "media_id", "features")
          (ids(p, "id_new"), ids(p, "id_old"))
        },
        Multimodal.appendToPhashIndexSighted(spark, _, fBatch, "media_id",
          "features", "d2")),
      ("lsh",
        Ann.buildLshIndexSighted(Seq((1L, vec(0)), (2L, vec(1))).toDF("id", "v"),
          _, dim = 8, day = "d1", planes = 4, tables = 2),
        Set(11L, 12L),
        { dir =>
          val v = Dedup.cosineDedupAgainstIndex(spark, dir, vBatch, "id", "v",
            tau = 0.9).filter(col("is_dup"))
          (ids(v, "id"), ids(v, "dup_of"))
        },
        Ann.appendToLshIndexSighted(spark, _, vBatch, "d2", tau = 0.9)))
    assert(cases.map(_._1).toSet ==
      IndexFamily.all.filter(_.sighted).map(_.name).toSet - "exact")
    cases.foreach { case (name, build, batchIds, probe, append) =>
      val probed = tmp(s"agree_$name") + "/idx"
      build(probed)
      val appended = tmp(s"agree_${name}_copy") + "/idx"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(probed), new java.io.File(appended))
      val (rejected, matched) = probe(probed)
      assert(rejected.nonEmpty && matched.nonEmpty,
        s"$name: the fixture rejects nothing against history")
      append(appended)
      val table = IndexFamily.all.find(_.name == name).get.payload.head._1
      val stored = ids(spark.read.parquet(s"$appended/$table"), "id")
      assert(batchIds -- stored == rejected,
        s"$name: the append left out ${batchIds -- stored}, the probe " +
          s"rejected $rejected")
      val seen = ids(spark.read.parquet(s"$appended/seen")
        .filter(col("src") === "d2"), "id")
      assert(seen == (batchIds -- rejected) ++ matched,
        s"$name: d2 sighted $seen, admitted ${batchIds -- rejected}, " +
          s"the probe matched $matched")
    }
  }

  /** Distinct-token texts: no two docs share a shingle, so every
    * sighted admission admits them all. */
  private def novel(ids: Long*) = ids.map(i =>
    (i, (0 until 30).map(j => s"w${i * 100 + j}").mkString(" ")))
    .toDF("doc_id", "text")

  test("nightlyCompact rolls a committed sighted batch's sightings forward with its payload") {
    val fixtures = Seq(
      ("minhash", Seq("shingles", "sigs"), (dir: String) =>
        Dedup.buildMinhashIndexSighted(novel(1L, 2L, 3L), "doc_id", "text",
          dir, day = "d1")),
      ("containment", Seq("shingles", "sizes"), (dir: String) =>
        Dedup.buildContainmentIndexSighted(novel(1L, 2L, 3L), "doc_id",
          "text", dir, day = "d1")))
    fixtures.foreach { case (family, tables, build) =>
      val dir = tmp(s"sightcrash_$family") + "/idx"
      build(dir)
      // a d2 append of doc 21 that crashed after its journal commit and
      // before any staged slice moved in: payload rows (doc 1's, re-keyed),
      // its seen slice and the journal, hand-staged
      tables.foreach { t =>
        spark.read.parquet(s"$dir/$t")
          .filter(org.apache.spark.sql.functions.col("id") === 1L)
          .withColumn("id", org.apache.spark.sql.functions.lit(21L))
          .withColumn("src", org.apache.spark.sql.functions.lit("d2"))
          .write.partitionBy("src").parquet(s"$dir/$t/_append_tmp")
      }
      Seq((21L, "d2")).toDF("id", "src")
        .write.partitionBy("src").parquet(s"$dir/seen/_append_tmp")
      Seq(21L).toDF("id").write.parquet(s"$dir/_pending_append")
      IndexFiles.writeTombstones(Seq(2L).toDF("id"), dir)
      Maintenance.nightlyCompact(spark, Seq((dir, family, 0.0))).collect()
      assert(IndexFiles.listSrcs(spark, dir, "seen") == Seq("d1", "d2"),
        s"$family: the compaction dropped the committed batch's sighting day")
      val d2 = spark.read.parquet(s"$dir/seen")
        .filter(org.apache.spark.sql.functions.col("src") === "d2")
        .select("id").as[Long].collect().toSet
      assert(d2 == Set(21L), s"$family: d2 sighted $d2")
    }
  }

  test("a sighted minhash append into an index without ids/ leaves ids complete") {
    val dir = tmp("mhnoids") + "/idx"
    Dedup.buildMinhashIndexSighted(novel(1L, 2L, 3L), "doc_id", "text", dir,
      day = "d1")
    val ids = new org.apache.hadoop.fs.Path(s"$dir/ids")
    ids.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ids, true)
    Dedup.appendToMinhashIndexSighted(spark, dir, novel(21L, 22L),
      "doc_id", "text", day = "d2")
    val got = spark.read.parquet(s"$dir/ids").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 21L, 22L), s"ids $got")
  }

  test("every append refuses an empty or 'base' tag before writing; unsighted appends into a sighted dir name the sighted append") {
    val docs = novel(1L, 2L, 3L)
    def vecs(lo: Long) = (lo until lo + 12L).map(i =>
      (i, Seq.tabulate(4)(j => math.sin(i * 7.0 + j)))).toDF("id", "v")
    def feats(ids: Long*) = Multimodal.decodeFeatures(
      ids.map(i => (i, s"asset-$i".getBytes("UTF-8"), "image"))
        .toDF("media_id", "payload", "kind"),
      "media_id", "payload", dim = 16)
    val postings = (1L to 6L).flatMap(i => Seq((i, i, 2.0), (i, i + 1, 1.0)))
      .toDF("id", "term", "w")
    // family -> append into dir under a tag
    val append: Map[String, (String, String) => Unit] = Map(
      "exact" -> ((d: String, t: String) =>
        Dedup.appendToExactIndex(spark, d, novel(21L), "doc_id", "text", t)),
      "linedf" -> ((d: String, t: String) =>
        Dedup.appendToLineDfIndex(spark, d, novel(21L), "doc_id", "text", t)),
      "containment" -> ((d: String, t: String) =>
        Dedup.appendToContainmentIndex(spark, d, novel(21L), "doc_id", "text", t)),
      "minhash" -> ((d: String, t: String) =>
        Dedup.appendToMinhashIndex(spark, d, novel(21L), "doc_id", "text", t)),
      "domain_cap" -> ((d: String, t: String) =>
        Dedup.appendToDomainCapLedger(spark, d,
          Seq(("21", "a.example", true)).toDF("id", "domain", "admitted"), t)),
      "phash" -> ((d: String, t: String) => Multimodal.appendToPhashIndex(spark,
        d, feats(21L), "media_id", "features", t)),
      "ivf" -> ((d: String, t: String) =>
        Ann.appendToIvfIndex(spark, d, vecs(21L), t)),
      "ivf_sq8" -> ((d: String, t: String) =>
        Ann.appendToIvfSq8Index(spark, d, vecs(21L), t)),
      "ivf_pq" -> ((d: String, t: String) =>
        Ann.appendToIvfPqIndex(spark, d, vecs(21L), t)),
      "sparse" -> ((d: String, t: String) => Ann.appendToSparseIndex(spark, d,
        Seq((21L, 1L, 1.0)).toDF("id", "term", "w"), t)),
      "binary" -> ((d: String, t: String) =>
        Ann.appendToBinaryIndex(spark, d, vecs(21L), t)),
      "lsh" -> ((d: String, t: String) =>
        Ann.appendToLshIndex(spark, d, vecs(21L), t)))
    // unsighted family -> build into dir
    val build: Map[String, String => Unit] = Map(
      "linedf" -> (d => Dedup.buildLineDfIndex(docs, "doc_id", "text", d)),
      "domain_cap" -> (d => Dedup.initDomainCapLedger(spark, d, n = 2)),
      "ivf" -> (d => Ann.buildIvfIndex(vecs(1L), d, nlist = 2)),
      "ivf_sq8" -> (d => Ann.buildIvfSq8Index(vecs(1L), d, nlist = 2)),
      "ivf_pq" -> (d =>
        Ann.buildIvfPqIndex(vecs(1L), d, nlist = 2, m = 2, ksub = 2)),
      "sparse" -> (d => Ann.buildSparseIndex(postings, d, buckets = 4)),
      "binary" -> (d => Ann.buildBinaryIndex(vecs(1L), d, dim = 4)))
    // sighted family -> (sighted build under a day, sighted append, its name)
    val sighted: Map[String, ((String, String) => Unit, (String, String) => Unit, String)] = Map(
      "exact" -> ((d: String, day: String) =>
          Dedup.buildExactIndexSighted(docs, "doc_id", "text", d, day),
        (d: String, t: String) => Dedup.appendToExactIndexSighted(spark, d,
          novel(21L), "doc_id", "text", t),
        "appendToExactIndexSighted"),
      "containment" -> ((d: String, day: String) =>
          Dedup.buildContainmentIndexSighted(docs, "doc_id", "text", d, day),
        (d: String, t: String) => Dedup.appendToContainmentIndexSighted(spark,
          d, novel(21L), "doc_id", "text", t),
        "appendToContainmentIndexSighted"),
      "minhash" -> ((d: String, day: String) =>
          Dedup.buildMinhashIndexSighted(docs, "doc_id", "text", d, day),
        (d: String, t: String) => Dedup.appendToMinhashIndexSighted(spark, d,
          novel(21L), "doc_id", "text", t),
        "appendToMinhashIndexSighted"),
      "phash" -> ((d: String, day: String) => Multimodal.buildPhashIndexSighted(
          feats(1L, 2L), "media_id", "features", d, dim = 16, day = day),
        (d: String, t: String) => Multimodal.appendToPhashIndexSighted(spark,
          d, feats(21L), "media_id", "features", t),
        "appendToPhashIndexSighted"),
      "lsh" -> ((d: String, day: String) => Ann.buildLshIndexSighted(vecs(1L),
          d, dim = 4, day = day, planes = 2),
        (d: String, t: String) => Ann.appendToLshIndexSighted(spark, d,
          vecs(21L), t, tau = 0.9),
        "appendToLshIndexSighted"))
    def files(dir: String): Set[(String, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val it = java.nio.file.Files.walk(root).iterator()
      var out = Set.empty[(String, Long)]
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.isRegularFile(p))
          out += ((root.relativize(p).toString, java.nio.file.Files.size(p)))
      }
      out
    }
    def refusesBadTags(family: String, dir: String,
        appendTagged: (String, String) => Unit): Unit = {
      val before = files(dir)
      Seq("", "base").foreach { tag =>
        val err = intercept[IllegalArgumentException](appendTagged(dir, tag))
        assert(err.getMessage.contains("other than 'base'"),
          s"$family '$tag': ${err.getMessage}")
      }
      assert(files(dir) == before, s"$family: a refused append wrote")
    }
    assert(IndexFamily.all.map(_.name).toSet == append.keySet)
    assert(IndexFamily.all.filterNot(_.sighted).map(_.name).toSet == build.keySet)
    assert(IndexFamily.all.filter(_.sighted).map(_.name).toSet == sighted.keySet)
    // a sighted family's unsighted tag refusals run against its sighted
    // dir: the tag check comes first
    IndexFamily.all.foreach { fam =>
      val dir = tmp(s"tag_${fam.name}") + "/idx"
      sighted.get(fam.name) match {
        case Some((buildSighted, appendSighted, sightedName)) =>
          Seq("", "base").foreach { day =>
            intercept[IllegalArgumentException](buildSighted(dir, day))
            assert(!new java.io.File(dir).exists,
              s"${fam.name}: a refused sighted build wrote")
          }
          buildSighted(dir, "d1")
          refusesBadTags(fam.name, dir, appendSighted)
          val before = files(dir)
          val err = intercept[IllegalArgumentException](
            append(fam.name)(dir, "d2"))
          assert(err.getMessage.contains(sightedName),
            s"${fam.name}: ${err.getMessage}")
          assert(files(dir) == before, s"${fam.name}: the refused append wrote")
        case None => build(fam.name)(dir)
      }
      refusesBadTags(fam.name, dir, append(fam.name))
    }
  }

  test("describeIndex reports tombstone tables and IVF metadata by the registry's names") {
    def kinds(dir: String) = IndexFiles.describeIndex(spark, dir)
      .select("table", "kind").as[(String, String)].collect().toMap
    val exact = tmp("descexact") + "/idx"
    Dedup.buildExactIndex(novel(1L, 2L, 3L), "doc_id", "text", exact)
    Dedup.deleteFromExactIndex(spark, exact, novel(2L), "text")
    val ek = kinds(exact)
    assert(ek.get("deleted_fps").contains("tombstones"), s"exact: $ek")
    assert(ek.get("fps").contains("payload"), s"exact: $ek")
    val pq = tmp("descpq") + "/idx"
    Ann.buildIvfPqIndex((1L to 12L).map(i =>
        (i, Seq.tabulate(4)(j => math.sin(i * 7.0 + j)))).toDF("id", "v"),
      pq, nlist = 2, m = 2, ksub = 2)
    val pk = kinds(pq)
    Seq("pq", "train_stats", "centroids").foreach(t =>
      assert(pk.get(t).contains("metadata"), s"ivf_pq $t: $pk"))
    assert(pk.get("codes").contains("payload"), s"ivf_pq: $pk")
    val mh = tmp("descmh") + "/idx"
    Dedup.buildMinhashIndexSighted(novel(1L, 2L, 3L), "doc_id", "text", mh,
      day = "d1")
    val mk = kinds(mh)
    assert(mk.get("seen").contains("sightings"), s"minhash: $mk")
    Seq("shingles", "sigs").foreach(t =>
      assert(mk.get(t).contains("payload"), s"minhash $t: $mk"))
  }
}
