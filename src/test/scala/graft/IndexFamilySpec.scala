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
}
