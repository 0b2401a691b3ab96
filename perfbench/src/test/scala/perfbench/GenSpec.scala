package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val ingest = IngestSettings(docs = 200)
  private val lifecycle = LifecycleSettings(historyDocs = 120, days = 3, window = 1,
    batchDocs = 20, searchBatches = 2, recallQueries = 5, benchDocs = 3, contaminated = 4)

  test("the same seed gives the same content hash, another seed a different one") {
    assert(IngestGen(7, ingest).hash == IngestGen(7, ingest).hash)
    assert(IngestGen(7, ingest).hash != IngestGen(8, ingest).hash)
    assert(LifecycleGen(7, lifecycle).hash == LifecycleGen(7, lifecycle).hash)
    assert(LifecycleGen(7, lifecycle).hash != LifecycleGen(8, lifecycle).hash)
  }

  test("the content hash covers the generation settings") {
    assert(IngestGen(7, ingest).hash != IngestGen(7, ingest.copy(chunkSize = 300)).hash)
  }

  test("chunk counts follow the reformatted doc's length and the stride") {
    def doc(text: String) = IngestDoc(1, "t", text, "web", "en")
    // 29 characters of headers and pub time, the source, the title, the text
    assert(IngestGen.chunks(doc("abc"), ingest) == 1)
    assert(IngestGen.chunks(doc("x" * 200), ingest) == 2) // 272 characters
    assert(IngestGen.chunks(doc("x" * 248), ingest) == 2) // 320: (319 / 160) + 1
    assert(IngestGen.chunks(doc("x" * 249), ingest) == 3) // 321
    assert(IngestGen.chunks(doc("。" * 249), ingest) == 3) // counted in characters
  }

  test("the ingest corpora overlap by the configured share") {
    val d = IngestGen(3, ingest)
    assert(d.corpus2.length == ingest.docs)
    assert(d.newIds.size == 20 && d.overlapIds == 180)
    val c1 = d.corpus1.map(x => x.id -> x).toMap
    assert(d.corpus2.filterNot(x => d.newIds(x.id)).forall(x => c1(x.id) == x))
    assert(d.corpus1.map(_.lang).toSet == Set("en", "zh", "mixed"))
  }

  test("contaminated history docs quote twelve words of a bench passage") {
    val d = LifecycleGen(5, lifecycle)
    val text = d.history.map(x => x.id -> x.text).toMap
    def quotes(t: String) = d.bench.exists { b =>
      b.split(' ').sliding(12).exists(q => t.contains(q.mkString(" "))) }
    assert(d.contaminatedIds.size == lifecycle.contaminated)
    assert(d.contaminatedIds.forall(id => quotes(text(id))))
    assert(d.history.map(_.lang).toSet.subsetOf(LifecycleGen.Langs.toSet))
  }

  test("lifecycle bookkeeping: rejects repeat live docs, the window retires the rest") {
    val d = LifecycleGen(9, lifecycle)
    val texts = (d.history ++ d.days.flatMap(_.batch)).map(x => x.id -> x.text).toMap
    d.days.foreach { day =>
      assert(day.rejects.keySet.subsetOf(day.batch.map(_.id).toSet))
      day.rejects.foreach { case (b, orig) =>
        val (sb, so) = (Shingles.of(texts(b)), Shingles.of(texts(orig)))
        assert(sb.size <= so.size && Shingles.containment(sb, so) >= 0.9)
      }
    }
    assert(d.days.map(_.retire) == Seq(true, true, true))
    // with a one-day window only the last day's admitted and re-seen docs live
    assert(d.liveAtEnd == lifecycle.batchDocs)
    assert(d.ivfAtEnd == lifecycle.historyDocs + 3 * lifecycle.batchDocs)
  }
}
