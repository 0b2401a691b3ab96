package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** SHA-256 over the generated rows in a canonical form: the content
  * hash recorded beside every input set. */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(fields: Any*): Unit = fields.foreach { f =>
    md.update(f.toString.getBytes("UTF-8")); md.update(0.toByte)
  }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Seeded text and vector sources shared by the two generators. */
final class Source(seed: Long, vocabSize: Int) {
  val rng = new SplittableRandom(seed)

  /** The Gopher stop words lead the vocabulary, so every English doc
    * passes the quality gate's stop-word test. */
  val vocab: Array[String] = {
    val out = mutable.LinkedHashSet("the", "of", "and", "to", "be", "that", "have", "with")
    while (out.size < vocabSize) {
      val len = 3 + rng.nextInt(7)
      out += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    out.toArray
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(r => 1.0 / math.pow(r + 1, 1.05))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }
  def words(n: Int): Array[String] = Array.fill(n)(word())

  def gaussian(): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
  def logNormal(median: Double, sigma: Double, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, (median * math.exp(sigma * gaussian())).round.toInt))
  def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))

  private val cjk: Array[Char] = Array.fill(3000)((0x4e00 + rng.nextInt(0x51a5)).toChar)
  private val cjkPunct = "，。！？；：、".toCharArray

  /** English prose: sentences of Zipf words. */
  def english(chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words(4 + rng.nextInt(14)).mkString(" ")).append('.')
    }
    sb.result()
  }
  /** Chinese prose: CJK characters in clauses ended by CJK punctuation. */
  def chinese(chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      (0 until 6 + rng.nextInt(20)).foreach(_ => sb.append(cjk(rng.nextInt(cjk.length))))
      sb.append(cjkPunct(rng.nextInt(cjkPunct.length)))
    }
    sb.result()
  }
  def mixed(chars: Int): String = {
    val sb = new StringBuilder
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(if (rng.nextBoolean()) english(60 + rng.nextInt(120))
                else chinese(20 + rng.nextInt(60)))
    }
    sb.result()
  }

  /** k unit-scale cluster centres in d dimensions. */
  def centres(k: Int, d: Int): Array[Array[Double]] =
    Array.fill(k)(Array.fill(d)(gaussian()))
  def near(c: Array[Double], sigma: Double): Array[Double] =
    c.map(_ + sigma * gaussian())
}

/** Character shingles exactly as the engine forms them: lower-case,
  * whitespace runs collapsed to one space, edge spaces trimmed, then
  * every `w`-character substring (the whole text when shorter). */
object Shingles {
  def norm(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").replaceAll("^ +| +$", "")
  def of(text: String, w: Int = 8): Set[String] = {
    val t = norm(text)
    if (t.length <= w) Set(t) else (0 to t.length - w).iterator.map(i => t.substring(i, i + w)).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    i.toDouble / (a.size + b.size - i)
  }
  /** c(a in b) = |a ∩ b| / |a|. */
  def containment(a: Set[String], b: Set[String]): Double =
    a.count(b.contains).toDouble / a.size
}

// ---- ingest ---------------------------------------------------------

final case class IngestSettings(docs: Int = 1500, overlap: Double = 0.9,
    medianChars: Int = 700, sigma: Double = 0.9, minChars: Int = 60,
    maxChars: Int = 9000, chunkSize: Int = 200, chunkOverlap: Int = 40,
    vocab: Int = 20000)

final case class IngestDoc(id: Long, title: String, text: String,
    source: String, lang: String)

/** Corpus 1, and corpus 2 that repeats `overlap` of its docs from
  * corpus 1 (same ids, same text) and adds new ones. */
final case class IngestData(settings: IngestSettings, corpus1: Seq[IngestDoc],
    corpus2: Seq[IngestDoc], chunks1: Long, newIds: Set[Long],
    chunksNew: Long, hash: String) {
  def overlapIds: Int = corpus2.length - newIds.size
}

object IngestGen {
  val Sources = Seq("web", "news", "forum", "wiki", "paper")
  val PubTime = "2025-08-12"

  /** Chunks `Ingest.pipeline` cuts from one doc: it reformats the doc
    * (title = the text's first 40 characters) and cuts fixed chunks at
    * stride size − overlap. */
  def chunks(d: IngestDoc, s: IngestSettings): Long = {
    val title = d.text.substring(0, math.min(40, d.text.length))
    val doc = s"[标题]:$title\n[时间]:$PubTime\n[来源]:${d.source}\n\n${d.text}"
    val n = doc.codePointCount(0, doc.length)
    if (n == 0) 0L else (n - 1) / (s.chunkSize - s.chunkOverlap) + 1L
  }

  def apply(seed: Long, s: IngestSettings = IngestSettings()): IngestData = {
    val src = new Source(seed, s.vocab)
    val dg = new Digest
    dg.add("ingest", s)
    def doc(id: Long): IngestDoc = {
      val chars = src.logNormal(s.medianChars, s.sigma, s.minChars, s.maxChars)
      val r = src.rng.nextDouble()
      val (lang, text) =
        if (r < 0.5) ("en", src.english(chars))
        else if (r < 0.8) ("zh", src.chinese(chars))
        else ("mixed", src.mixed(chars))
      IngestDoc(id, text.take(24), text, src.pick(Sources), lang)
    }
    val c1 = (1L to s.docs.toLong).map(doc)
    val nOld = math.round(s.docs * s.overlap).toInt
    val oldIdx = mutable.LinkedHashSet.empty[Int]
    while (oldIdx.size < nOld) oldIdx += src.rng.nextInt(s.docs)
    val fresh = (1 to s.docs - nOld).map(i => doc(s.docs.toLong + i))
    val c2 = (oldIdx.toSeq.sorted.map(c1) ++ fresh).sortBy(_.id)
    (c1 ++ fresh).foreach(d => dg.add(d.id, d.title, d.text, d.source, d.lang))
    c2.foreach(d => dg.add(d.id))
    IngestData(s, c1, c2, c1.map(chunks(_, s)).sum, fresh.map(_.id).toSet,
      fresh.map(chunks(_, s)).sum, dg.hex)
  }
}

// ---- lifecycle ------------------------------------------------------

final case class LifecycleSettings(historyDocs: Int = 250, days: Int = 1,
    window: Int = 1, batchDocs: Int = 40, resightShare: Double = 0.2,
    nearShare: Double = 0.2, medianWords: Int = 70, sigma: Double = 0.35,
    dim: Int = 64, clusters: Int = 24, clusterSigma: Double = 0.35,
    searchBatches: Int = 3, queriesPerBatch: Int = 8, recallQueries: Int = 100,
    benchDocs: Int = 10, contaminated: Int = 10, vocab: Int = 20000, w: Int = 8)

/** A stored doc: its text and vector, and the lang stratum and quality
  * score the curation pipeline reads. */
final case class VecDoc(id: Long, text: String, v: Array[Double], lang: String,
    quality: Double)
final case class Query(qid: Long, v: Array[Double])

/** What one day's batch should do to the two sighted indexes:
  * `rejects` maps each batch doc that repeats (or nearly repeats) a
  * live stored doc to that doc; every other batch doc is admitted. */
final case class Day(tag: String, batch: Seq[VecDoc], rejects: Map[Long, Long],
    searches: Seq[Seq[Query]], retire: Boolean)

/** `bench` holds the benchmark passages; `contaminatedIds` are the
  * history docs that quote twelve words of one, which curation must drop. */
final case class LifecycleData(settings: LifecycleSettings, history: Seq[VecDoc],
    days: Seq[Day], recallQueries: Seq[Query], liveAtEnd: Int,
    ivfAtEnd: Int, bench: Seq[String], contaminatedIds: Set[Long], hash: String)

object LifecycleGen {
  val Langs = Seq("en", "de", "fr", "es")
  def dayTag(d: Int): String = f"d$d%02d"

  def apply(seed: Long, s: LifecycleSettings = LifecycleSettings()): LifecycleData = {
    require(s.window >= 1 && s.window <= s.days, "the window must be 1 to the number of days")
    val src = new Source(seed, s.vocab)
    val rng = src.rng
    val centres = src.centres(s.clusters, s.dim)
    def vec(): Array[Double] = src.near(centres(rng.nextInt(centres.length)), s.clusterSigma)
    def nWords(): Int = src.logNormal(s.medianWords, s.sigma, 30, 300)
    var nextId = 0L
    def doc(text: String): VecDoc = {
      nextId += 1
      VecDoc(nextId, text, vec(), src.pick(Langs), (rng.nextDouble() * 1e4).round / 1e4)
    }
    var qid = 0L
    def query(): Query = { qid += 1; Query(qid, vec()) }

    val bench = Seq.fill(s.benchDocs)(src.words(60))
    val quoting = mutable.LinkedHashSet.empty[Int]
    while (quoting.size < s.contaminated) quoting += rng.nextInt(s.historyDocs)
    val history = (0 until s.historyDocs).map { i =>
      val ws = src.words(nWords())
      if (!quoting(i)) doc(ws.mkString(" "))
      else {
        val b = bench(rng.nextInt(bench.length))
        val (from, at) = (rng.nextInt(b.length - 12), rng.nextInt(ws.length))
        doc((ws.take(at) ++ b.slice(from, from + 12) ++ ws.drop(at)).mkString(" "))
      }
    }
    val contaminatedIds = quoting.map(i => history(i).id).toSet
    val texts = mutable.HashMap.empty[Long, String] ++ history.map(d => d.id -> d.text)
    // the sighting ledger both indexes keep: id -> last day seen
    val lastSeen = mutable.HashMap.empty[Long, Int] ++ history.map(_.id -> 0)

    /** The doc with 1-3 words deleted: smaller, and almost all of its
      * shingles are the original's, so both verdicts reject it. */
    def nearCopy(of: String): String = {
      val base = Shingles.of(of, s.w)
      var out: Option[String] = None
      while (out.isEmpty) {
        val ws = of.split(' ').toBuffer
        (0 until 1 + rng.nextInt(3)).foreach(_ => ws.remove(1 + rng.nextInt(ws.length - 2)))
        val t = ws.mkString(" ")
        val sh = Shingles.of(t, s.w)
        if (sh.size <= base.size && Shingles.containment(sh, base) >= 0.9 &&
            Shingles.jaccard(sh, base) >= 0.8) out = Some(t)
      }
      out.get
    }

    val days = (1 to s.days).map { d =>
      val live = lastSeen.keys.toArray.sorted
      val nResight = (s.batchDocs * s.resightShare).round.toInt
      val nNear = (s.batchDocs * s.nearShare).round.toInt
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < nResight + nNear) chosen += live(rng.nextInt(live.length))
      val rejects = mutable.LinkedHashMap.empty[Long, Long]
      val batch = chosen.toSeq.zipWithIndex.map { case (orig, i) =>
        val t = if (i < nResight) texts(orig) else nearCopy(texts(orig))
        val b = doc(t)
        rejects(b.id) = orig
        b
      } ++ (0 until s.batchDocs - nResight - nNear).map(_ => doc(src.words(nWords()).mkString(" ")))
      batch.foreach { b =>
        if (!rejects.contains(b.id)) { texts(b.id) = b.text; lastSeen(b.id) = d }
      }
      rejects.values.foreach(orig => lastSeen(orig) = d)
      // days 0..d are on the ledger; past the window the oldest retire
      val retire = d + 1 > s.window
      if (retire) lastSeen.filterInPlace { case (_, seen) => seen >= d - s.window + 1 }
      val searches = Seq.fill(s.searchBatches)(Seq.fill(s.queriesPerBatch)(query()))
      Day(dayTag(d), batch, rejects.toMap, searches, retire)
    }
    val recall = Seq.fill(s.recallQueries)(query())

    val dg = new Digest
    dg.add("lifecycle", s)
    def vd(d: VecDoc): Unit = dg.add(d.id, d.text, d.v.mkString(","), d.lang, d.quality)
    history.foreach(vd)
    days.foreach { day =>
      dg.add(day.tag, day.retire)
      day.batch.foreach(vd)
      day.rejects.toSeq.sorted.foreach(r => dg.add(r._1, r._2))
      day.searches.flatten.foreach(q => dg.add(q.qid, q.v.mkString(",")))
    }
    recall.foreach(q => dg.add(q.qid, q.v.mkString(",")))
    bench.foreach(b => dg.add(b.mkString(" ")))
    LifecycleData(s, history, days, recall, lastSeen.size,
      history.length + days.map(_.batch.length).sum, bench.map(_.mkString(" ")),
      contaminatedIds, dg.hex)
  }
}
