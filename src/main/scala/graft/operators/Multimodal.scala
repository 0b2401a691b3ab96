package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.IndexFiles.WriteRouting

/** Multimodal column handling for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with a typed metadata
  * struct, and decode / feature-extract / resize / frame-sample run as
  * batched per-partition transforms — the Scala analog of `mapInPandas`
  * (a partition iterator, processed in bounded batches, so a native
  * decoder library amortizes per-batch setup and memory stays bounded).
  *
  * The actual codecs aren't available in this environment, so the
  * decode step is a clearly-marked deterministic stub ([[stubDecode]]):
  * everything Spark-side — schema, batch shape, partitioning, column
  * plumbing — is real and tested; swapping in a real decoder is a
  * one-function change at the seam.
  */
object Multimodal {

  /** Typed metadata carried next to every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),      // image|audio|video
    StructField("byte_len", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false),  // md5 hex
    StructField("width", IntegerType, nullable = true),     // images/video
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true))) // audio/video

  /** Attach the metadata struct derived from the payload itself (the
    * cheap, header-only pass — pure Catalyst, no decode). Dimensions /
    * duration are stub-derived from the checksum where a real header
    * parser would read the container. */
  def withMetadata(df: DataFrame, binCol: String, kindCol: String): DataFrame = {
    val ck = md5(col(binCol))
    val h1 = conv(substring(ck, 1, 4), 16, 10).cast("int")
    val h2 = conv(substring(ck, 5, 4), 16, 10).cast("int")
    df.withColumn("media_meta", struct(
      col(kindCol).as("kind"),
      length(col(binCol)).cast("long").as("byte_len"),
      ck.as("checksum"),
      (h1 % 1920 + 1).as("width"),
      (h2 % 1080 + 1).as("height"),
      (conv(substring(ck, 9, 6), 16, 10).cast("long") % 600000L).as("duration_ms")))
  }

  /** STUB decoder seam — stands where libjpeg/ffmpeg would run. Produces
    * a deterministic `dim`-length feature vector from the payload bytes
    * (md5-mixed), so tests are exact and the plumbing is real. */
  def stubDecode(bytes: Array[Byte], dim: Int): Array[Double] = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    Array.tabulate(dim) { j =>
      val b = java.util.Arrays.copyOf(d, d.length)
      b(j % b.length) = (b(j % b.length) ^ j).toByte
      val h = java.security.MessageDigest.getInstance("MD5").digest(b)
      val v = java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      (v % 1000001L) / 1000000.0
    }
  }

  /** Batched per-partition feature extraction: iterate the partition in
    * batches of `batchSize`, run the (stub) decoder per batch, emit
    * (id, features). Narrow transform — no shuffle; batch size bounds
    * peak decoder memory exactly like `mapInPandas` batch shaping. */
  def decodeFeatures(df: DataFrame, idCol: String, binCol: String,
      dim: Int = 16, batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Encoders
    val in = df.select(col(idCol), col(binCol))
    // ids keep their NATIVE type through the seam (the signatures
    // convention — a long cast would silently NULL non-numeric ids);
    // row-typed mapPartitions, so the seam is also stream-safe
    val outSchema = StructType(Seq(
      in.schema(0).copy(name = "media_id"),
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))
    in.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one "decoder call" per batch — the external-library seam
        batch.iterator.map { r =>
          Row(r.get(0), stubDecode(r.getAs[Array[Byte]](1), dim).toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Stub resize: a real implementation decodes + scales pixels; the
    * plumbing contract is (payload, w, h) → payload', metadata updated.
    * Stub keeps the bytes, rewrites target dims in the metadata. */
  def resize(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("media_meta",
      col("media_meta").withField("width", lit(w))
        .withField("height", lit(h)))

  /** Perceptual-hash signature over a decoded feature vector: bit j set
    * iff features[j] >= thresh — the threshold step of pHash/aHash,
    * applied to whatever the decode seam emits (DCT coefficients from a
    * real decoder, [[stubDecode]]'s deterministic vector here, or any
    * embedding — thresh 0.0 over an embedding is the hyperplane-sign
    * sketch). Pure Catalyst; dim <= 60 keeps band math in a signed
    * long (the simhash convention). */
  def phashBits(features: org.apache.spark.sql.Column, dim: Int,
      thresh: Double = 0.5): org.apache.spark.sql.Column = {
    require(dim > 0 && dim <= 60, "dim must be in [1, 60]")
    (0 until dim).map { j =>
      when(element_at(features, j + 1) >= thresh, shiftleft(lit(1L), j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Near-duplicate media pairs by hamming distance over [[phashBits]]
    * signatures — the image/video analog of text simhash dedup (how a
    * LAION-scale corpus drops re-encodes and crops). Banding is the
    * same pigeonhole as [[Dedup.simhashPairs]]: maxHam+1 bands (the
    * last band absorbing the remainder bits) — any pair within maxHam
    * leaves at least one band untouched, so the band join finds
    * EXACTLY the all-pairs result while shuffling only band keys;
    * candidates then verify on the codegen'd XOR popcount. Input is an
    * (id, features) frame from [[decodeFeatures]] or any embedder at
    * the same seam. */
  /** Banding parameters shared by [[phashPairs]] and the persisted
    * index: maxHam+1 bands, ceil width, last band absorbs the
    * remainder — any pair within maxHam leaves ≥1 band untouched. */
  private def bandParams(dim: Int, maxHam: Int): (Int, Int) = {
    require(maxHam >= 0, "maxHam must be non-negative")
    val bands = maxHam + 1
    require(dim >= bands, s"need dim >= ${bands} bands (dim=$dim)")
    val width = (dim + bands - 1) / bands // ceil: all bits live in a band
    require((bands - 1) * width < dim,
      s"dim=$dim cannot split into $bands non-empty bands — lower maxHam")
    (bands, width)
  }

  // ids keep their NATIVE type throughout (the simhashPairs
  // convention): a cast("long") would turn non-numeric ids into NULLs
  // and silently empty every downstream join
  private def signatures(df: DataFrame, idCol: String, featuresCol: String,
      dim: Int, thresh: Double): DataFrame =
    df.select(col(idCol).as("id"),
      phashBits(col(featuresCol), dim, thresh).as("sig"))

  private def bandedSigs(sig: DataFrame, dim: Int, bands: Int,
      width: Int): DataFrame =
    sig.select(col("id"), col("sig"),
      explode(array((0 until bands).map { b =>
        val w = math.min(width, dim - b * width) // last band: remainder
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND((1L << w) - 1).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))

  def phashPairs(df: DataFrame, idCol: String, featuresCol: String,
      dim: Int, maxHam: Int = 2, thresh: Double = 0.5): DataFrame = {
    val (bands, width) = bandParams(dim, maxHam)
    val banded = bandedSigs(
      signatures(df, idCol, featuresCol, dim, thresh), dim, bands, width)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** One segment's banded rows tagged with its `src` and routed on
    * their key, so a segment lands as at most
    * `spark.sql.shuffle.partitions` parallel files and
    * [[IndexFamily.retireSrcs]] can drop it as a partition listing (the
    * minhash/line-df segment layout). */
  private def bandSlice(banded: DataFrame,
      src: String): (String, DataFrame, Seq[String]) =
    ("bands", banded.withColumn("src", lit(src)).routeForWrite("key"), Seq("src"))

  /** The stored (dim, maxHam, thresh), schema pinned (no inference job). */
  private def phashMeta(spark: SparkSession, dir: String): (Int, Int, Double) = {
    val m = IndexFiles.sidecarRow(spark, s"$dir/meta",
      StructType.fromDDL("dim INT, max_ham INT, thresh DOUBLE"))
    (m.getAs[Int]("dim"), m.getAs[Int]("max_ham"), m.getAs[Double]("thresh"))
  }

  /** Persist a perceptual-hash media-dedup HISTORY index — the LAION
    * lifecycle's missing half: a crawl's media signatures stored once
    * as the banded key table, so every later batch probes by band-key
    * join without recomputing (or re-shuffling) history. Layout under
    * `dir`: `bands/` (id, sig, band, key — bands× rows per asset, four
    * scalars each; partitioned by src alone, one `src=` segment per
    * build or append), the compact `ids` sidecar (replay guard), and
    * `meta` (dim, max_ham, thresh — probes and appends derive their
    * banding from the stored parameters, never from caller arguments
    * that could drift). */
  def buildPhashIndex(df: DataFrame, idCol: String, featuresCol: String,
      dir: String, dim: Int, maxHam: Int = 2, thresh: Double = 0.5): Unit = {
    val s = df.sparkSession
    import s.implicits._
    // a rebuild starts a fresh history — a prior generation's
    // tombstones must not outlive it (the buildExactIndex rule)
    IndexFiles.clearTombstones(s, dir)
    val (bands, width) = bandParams(dim, maxHam)
    val sig = signatures(df, idCol, featuresCol, dim, thresh).cache()
    IndexFiles.writeTable(dir, bandSlice(bandedSigs(sig, dim, bands, width), "base"))
    IndexFiles.writeIds(sig.select("id").distinct(), dir)
    sig.unpersist()
    Seq((dim, maxHam, thresh)).toDF("dim", "max_ham", "thresh")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append a batch's signatures to a persisted [[buildPhashIndex]] in
    * O(batch): banding parameters come from the stored meta, so an
    * appended index is bit-equal to one rebuilt over the union corpus
    * (signatures are deterministic in (dim, thresh)). Batch ids must
    * be disjoint from stored ids (checked against the `ids` sidecar —
    * a replayed id would pair an asset with itself at hamming 0).
    * Rides the shared [[IndexFiles.appendStaged]] journal, so a crash
    * anywhere is repaired by the next append. */
  def appendToPhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDf: DataFrame, idCol: String,
      featuresCol: String, src: String): Unit = {
    require(src.nonEmpty && src != "base",
      s"append src must be a non-empty tag other than 'base': '$src'")
    IndexFamily.phash.heal(spark, dir)
    // the sighted families' mirror guard: an unsighted append stores
    // assets no sighting day contains — irretirable by the window
    val seenP = new org.apache.hadoop.fs.Path(s"$dir/seen")
    require(!seenP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(seenP),
      s"$dir records sightings — append with appendToPhashIndexSighted " +
        "(an unsighted append stores assets no sighting window could " +
        "ever retire)")
    val (dim, maxHam, thresh) = phashMeta(spark, dir)
    val (bands, width) = bandParams(dim, maxHam)
    val sig = signatures(newDf, idCol, featuresCol, dim, thresh).cache()
    val batchIds = sig.select("id").distinct()
    val replayed = IndexFiles.ensureIds(spark, dir,
        spark.read.parquet(s"$dir/bands").select("id").distinct())
      .join(broadcast(batchIds), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already " +
        "exists in the index — a replayed id would self-pair at hamming 0")
    IndexFiles.appendStaged(spark, dir,
      Seq(bandSlice(bandedSigs(sig, dim, bands, width), src)), Some(batchIds))
    sig.unpersist(); ()
  }

  // ---- sighting-window phash dedup ---------------------------------------

  /** [[buildPhashIndex]] plus a SIGHTINGS ledger — the media form of
    * the exact/minhash "seen in the last N days" contract: `dir/seen`
    * holds one (id) row per (day, sighted INDEX asset), src=day
    * partitions. A stored asset is sighted when admitted and again
    * every time an arriving batch asset is REJECTED as its near-dup
    * (touch-on-reject — the image is demonstrably still circulating
    * even though the arriving copy is dropped). The build day ages
    * out of the window like any other. */
  def buildPhashIndexSighted(df: DataFrame, idCol: String,
      featuresCol: String, dir: String, dim: Int, day: String,
      maxHam: Int = 2, thresh: Double = 0.5): Unit = {
    require(day.nonEmpty && day != "base",
      s"day must be a non-empty tag other than 'base': '$day'")
    buildPhashIndex(df, idCol, featuresCol, dir, dim, maxHam, thresh)
    df.select(col(idCol).as("id")).distinct()
      .withColumn("src", lit(day))
      .write.partitionBy("src").mode("overwrite").parquet(s"$dir/seen")
  }

  /** Admission append with the sighting touch — the minhash family's
    * [[graft.operators.Dedup.appendToMinhashIndexSighted]] on media
    * signatures: the batch probes the live history
    * ([[dedupPhashAgainstIndex]] at the stored maxHam), rejected
    * assets drop, admitted assets extend the index under this day's
    * segment, and the day's `seen` slice records the admitted ids
    * plus the stored ids the rejections matched — one journaled
    * commit. O(batch) probe + O(admitted) append. */
  def appendToPhashIndexSighted(spark: org.apache.spark.sql.SparkSession,
      dir: String, newDf: DataFrame, idCol: String, featuresCol: String,
      day: String): Unit = {
    require(day.nonEmpty && day != "base",
      s"day must be a non-empty tag other than 'base': '$day'")
    IndexFamily.phash.requireSighted(spark, dir)
    IndexFamily.phash.heal(spark, dir)
    // inlined probe (the appendToMinhashIndexSighted rule): the batch's
    // signatures feed BOTH the verdict join and the admitted append —
    // one signature pass, filtered for the admitted subset
    val (dim, maxHam, thresh) = phashMeta(spark, dir)
    val (bands, width) = bandParams(dim, maxHam)
    val sig = signatures(newDf, idCol, featuresCol, dim, thresh).cache()
    val batchAll = sig.select("id").distinct()
    // replayed-id guard (the unsighted append's contract): an asset
    // whose features drifted past maxHam would otherwise be "admitted"
    // AGAIN under its stored id — duplicate bands + ids rows, double
    // kills on takedown
    val replayed = IndexFiles.ensureIds(spark, dir,
        spark.read.parquet(s"$dir/bands").select("id").distinct())
      .join(broadcast(batchAll), "id").limit(1).collect()
    require(replayed.isEmpty,
      s"batch id ${replayed.headOption.map(_.get(0)).orNull} already " +
        "exists in the index — a replayed id would duplicate its rows " +
        "(re-encodes of a KNOWN asset arrive under fresh ids and reject " +
        "as near-dups)")
    val nb = bandedSigs(sig, dim, bands, width)
    val stored = {
      import org.apache.spark.sql.types._
      IndexFiles.readOrEmpty(spark, s"$dir/bands", StructType(Seq(
        StructField("id", newDf.schema(idCol).dataType),
        StructField("sig", LongType),
        StructField("band", IntegerType),
        StructField("key", LongType))))
    }
    val pairs = broadcast(nb).as("n")
      .join(IndexFiles.dropTombstones(spark, dir, stored).as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key"))
      .select(col("n.id").as("id_new"), col("o.id").as("id_old"),
        bit_count(col("n.sig").bitwiseXOR(col("o.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
      // localCheckpoint + persist, not bare persist: the pair plan
      // scans $dir/bands, and this append's staged writes
      // refreshByPath($dir) between slices — a bare persist was
      // invalidated and each later slice re-ran the whole band join
      // (the r20 containment-append finding); the persist restores
      // planner statistics over the checkpointed RDD
      .select(col("id_new"), col("id_old")).localCheckpoint().persist()
    val pairsN = pairs.count()
    val dupIds = pairs.select(col("id_new").as("id"))
    val admittedBands = nb.join(dupIds, Seq("id"), "left_anti")
    // persisted + counted once — gates the slices and the journal guard
    // without per-check isEmpty planning rounds (r19)
    val batchIds = batchAll.join(dupIds, Seq("id"), "left_anti").persist()
    val batchIdsN = batchIds.count()
    val seenRows = batchIds
      .unionByName(pairs.select(col("id_old").as("id")))
      .distinct().withColumn("src", lit(day))
    val payloadSlices =
      // every batch id has band rows (bandedSigs emits `bands` rows per
      // sig), so admittedBands nonempty ⟺ some batch id survived
      if (batchIdsN == 0) Seq.empty
      else Seq(bandSlice(admittedBands, day))
    val seenSlice =
      if (batchIdsN == 0 && pairsN == 0) Seq.empty
      else Seq(("seen", seenRows, Seq("src")))
    if ((payloadSlices ++ seenSlice).nonEmpty)
      IndexFiles.appendStaged(spark, dir, payloadSlices ++ seenSlice,
        if (payloadSlices.isEmpty) None else Some(batchIds))
    sig.unpersist(); pairs.unpersist(); batchIds.unpersist(); ()
  }

  def compactPhashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    IndexFiles.compact(spark, dir, Map("bands" -> Seq("src")))

  /** Near-dup media pairs between a NEW batch and the stored history —
    * [[phashPairs]] with the join flipped batch-vs-index: the batch's
    * band keys BROADCAST (small by the feature's premise) against the
    * stored band table, which is scanned in place and never shuffled;
    * candidates verify on the codegen'd XOR popcount. Exact vs the
    * brute batch×history hamming filter (banding is the same
    * pigeonhole). Returns (id_new, id_old, hamming). The batch is NOT
    * deduped against itself — run [[phashPairs]] on it separately. */
  def dedupPhashAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String,
      featuresCol: String): DataFrame = {
    IndexFiles.requireNoPendingAppend(spark, dir)
    val (dim, maxHam, thresh) = phashMeta(spark, dir)
    val (bands, width) = bandParams(dim, maxHam)
    val nb = bandedSigs(
      signatures(batch, idCol, featuresCol, dim, thresh), dim, bands, width)
    // an empty-corpus build writes a src-partitioned table with
    // ZERO partition directories — [[IndexFiles.readOrEmpty]]
    // synthesizes the empty payload with the batch's own id type so
    // the probe returns empty instead of crashing
    val stored = {
      import org.apache.spark.sql.types._
      IndexFiles.readOrEmpty(spark, s"$dir/bands", StructType(Seq(
        StructField("id", batch.schema(idCol).dataType),
        StructField("sig", LongType),
        StructField("band", IntegerType),
        StructField("key", LongType))))
    }
    // tombstoned assets neither candidate nor verify — bit-equal to
    // the compacted index; partition cols projected away at the scan
    broadcast(nb).as("n")
      .join(IndexFiles.dropTombstones(spark, dir, stored).as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key"))
      .select(col("n.id").as("id_new"), col("o.id").as("id_old"),
        bit_count(col("n.sig").bitwiseXOR(col("o.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** Frame sampling for video payloads: every `everyMs` milliseconds of
    * the (stub) duration, emit a frame row (media_id, frame_idx, ts_ms).
    * Real decode of the frame bytes happens at the [[stubDecode]] seam. */
  def sampleFrames(df: DataFrame, idCol: String, everyMs: Long = 1000L): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"),
        col("media_meta.duration_ms").as("dur"))
      .withColumn("frame_idx",
        explode(sequence(lit(0L), greatest(floor(col("dur") / everyMs), lit(0L)))))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * everyMs).as("ts_ms"))
}
