package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star): media as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted per partition.
  *
  * The decode paths are REAL end to end in TWO modalities: the fixtures
  * materialize genuine grayscale PNGs ([[FileOps.materializeImageFiles]]
  * — JDK `javax.imageio`) and genuine RIFF/WAVE PCM clips
  * ([[FileOps.materializeAudioFiles]] — JDK `javax.sound.sampled`), zero
  * external deps either way; the queries read their ACTUAL bytes through
  * the `binaryFile` source, carries them as a `binary` column, and decodes
  * them per partition with the `mapPartitions` batch shape (decoder state
  * constructed once per partition, streamed per row — exactly how a
  * JNI/FFmpeg codec would be held). PNG is lossless and the fixture's
  * pixels are a deterministic function of the doc text, so the decoded
  * width/height/raster-digest are fully oracle-checked in DuckDB — the
  * gate catches a wrong pixel anywhere in encode→write→scan→decode.
  * The metadata queries stay in columnar land.
  *
  * At 100 TB the decode stage is the classic CPU hot spot: it's a narrow
  * map (no shuffle), so it scales linearly with executors; the metadata
  * extraction path never materializes the bytes more than once.
  */
object MultiModalOps {
  type Q = (SparkSession, String) => DataFrame

  /** The real image decoder: PNG bytes → width/height/raster. Held
    * per-partition (one `ImageIO` dispatch per task, not per row). */
  object PngDecoder {
    final case class Decoded(width: Int, height: Int, raster: Array[Byte])
    def decode(bytes: Array[Byte]): Decoded = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val w = img.getWidth
      val h = img.getHeight
      val r = img.getRaster
      val px = new Array[Byte](w * h)
      var i = 0
      while (i < w * h) { px(i) = r.getSample(i % w, i / w, 0).toByte; i += 1 }
      Decoded(w, h, px)
    }
  }

  final case class MediaMeta(
      doc_id: Long, width: Long, height: Long, px_digest: String, px_sum: Long)

  /** Columnar metadata over a binary media column — byte length and
    * content digest computed by codegen'd builtins; the binary column is
    * scanned once, nothing leaves the executors. Oracle-checked (md5 and
    * octet_length agree across engines on the UTF-8 bytes). */
  def mmMetadata(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("media"))
      .select(
        col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        md5(col("media")).as("digest"))
      .orderBy("doc_id")

  /** (doc_id, media) over one per-document corpus: the shared
    * [[FileOps.DocFiles.scan]] with the file bytes as `media`. */
  private def fileMedia(spark: SparkSession, files: FileOps.DocFiles, dir: String): DataFrame =
    files.scan(spark, dir).select(col("doc_id"), col("content").as("media"))

  /** Real file bytes → (doc_id, media) — the ingest half of the decode
    * path: a `binaryFile` scan of the per-doc files with the provenance
    * key parsed from the path. */
  private def mediaBytes(spark: SparkSession, sfDir: String): DataFrame =
    fileMedia(spark, FileOps.textFiles, FileOps.materializeDocFiles(spark, sfDir))

  /** Real PNG bytes → (doc_id, media): the image half of the fixture. */
  private def imageBytes(spark: SparkSession, sfDir: String): DataFrame =
    fileMedia(spark, FileOps.pngFiles, FileOps.materializeImageFiles(spark, sfDir))

  private def decoded(spark: SparkSession, sfDir: String): DataFrame =
    decodePngImages(spark, imageBytes(spark, sfDir))

  /** The PNG decode body shared by the small-files and PACKED image
    * paths — one decode implementation, two scan shapes (the
    * [[decodeClips]]/[[decodeGifClips]] convention, third modality). */
  private def decodePngImages(spark: SparkSession, bytes: DataFrame): DataFrame = {
    import spark.implicits._
    bytes
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder scope: ImageIO's reader dispatch and any
        // codec handles live here, constructed once per task
        it.map { case (id, bytes) =>
          val d = PngDecoder.decode(bytes)
          val md = java.security.MessageDigest.getInstance("MD5").digest(d.raster)
          var s = 0L
          var i = 0
          while (i < d.raster.length) { s += d.raster(i) & 0xff; i += 1 }
          MediaMeta(id, d.width.toLong, d.height.toLong,
            md.map("%02x".format(_)).mkString, s)
        }
      }
      .toDF()
  }

  /** The REAL decode stage: genuine PNG file bytes → decoded geometry +
    * raster digest via `mapPartitions`, `javax.imageio` instantiated once
    * per partition. Fully oracle-checked: PNG is lossless, the fixture
    * pixels tile the doc's ASCII bytes row-major, so DuckDB reconstructs
    * the exact raster string (`repeat(text)` truncated to w·h) and its
    * md5/sum from `documents.text` — one wrong pixel anywhere in
    * encode→write→scan→decode fails the hash gate. */
  def mmDecode(spark: SparkSession, sfDir: String): DataFrame =
    decoded(spark, sfDir).orderBy("doc_id")

  /** [[mmDecode]] over the PACKED layout ([[packedMediaBytes]] applied
    * to the PNG corpus) — byte-identical by construction (same decode
    * body via [[decodePngImages]]), so the SAME raster-hash oracle gates
    * both. With audio and video this closes the set: all three
    * real-decode modalities are dual-layout. */
  def mmImagePacked(spark: SparkSession, sfDir: String): DataFrame =
    decodePngImages(spark,
      packedMediaBytes(spark, sfDir, "pngpack", "packed_image.parquet",
        imageBytes(spark, sfDir))).orderBy("doc_id")

  /** Feature-extract + group: decoded-pixel stats per source — the
    * file-decoded features join back to the catalog table on the
    * filename-derived key and feed a normal columnar aggregation. All
    * sums are exact integers (the Det doctrine: no merge-order-dependent
    * float aggregation). */
  def mmFeatureAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(decoded(spark, sfDir), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_items"),
        sum(col("width")).cast("long").as("sum_width"),
        sum(col("px_sum")).cast("long").as("sum_px"))
      .orderBy("source")

  /** Average-hash (aHash) perceptual fingerprint over a decoded
    * grayscale raster: 64 NEAREST-PIXEL samples on an 8×8 grid
    * (`r = ⌊i·h/8⌋`, `c = ⌊j·w/8⌋` — integer sampling, not area
    * averaging, so every operation is exact and the oracle can replay it
    * bit-for-bit in SQL), thresholded against the 64-sample mean via the
    * integer cross-multiplication `p·64 > Σp` (no division anywhere).
    * Emitted as a 64-char bit string — the portable spelling; a
    * production sink would pack it to int64, which changes storage, not
    * semantics. */
  object AHash {
    def of(w: Int, h: Int, raster: Array[Byte]): String = {
      val v = new Array[Int](64)
      var sum = 0L
      var k = 0
      while (k < 64) {
        val p = raster(((k / 8) * h / 8) * w + ((k % 8) * w / 8)) & 0xff
        v(k) = p; sum += p; k += 1
      }
      val sb = new java.lang.StringBuilder(64)
      k = 0
      while (k < 64) { sb.append(if (v(k) * 64L > sum) '1' else '0'); k += 1 }
      sb.toString
    }
  }

  final case class ImagePHash(doc_id: Long, width: Long, height: Long, phash: String)

  private def phashFrame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = PngDecoder.decode(bytes)
        ImagePHash(id, d.width.toLong, d.height.toLong,
          AHash.of(d.width, d.height, d.raster))
      })
      .toDF()
  }

  /** Per-image perceptual hash over the REAL decoded PNG rasters — the
    * image half of the dedup family's signature tier ([[DedupOps]] covers
    * text; this covers pixels). Narrow per-partition decode, 64-char
    * output; fully oracle-checked (the fixture raster is SQL-computable,
    * so DuckDB replays sampling, mean and thresholding exactly). */
  def mmImagePhash(spark: SparkSession, sfDir: String): DataFrame =
    phashFrame(spark, sfDir).orderBy("doc_id")

  /** Image near-dup pairs by perceptual hash: 8 bands of 8 bits bucket
    * the candidates (pigeonhole: two hashes within hamming ≤ 7 MUST agree
    * on at least one whole band, so the banded join is provably lossless
    * at the threshold — the minhash-LSH plan shape with an exactness
    * guarantee), then the exact hamming distance verifies each candidate
    * via per-band `conv`→`xor`→`bit_count` (codegen'd, no UDF). Only
    * (band, doc_id, phash) rows cross the exchange — rasters never do.
    *
    * Scale honesty: each band spans only 2⁸ values, so bucket occupancy
    * grows ~n/256 and candidate volume ~n²/(256·heap-luck) — EXACT but
    * quadratic-tailed (MEASURED: candidate exponent 2.00 on the diverse
    * planted corpus, SCALE_r15_phash_density), unlike the minhash tier
    * whose band space grows with the corpus. That is intrinsic to a
    * 64-bit fingerprint, and the tier now ships BOTH remedies: the
    * scale-safe default for dense corpora is [[mmImageNeardupMi]]
    * (256-bit hash, 2¹⁶-value bands — same plan shape, 256× the band
    * space), and for a user pinned to the 64-bit hash the quadratic
    * tail is CAPPED by the conf-gated [[capBandBuckets]] prefilter
    * (`spark.graft.phash.maxBucket` — default off, loud when it drops,
    * density-audited with the cap on). With the cap off the banded join
    * is provably lossless at the threshold, and the oracle replays the
    * SAME band algorithm (lossless ⇒ result-identical to brute force,
    * which the spec proves in-JVM). */
  def mmImageNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    // pack the 64-bit hash into ONE long per image (two 32-bit convs —
    // a single 64-bit conv would overflow the signed cast), so the
    // candidate exchange carries 8 bytes instead of the 64-char string
    // and the verify is one xor+bit_count instead of 16 re-parses
    val bands = phashFrame(spark, sfDir)
      .withColumn("w", packBits(col("phash"), 0))
      .select(col("doc_id"), col("w"),
        posexplode(transform(sequence(lit(0), lit(7)),
          b => col("phash").substr(b * 8 + 1, lit(8))))
          .as(Seq("band_idx", "band")))
    val capped = capBandBuckets(bands, graft.GraftConf.phashMaxBucket(spark), "b64")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band") === col("y.band") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.w").as("wa"), col("y.w").as("wb"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("wa").bitwiseXOR(col("wb"))).cast("long"))
      .filter(col("hamming") <= 7)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** Conf-gated occupancy cap for a perceptual-hash tier's band buckets
    * — the [[DedupOps]] `capPostingsDf` doctrine applied to the band
    * space whose quadratic candidate tail is MEASURED (exponent 2.00 on
    * the diverse planted corpus for the 64-bit tier, 1.995 for the
    * multi-index tier at planted density — SCALE_r15/r16_phash_density):
    * postings in saturated (band_idx, band) buckets are dropped before
    * the candidate self-join, so candidates are bounded by n·bands·cap
    * instead of Σ occupancy². Pairs colliding only in capped buckets are
    * lost (space-exhaustion noise by the cap's assumption — at occupancy
    * ≫ the expected n/band-space a bucket's pairs are dominated by
    * unrelated images sharing one low-information band value).
    *
    * Band-layout-AGNOSTIC (r16 verdict #1): it caps (band_idx, band)
    * occupancy whatever the band width, so one helper serves the 64-bit
    * tier's 8×8-bit bands ([[graft.GraftConf.phashMaxBucket]]) and the
    * multi-index tier's 16×16-bit bands
    * ([[graft.GraftConf.phashMiMaxBucket]]).
    *
    * Shape: occupancy is a window count over (band_idx, band) — the SAME
    * keys the candidate self-join shuffles on, so the capped plan adds a
    * filter to the uncapped plan's one postings exchange instead of the
    * r16 form's separate hot-bucket aggregate + anti-join (which needed
    * an eager count and a session-lifetime persist of corpus-sized
    * postings — the r16 advice leak; this form pins NOTHING and runs no
    * job at construction). The drop stays LOUD, moved to execution time
    * where the work actually happens: an `observe` metric counts dropped
    * postings and [[CapObserver]] warns when any execution drops > 0 (a
    * silent cap would read as "no dense region here" when the opposite
    * is true). No-op and zero extra passes when unset, so the
    * registry/oracle path is untouched. */
  private[ops] def capBandBuckets(bands: DataFrame, cap: Long,
      tier: String): DataFrame = {
    if (cap <= 0L) bands
    else {
      CapObserver.install(bands.sparkSession)
      val w = Window.partitionBy("band_idx", "band")
      bands
        .withColumn("occ", count(lit(1)).over(w))
        .observe(s"graft.phash.cap.$tier",
          sum(when(col("occ") > cap, 1L).otherwise(0L)).as("dropped_postings"),
          max(col("occ")).as("max_occupancy"))
        .filter(col("occ") <= cap)
        .drop("occ")
    }
  }

  /** Execution-time loudness for [[capBandBuckets]]: a per-session
    * QueryExecutionListener that warns whenever a capped query's observe
    * metric reports dropped postings. Self-joins evaluate the observed
    * node once per enumeration pass, so the count is per-pass, not
    * deduplicated — the warn says so. Sessions are held weakly (tests
    * spin up and discard many). */
  private object CapObserver {
    private val installed =
      java.util.Collections.synchronizedSet(
        java.util.Collections.newSetFromMap(
          new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
    def install(spark: SparkSession): Unit =
      if (installed.add(spark))
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.foreach { case (name, row) =>
                if (name.startsWith("graft.phash.cap.") &&
                    !row.isNullAt(0) && row.getLong(0) > 0L)
                  org.apache.logging.log4j.LogManager.getLogger("graft")
                    .warn(s"$name: dropped ${row.getLong(0)} posting(s) " +
                      s"(per enumeration pass; max bucket occupancy " +
                      s"${row.getLong(1)}) — pairs colliding only in " +
                      "capped buckets are lost (band-space exhaustion " +
                      "by the cap's assumption)")
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
  }

  /** One 64-bit word of a '0'/'1' bit string, packed via two 32-bit
    * `conv`s (a single 64-bit conv's unsigned decimal overflows the
    * signed long cast when the top bit is set). `word` selects which
    * 64-bit window of the string. */
  private def packBits(bits: org.apache.spark.sql.Column, word: Int) =
    shiftleft(conv(bits.substr(word * 64 + 1, 32), 2, 10).cast("long"), 32)
      .bitwiseOR(conv(bits.substr(word * 64 + 33, 32), 2, 10).cast("long"))

  /** 256-bit grid perceptual hash — the MULTI-INDEX scale tier of
    * [[AHash]]. Same exact-integer construction (one nearest-pixel
    * sample per cell of a 16×16 grid, thresholded against the 256-sample
    * mean by cross-multiplication `p·256 > Σp`), four times the bits.
    * The point is not hash quality on the tiny fixture rasters — it is
    * BAND SPACE: [[mmImageNeardupMi]] cuts this hash into 16 bands of 16
    * bits, so each band spans 2¹⁶ values where the 64-bit tier's 8-bit
    * bands span 2⁸ — the per-bucket occupancy (and the false-candidate
    * volume, ~n²/band-space) drops 256×, which is exactly the documented
    * quadratic tail of [[mmImageNeardup]]. Production swaps the sampled
    * grid for integral-image block means (the published block-mean-value
    * hash); the banding, verify and plan shape are unchanged by that
    * substitution — sampling is kept here because it is exactly
    * SQL-replayable, so the whole tier stays hash-oracled. */
  object AHash256 {
    def of(w: Int, h: Int, raster: Array[Byte]): String = {
      val v = new Array[Int](256)
      var sum = 0L
      var k = 0
      while (k < 256) {
        val p = raster(((k / 16) * h / 16) * w + ((k % 16) * w / 16)) & 0xff
        v(k) = p; sum += p; k += 1
      }
      val sb = new java.lang.StringBuilder(256)
      k = 0
      while (k < 256) { sb.append(if (v(k) * 256L > sum) '1' else '0'); k += 1 }
      sb.toString
    }
  }

  final case class ImagePHash256(doc_id: Long, width: Long, height: Long, phash256: String)

  private def phash256Frame(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val d = PngDecoder.decode(bytes)
        ImagePHash256(id, d.width.toLong, d.height.toLong,
          AHash256.of(d.width, d.height, d.raster))
      })
      .toDF()
  }

  /** Per-image 256-bit perceptual hash ([[AHash256]]) — the long-hash
    * half of the multi-index near-dup tier, oracled the same way as
    * [[mmImagePhash]] (sampling, mean and thresholding replayed exactly
    * in SQL). */
  def mmImagePhash256(spark: SparkSession, sfDir: String): DataFrame =
    phash256Frame(spark, sfDir).orderBy("doc_id")

  /** Image near-dup pairs by MULTI-INDEX hamming search over the 256-bit
    * hash (the published multi-index hashing construction — Norouzi,
    * Punjani, Fleet 2012: split the code into m disjoint substrings,
    * index each, and pigeonhole guarantees any pair within hamming
    * ≤ m−1 collides on at least one whole substring): 16 bands of 16
    * bits bucket the candidates, exact hamming ≤ 15 verifies each via
    * the same inline per-band `conv`→`xor`→`bit_count` as the 64-bit
    * tier — codegen, no UDF, only (band, doc_id, phash) rows cross the
    * exchange.
    *
    * This IS the scale path [[mmImageNeardup]]'s scaladoc names: same
    * plan shape (banded equi-join, never a product), but each band spans
    * 2¹⁶ values instead of 2⁸ — at a billion images expected bucket
    * occupancy drops from n/256 (hopeless) to n/65536, and the
    * construction extends to longer codes/wider bands verbatim. The
    * verify threshold 15 is the pigeonhole bound for 16 bands, so the
    * banded join is provably LOSSLESS at the threshold, like the 64-bit
    * tier — the oracle replays the identical band algorithm.
    *
    * The 256× band-space headroom delays saturation but does not repeal
    * it: at planted density the tier's OWN candidate exponent measured
    * 1.995 (SCALE_r16_phash_density — a corpus dense enough saturates
    * any fixed band space). The same conf-gated occupancy cap as the
    * 64-bit tier bounds that tail ([[capBandBuckets]] via
    * `spark.graft.phash.mi.maxBucket`, default off = the lossless
    * registry/oracle path): candidates ≤ n·16·cap, loud when it drops. */
  def mmImageNeardupMi(spark: SparkSession, sfDir: String): DataFrame = {
    // 256 bits packed into FOUR longs per image ([[packBits]] — once per
    // doc, not per candidate): the exchange carries ~32 bytes instead of
    // the 256-char string per side, and the verify is 4 xor+bit_count
    // terms instead of 32 string re-parses per pair — the candidate
    // stage is the tier's dominant cost on a dense corpus
    val bands = phash256Frame(spark, sfDir)
      .withColumn("w", transform(sequence(lit(0), lit(3)),
        i => shiftleft(conv(col("phash256").substr(i * 64 + 1, lit(32)), 2, 10)
            .cast("long"), 32)
          .bitwiseOR(conv(col("phash256").substr(i * 64 + 33, lit(32)), 2, 10)
            .cast("long"))))
      .select(col("doc_id"), col("w"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => col("phash256").substr(b * 16 + 1, lit(16))))
          .as(Seq("band_idx", "band")))
    val capped =
      capBandBuckets(bands, graft.GraftConf.phashMiMaxBucket(spark), "mi")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band") === col("y.band") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.w").as("wa"), col("y.w").as("wb"))
      .distinct()
    val ham = (1 to 4).map { i =>
      bit_count(element_at(col("wa"), i).bitwiseXOR(element_at(col("wb"), i)))
    }.reduce(_ + _)
    cand.withColumn("hamming", ham.cast("long"))
      .filter(col("hamming") <= 15)
      .select("a", "b", "hamming")
      .orderBy("a", "b")
  }

  /** The real audio decoder: WAV bytes → format + raw PCM. Same
    * per-partition discipline as [[PngDecoder]]: `AudioSystem`'s reader
    * dispatch happens inside the task, bytes never visit the driver. */
  object WavDecoder {
    final case class Decoded(sampleRateHz: Int, pcm: Array[Byte])
    def decode(bytes: Array[Byte]): Decoded = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"fixture is 8-bit mono PCM, got $fmt")
        Decoded(fmt.getSampleRate.toInt, in.readAllBytes())
      } finally in.close()
    }
  }

  final case class ClipMeta(
      doc_id: Long, sample_rate: Long, n_samples: Long, duration_us: Long,
      pcm_digest: String, pcm_sum: Long)

  /** Real WAV bytes → (doc_id, media): the audio half of the fixture. */
  private def audioBytes(spark: SparkSession, sfDir: String): DataFrame =
    fileMedia(spark, FileOps.wavFiles, FileOps.materializeAudioFiles(spark, sfDir))

  private def audioDecoded(spark: SparkSession, sfDir: String): DataFrame =
    decodeClips(spark, audioBytes(spark, sfDir))

  /** WAV decode over ANY `(doc_id, media)` frame — shared by the
    * small-files path ([[audioBytes]]) and the packed-parquet path
    * ([[packedAudioBytes]]), so the two layouts cannot drift: one decode
    * body, two scan shapes. */
  private def decodeClips(spark: SparkSession, bytes: DataFrame): DataFrame = {
    import spark.implicits._
    bytes
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // digest held per partition (digest() resets it after each call)
        // — the same construct-once decoder-state discipline as the rest
        // of this file, no per-row JCA provider lookup
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val d = WavDecoder.decode(bytes)
          val md = digest.digest(d.pcm)
          var s = 0L
          var i = 0
          while (i < d.pcm.length) { s += d.pcm(i) & 0xff; i += 1 }
          // 8-bit PCM: one byte per frame; duration exact in µs because
          // 1e6 / 8000 = 125 is integral — no float in the oracle path
          ClipMeta(id, d.sampleRateHz.toLong, d.pcm.length.toLong,
            d.pcm.length.toLong * 1000000L / d.sampleRateHz,
            md.map("%02x".format(_)).mkString, s)
        }
      }
      .toDF()
  }

  /** The WAV corpus re-packed ONCE into a parquet `(doc_id, media)` side
    * table — the WebDataset/tar-shard answer to the small-files problem.
    * The audio fixture is deliberately 5000 individual files (it
    * exercises the `binaryFile` source); at 100 TB that layout is the
    * classic object-store pathology — listing cost, one request per
    * clip, splits far below `maxPartitionBytes`. Packing media into a
    * columnar container with the bytes as a `binary` column restores
    * fat sequential reads AND predicate/projection pushdown over the
    * metadata columns, which no tar/binaryFile layout offers. Shard
    * count targets ~128 MB per shard (floor 1) so the pack step itself
    * writes scale-sized files rather than inheriting the 5000 input
    * splits. */
  private def packedAudioBytes(spark: SparkSession, sfDir: String): DataFrame =
    packedMediaBytes(spark, sfDir, "wavpack", "packed_audio.parquet",
      audioBytes(spark, sfDir))

  /** Shared pack step: a `(doc_id, media)` corpus re-packed once into a
    * parquet container sharded toward 128 MB — the layout logic every
    * packed modality runs, so the sizing rule lives in ONE place. */
  private def packedMediaBytes(
      spark: SparkSession, sfDir: String, kind: String, fileName: String,
      src: => DataFrame): DataFrame = {
    val dir = FileOps.materializeOnce(spark, kind, sfDir) { d =>
      val s = src
      val totalBytes = s.agg(coalesce(sum(length(col("media"))), lit(0L)))
        .collect()(0).getLong(0)
      val nShards = math.max(1L, totalBytes / (128L << 20)).toInt
      s.repartition(nShards, col("doc_id"))
        .write.mode("overwrite").parquet(s"$d/$fileName")
    }
    spark.read.parquet(s"$dir/$fileName")
      .select(col("doc_id").cast("long").as("doc_id"), col("media"))
  }

  /** Packing accounting per source — the report the layout-migration job
    * emits: clip count and total container payload. The byte total is
    * fully oracled via the WAV size law (44-byte canonical PCM header +
    * 16·n payload on this fixture), so a header regression in the
    * encoder OR a dropped/truncated clip in the pack step fails the hash
    * gate. */
  def mmMediaPack(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(packedAudioBytes(spark, sfDir), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_clips"),
        sum(length(col("media"))).cast("long").as("sum_media_bytes"))
      .orderBy("source")

  /** [[mmAudioDecode]] over the PACKED layout — byte-identical output by
    * construction (same decode body via [[decodeClips]]), which the
    * shared oracle SQL pins: a clip lost, duplicated or corrupted in the
    * pack step is a hash mismatch. The measured small-files vs packed
    * delta is the layout evidence (NOTES_r14). */
  def mmAudioPacked(spark: SparkSession, sfDir: String): DataFrame =
    decodeClips(spark, packedAudioBytes(spark, sfDir)).orderBy("doc_id")

  /** AUDIO decode stage: genuine WAV file bytes → sample rate / count /
    * duration / PCM digest via `mapPartitions`. Fully oracle-checked:
    * WAV PCM is lossless and the fixture samples tile the doc's ASCII
    * bytes 16×, so DuckDB reconstructs the exact PCM as
    * `repeat(text, 16)` and its md5/sum from `documents.text` — one
    * wrong sample anywhere in encode→write→scan→decode fails the gate. */
  def mmAudioDecode(spark: SparkSession, sfDir: String): DataFrame =
    audioDecoded(spark, sfDir).orderBy("doc_id")

  /** Audio feature aggregation per source — decoded-clip stats joined
    * back to the catalog, exact-integer sums only. */
  def mmAudioAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(audioDecoded(spark, sfDir), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_clips"),
        sum(col("n_samples")).cast("long").as("sum_samples"),
        sum(col("duration_us")).cast("long").as("sum_duration_us"),
        sum(col("pcm_sum")).cast("long").as("sum_pcm"))
      .orderBy("source")

  /** Windowed audio feature extraction: fixed 256-sample frames, one
    * energy value (exact integer sum of squared samples) per frame — the
    * contour a speech-data pipeline computes for VAD/segmentation. All
    * integer arithmetic (Det doctrine), so the oracle recomputes every
    * frame from the text-derived samples. */
  object AudioEnergy {
    val FrameSamples = 256
    final case class Frame(doc_id: Long, frame_idx: Long, energy: Long, frame_len: Long)
    def frames(id: Long, pcm: Array[Byte]): Iterator[Frame] = {
      val nF = (pcm.length + FrameSamples - 1) / FrameSamples
      Iterator.range(0, nF).map { f =>
        val lo = f * FrameSamples
        val hi = math.min((f + 1) * FrameSamples, pcm.length)
        var s = 0L
        var i = lo
        while (i < hi) { val v = (pcm(i) & 0xff).toLong; s += v * v; i += 1 }
        Frame(id, f.toLong, s, (hi - lo).toLong)
      }
    }
  }

  /** Per-frame energy over REAL decoded WAV PCM: decode per partition,
    * fan one clip out to its frame rows — the audio twin of
    * [[mmFrameSample]] but with a computed feature per frame, fully
    * oracle-checked sample-by-sample. */
  def mmAudioEnergy(spark: SparkSession, sfDir: String): DataFrame =
    audioEnergyFrames(spark, sfDir)
      .orderBy("doc_id", "frame_idx")

  /** [[mmAudioEnergy]] without the presentation sort — the form composed
    * consumers ([[mmAudioSegments]]) build on. */
  private def audioEnergyFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    audioBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AudioEnergy.frames(id, WavDecoder.decode(bytes).pcm)
      })
      .toDF()
  }

  /** Activity SEGMENTATION over the energy contour — the VAD-shaped
    * stage downstream of [[mmAudioEnergy]]: a frame is ACTIVE iff its
    * mean-square energy exceeds the clip's long-term average (the
    * classic adaptive energy gate), and maximal runs of active frames
    * become segments with start/length/energy — the
    * speech-region/highlight report an audio curation pass consumes.
    * The gate is the exact integer cross-multiplication
    * `energy · clip_len > clip_energy · frame_len` (no float threshold,
    * engine-portable), and run fusion is the islands trick
    * (`frame_idx − row_number` per doc), the same machinery as
    * [[DedupOps.substringSpanPairs]].
    *
    * Scale shape: the contour is the narrow per-partition decode fan-out
    * of [[mmAudioEnergy]]; clip totals are one doc-keyed aggregate
    * joined back (frames of a clip co-locate — the join keys on doc_id);
    * the islands window and segment rollup touch ACTIVE frames only. */
  def mmAudioSegments(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE pass over the decoded contour (r19): the clip totals ride a
    // doc-keyed WINDOW instead of a groupBy + join back. The join form
    // pinned the contour, but its two subtrees (totals, gate probe) ran
    // as CONCURRENT stages racing to materialize the cache — the 5000-
    // file WAV corpus was decoded twice per run (measured: two 157-task
    // stages, run 78.7 s + 55.1 s vs cpu 6.9 s + 3.9 s — the blocked
    // time is small-file I/O, and doubling it is what made this the
    // board's one unstable bench row). The window form decodes once,
    // shares its single doc_id exchange with the islands window below
    // (same partition key), and needs no pin at all. Same totals — a
    // partition-wide window sum over all frames of the doc — so the
    // gate, the islands and the output are row-identical.
    val fr = audioEnergyFrames(spark, sfDir)
    val wClip = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("frame_idx")
    fr.withColumn("clip_energy", sum(col("energy")).over(wClip))
      .withColumn("clip_len", sum(col("frame_len")).over(wClip))
      .filter(col("energy") * col("clip_len") >
        col("clip_energy") * col("frame_len"))
      .withColumn("isl", col("frame_idx") - row_number().over(wRun))
      .groupBy("doc_id", "isl")
      .agg(min(col("frame_idx")).as("start_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).cast("long").as("seg_energy"))
      .select(col("doc_id"), col("start_frame"), col("n_frames"),
        col("seg_energy"))
      .orderBy("doc_id", "start_frame")
  }

  /** The real multi-frame demuxer+decoder: animated-GIF bytes → per-frame
    * grayscale rasters, via the JDK `ImageIO` GIF reader's frame index
    * (`getNumImages` / `read(frameIdx)`). The reader is held PER
    * PARTITION and re-pointed per clip — the construct-once decoder-state
    * discipline of [[PngDecoder]]/[[WavDecoder]], which is exactly how a
    * demuxer handle (FFmpeg `AVFormatContext`) would be held at scale. */
  object GifDecoder {
    final case class Decoded(width: Int, height: Int, rasters: Array[Array[Byte]])
    /** Decodes all frames with a caller-held reader (one per partition). */
    def decode(reader: javax.imageio.ImageReader, bytes: Array[Byte]): Decoded = {
      reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val nF = reader.getNumImages(true)
      val frames = new Array[Array[Byte]](nF)
      var w = 0
      var h = 0
      var f = 0
      while (f < nF) {
        val img = reader.read(f)
        w = img.getWidth
        h = img.getHeight
        val px = new Array[Byte](w * h)
        var i = 0
        // frames decode as TYPE_BYTE_INDEXED; the gray value is the
        // palette entry's intensity (any channel — the palette is gray)
        while (i < w * h) { px(i) = (img.getRGB(i % w, i / w) & 0xff).toByte; i += 1 }
        frames(f) = px
        f += 1
      }
      Decoded(w, h, frames)
    }
  }

  final case class ClipFrames(
      doc_id: Long, n_frames: Long, width: Long, height: Long,
      px_digest: String, px_sum: Long)
  final case class VideoFrame(
      doc_id: Long, frame_idx: Long, px_digest: String, px_sum: Long)

  /** Real animated-GIF bytes → (doc_id, media): the frame-series half of
    * the fixture. */
  private def videoBytes(spark: SparkSession, sfDir: String): DataFrame =
    fileMedia(spark, FileOps.gifFiles, FileOps.materializeVideoFiles(spark, sfDir))

  /** VIDEO-shaped decode stage: genuine multi-frame GIF bytes → frame
    * count / geometry / whole-clip raster digest via `mapPartitions`,
    * one `ImageIO` reader per partition. Fully oracle-checked: GIF's
    * 256-gray palette is lossless, the fixture frames tile the doc's
    * ASCII bytes in a rolling scan, so DuckDB reconstructs the exact
    * concatenated raster from `documents.text` — one wrong pixel in any
    * frame of encode→write→scan→demux→decode fails the hash gate. */
  def mmVideoDecode(spark: SparkSession, sfDir: String): DataFrame =
    decodeGifClips(spark, videoBytes(spark, sfDir)).orderBy("doc_id")

  /** The demux+decode body shared by the small-files and PACKED video
    * paths — one decode implementation, two scan shapes (the
    * [[decodeClips]] convention applied to the frame-series modality). */
  private def decodeGifClips(spark: SparkSession, bytes: DataFrame): DataFrame = {
    import spark.implicits._
    bytes
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val d = GifDecoder.decode(reader, bytes)
          var s = 0L
          d.rasters.foreach { px =>
            digest.update(px)
            var i = 0
            while (i < px.length) { s += px(i) & 0xff; i += 1 }
          }
          ClipFrames(id, d.rasters.length.toLong, d.width.toLong, d.height.toLong,
            digest.digest().map("%02x".format(_)).mkString, s)
        }
      }
      .toDF()
  }

  /** The GIF corpus re-packed into the parquet binary container — the
    * [[packedAudioBytes]] layout applied to the frame-series modality,
    * so EVERY real-decode modality has its at-scale layout. */
  private def packedVideoBytes(spark: SparkSession, sfDir: String): DataFrame =
    packedMediaBytes(spark, sfDir, "gifpack", "packed_video.parquet",
      videoBytes(spark, sfDir))

  /** [[mmVideoDecode]] over the PACKED layout — byte-identical by
    * construction (same demux+decode body via [[decodeGifClips]]), so
    * the SAME whole-clip raster-hash oracle gates both: a clip lost,
    * duplicated or corrupted in the pack step is a hash mismatch. */
  def mmVideoPacked(spark: SparkSession, sfDir: String): DataFrame =
    decodeGifClips(spark, packedVideoBytes(spark, sfDir)).orderBy("doc_id")

  /** Per-FRAME feature extraction over the real multi-frame container:
    * one clip row fans out to its decoded frames, each carrying an exact
    * content digest + pixel sum — the keyframe-analysis shape
    * ([[mmAudioEnergy]]'s twin in the frame-series modality), fully
    * oracle-checked frame by frame. */
  def mmVideoFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, bytes) =>
          val d = GifDecoder.decode(reader, bytes)
          d.rasters.iterator.zipWithIndex.map { case (px, f) =>
            var s = 0L
            var i = 0
            while (i < px.length) { s += px(i) & 0xff; i += 1 }
            VideoFrame(id, f.toLong,
              digest.digest(px).map("%02x".format(_)).mkString, s)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  final case class FrameMotion(
      doc_id: Long, frame_idx: Long, motion: Long, max_px_delta: Long)

  /** Per-frame MOTION signal over the real multi-frame container: for
    * every frame after the first, the exact sum (and max) of absolute
    * per-pixel deltas against the previous frame — the inter-frame
    * difference a keyframe/shot-boundary detector thresholds ([the
    * video twin of [[mmAudioEnergy]]'s contour). Frames of one clip are
    * adjacent in the decoder's output, so the delta is computed inside
    * the same narrow `mapPartitions` pass that demuxes the clip — no
    * self-join of the frame table, nothing but (doc_id, frame_idx, two
    * longs) ever leaves the executors. Exact integers end-to-end: the
    * oracle rebuilds both frames from the rolling-scan formula and
    * re-derives every delta. */
  def mmVideoMotion(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    videoBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        it.flatMap { case (id, bytes) =>
          val d = GifDecoder.decode(reader, bytes)
          (1 until d.rasters.length).iterator.map { f =>
            val prev = d.rasters(f - 1)
            val cur = d.rasters(f)
            // GIF allows per-frame sub-rectangles; the fixture never
            // emits them, and a silent min-length truncation would
            // corrupt the measurement — fail LOUDLY on any drift
            require(cur.length == prev.length,
              s"clip $id: frame $f raster ${cur.length} != ${prev.length}")
            var s = 0L
            var mx = 0L
            var i = 0
            while (i < cur.length) {
              val delta = math.abs((cur(i) & 0xff) - (prev(i) & 0xff)).toLong
              s += delta
              if (delta > mx) mx = delta
              i += 1
            }
            FrameMotion(id, f.toLong, s, mx)
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  /** The resize stage contract: media bytes → fixed-size thumbnail.
    * Stub semantics (no codec libs in the container): the byte stream is
    * cut into out_w×out_h equal blocks and each thumbnail cell is its
    * block's floored mean byte — deterministic, so the spec pins exact
    * values. A real build swaps `thumbnail` for the codec's scaler; the
    * Spark shape (narrow typed map, one pass over the bytes) is final. */
  object Resizer {
    val OutW = 8
    val OutH = 8
    def thumbnail(bytes: Array[Byte]): Array[Long] = {
      val cells = OutW * OutH
      val out = new Array[Long](cells)
      val n = bytes.length
      if (n == 0) return out
      var c = 0
      while (c < cells) {
        val from = (c.toLong * n / cells).toInt
        val until = math.max(((c + 1).toLong * n / cells).toInt, from + 1) min n
        var s = 0L
        var i = from
        while (i < until) { s += bytes(i) & 0xff; i += 1 }
        out(c) = s / (until - from)
        c += 1
      }
      out
    }
  }

  final case class Thumb(doc_id: Long, out_w: Long, out_h: Long, thumb_sum: Long)

  /** Resize/thumbnail over real file bytes — oracle-checked (the
    * ASCII-fixture byte math is SQL-expressible, including the
    * overlapping-block rule for docs shorter than 64 bytes); exact
    * values additionally pinned by spec. */
  def mmResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        Thumb(id, Resizer.OutW.toLong, Resizer.OutH.toLong, Resizer.thumbnail(bytes).sum)
      })
      .toDF()
      .orderBy("doc_id")
  }

  /** The frame-sample stage contract: media bytes → every Nth fixed-size
    * frame (video keyframe sampling shape: one media row fans out to many
    * frame rows, each a real byte slice). */
  object FrameSampler {
    val FrameBytes = 256
    val Every = 4
    final case class Frame(doc_id: Long, frame_idx: Long, frame_len: Long)
    def sample(id: Long, bytes: Array[Byte]): Iterator[Frame] = {
      val nFrames = (bytes.length + FrameBytes - 1) / FrameBytes
      Iterator.range(0, nFrames, Every).map { f =>
        val slice = java.util.Arrays.copyOfRange(bytes,
          f * FrameBytes, math.min((f + 1) * FrameBytes, bytes.length))
        Frame(id, f.toLong, slice.length.toLong)
      }
    }
  }

  /** Frame sampling over real file bytes. The emitted geometry
    * (which frames, their lengths) is fully oracle-checked against the
    * source table's byte lengths; the slices themselves are materialized
    * (copyOfRange), so the fan-out cost is the real one. */
  def mmFrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaBytes(spark, sfDir)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => FrameSampler.sample(id, bytes) })
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  val queries: Map[String, Q] = Map(
    "mm_metadata"     -> (mmMetadata _),
    "mm_decode"       -> (mmDecode _),
    "mm_image_packed" -> (mmImagePacked _),
    "mm_feature_agg"  -> (mmFeatureAgg _),
    "mm_audio_decode" -> (mmAudioDecode _),
    "mm_audio_agg"    -> (mmAudioAgg _),
    "mm_audio_energy" -> (mmAudioEnergy _),
    "mm_audio_segments" -> (mmAudioSegments _),
    "mm_media_pack"   -> (mmMediaPack _),
    "mm_audio_packed" -> (mmAudioPacked _),
    "mm_image_phash"  -> (mmImagePhash _),
    "mm_image_neardup" -> (mmImageNeardup _),
    "mm_image_phash256" -> (mmImagePhash256 _),
    "mm_image_neardup_mi" -> (mmImageNeardupMi _),
    "mm_resize"       -> (mmResize _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_video_decode" -> (mmVideoDecode _),
    "mm_video_packed" -> (mmVideoPacked _),
    "mm_video_frames" -> (mmVideoFrames _),
    "mm_video_motion" -> (mmVideoMotion _))

  /** The fixture raster, rebuilt in SQL: the PNG writer tiles the doc's
    * ASCII bytes row-major over a w×h grid, so the decoded raster as a
    * byte string is `repeat(text)` truncated to w·h — char == byte on the
    * ASCII fixture, and md5-of-string == md5-of-bytes. Doubles as a PNG
    * encode/decode round-trip check (Spark decodes the materialized
    * FILES, the oracle recomputes from the table). */
  /** Fixture guard shared by the media oracles: they rebuild pixel/PCM
    * truths with `ascii(substring(text, i, 1))` (code points) against
    * byte counts, which is only valid while every document is non-empty
    * ASCII (code point == byte). The committed fixtures are; this CASE
    * makes a future non-ASCII or empty doc fail the oracle LOUDLY
    * (DuckDB `error()` → per-query `err` in the correctness artifact)
    * instead of silently diverging engine from oracle. */
  private val guardedLen =
    "CASE WHEN octet_length(encode(text)) = length(text) AND text <> '' " +
      "THEN octet_length(encode(text)) " +
      "ELSE error('graft media fixture drift: documents.text must be non-empty ASCII') END"

  private val sqlRaster =
    s"""g AS (SELECT doc_id, text, $guardedLen AS n,
      |    ($guardedLen % 13) + 4 AS w,
      |    (($guardedLen // 13) % 11) + 4 AS h
      |  FROM documents),
      |r AS (SELECT doc_id, w, h,
      |    substring(repeat(text, CAST((w * h + n - 1) // n AS INTEGER)),
      |      1, w * h) AS raster
      |  FROM g)""".stripMargin

  /** Per-doc audio truths, rebuilt in SQL: the WAV writer's PCM is the
    * doc's ASCII bytes tiled 16×, so digest = md5(repeat(text,16)), sum =
    * 16 × Σ byte, n_samples = 16·n, duration = 125 µs/sample at 8 kHz. */
  private val sqlAudio =
    s"""au AS (SELECT doc_id, source, text,
      |    $guardedLen AS n FROM documents)""".stripMargin

  /** Per-doc video truths, rebuilt in SQL: frame f's raster is bytes
    * `(f·w·h + i) mod n`, so the frames CONCATENATED in index order are
    * `repeat(text)` truncated to `nf·w·h` — each frame a substring. */
  private val sqlVideo =
    s"""vg AS (SELECT doc_id, text, $guardedLen AS n,
      |    ($guardedLen % 11) + 4 AS w,
      |    (($guardedLen // 11) % 7) + 4 AS h,
      |    ($guardedLen % 5) + 3 AS nf
      |  FROM documents),
      |vr AS (SELECT doc_id, w, h, nf,
      |    substring(repeat(text, CAST((nf * w * h + n - 1) // n AS INTEGER)),
      |      1, nf * w * h) AS allras
      |  FROM vg)""".stripMargin

  /** Whole-clip video decode oracle — shared verbatim by
    * `mm_video_decode` and `mm_video_packed` (the packed probe is
    * byte-identical by design, so ONE oracle gates both). */
  private lazy val sqlVideoDecode: String =
    s"""WITH $sqlVideo
       |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
       |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  md5(allras) AS px_digest,
       |  CAST(list_sum(list_transform(range(1, nf * w * h + 1),
       |    i -> ascii(substring(allras, CAST(i AS INTEGER), 1)))) AS BIGINT) AS px_sum
       |FROM vr ORDER BY doc_id""".stripMargin

  /** Raster decode oracle — shared verbatim by `mm_decode` and
    * `mm_image_packed` (the packed probe is byte-identical by design,
    * so ONE oracle gates both). */
  private lazy val sqlImageDecode: String =
    s"""WITH $sqlRaster
       |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  md5(raster) AS px_digest,
       |  CAST(list_sum(list_transform(range(1, w * h + 1),
       |    i -> ascii(substring(raster, CAST(i AS INTEGER), 1)))) AS BIGINT) AS px_sum
       |FROM r ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "mm_audio_decode" ->
      s"""WITH $sqlAudio
         |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
         |  CAST(n * 16 AS BIGINT) AS n_samples,
         |  CAST(n * 16 * 125 AS BIGINT) AS duration_us,
         |  md5(repeat(text, 16)) AS pcm_digest,
         |  CAST(16 * list_sum(list_transform(range(1, n + 1),
         |    i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS pcm_sum
         |FROM au ORDER BY doc_id""".stripMargin,
    // aHash replayed in SQL off the text-derived raster: same 8×8
    // nearest-pixel sampling, same integer cross-multiplied threshold
    "mm_image_phash" ->
      s"""WITH $sqlRaster,
         |s AS (SELECT doc_id, w, h,
         |    list_transform(range(0, 64), k ->
         |      ascii(substring(raster,
         |        CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1
         |          AS INTEGER), 1))) AS v
         |  FROM r),
         |m AS (SELECT doc_id, w, h, v, list_sum(v) AS sv FROM s)
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  array_to_string(list_transform(v,
         |    x -> CASE WHEN x * 64 > sv THEN '1' ELSE '0' END), '') AS phash
         |FROM m ORDER BY doc_id""".stripMargin,
    // the SAME 8-band algorithm as the engine (lossless at hamming ≤ 7 by
    // pigeonhole), with DuckDB's native hamming() as the exact verifier
    "mm_image_neardup" ->
      s"""WITH $sqlRaster,
         |s AS (SELECT doc_id,
         |    list_transform(range(0, 64), k ->
         |      ascii(substring(raster,
         |        CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1
         |          AS INTEGER), 1))) AS v
         |  FROM r),
         |ph AS (SELECT doc_id, array_to_string(list_transform(v,
         |      x -> CASE WHEN x * 64 > list_sum(v) THEN '1' ELSE '0' END), '')
         |    AS phash
         |  FROM s),
         |bd AS (SELECT doc_id, phash, t.b AS band_idx,
         |    substring(phash, CAST(t.b * 8 + 1 AS INTEGER), 8) AS band
         |  FROM ph, unnest(range(0, 8)) AS t(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    x.phash AS pa, y.phash AS pb
         |  FROM bd x JOIN bd y
         |    ON x.band_idx = y.band_idx AND x.band = y.band
         |      AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(hamming(pa, pb) AS BIGINT) AS hamming
         |FROM cand WHERE hamming(pa, pb) <= 7 ORDER BY a, b""".stripMargin,
    "mm_image_phash256" ->
      s"""WITH $sqlRaster,
         |s AS (SELECT doc_id, w, h,
         |    list_transform(range(0, 256), k ->
         |      ascii(substring(raster,
         |        CAST(((k // 16) * h // 16) * w + ((k % 16) * w // 16) + 1
         |          AS INTEGER), 1))) AS v
         |  FROM r),
         |m AS (SELECT doc_id, w, h, v, list_sum(v) AS sv FROM s)
         |SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  array_to_string(list_transform(v,
         |    x -> CASE WHEN x * 256 > sv THEN '1' ELSE '0' END), '') AS phash256
         |FROM m ORDER BY doc_id""".stripMargin,
    // the SAME 16×16-bit multi-index band algorithm as the engine
    // (lossless at hamming ≤ 15 by pigeonhole), DuckDB hamming() verifies
    "mm_image_neardup_mi" ->
      s"""WITH $sqlRaster,
         |s AS (SELECT doc_id,
         |    list_transform(range(0, 256), k ->
         |      ascii(substring(raster,
         |        CAST(((k // 16) * h // 16) * w + ((k % 16) * w // 16) + 1
         |          AS INTEGER), 1))) AS v
         |  FROM r),
         |ph AS (SELECT doc_id, array_to_string(list_transform(v,
         |      x -> CASE WHEN x * 256 > list_sum(v) THEN '1' ELSE '0' END), '')
         |    AS phash
         |  FROM s),
         |bd AS (SELECT doc_id, phash, t.b AS band_idx,
         |    substring(phash, CAST(t.b * 16 + 1 AS INTEGER), 16) AS band
         |  FROM ph, unnest(range(0, 16)) AS t(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |    x.phash AS pa, y.phash AS pb
         |  FROM bd x JOIN bd y
         |    ON x.band_idx = y.band_idx AND x.band = y.band
         |      AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(hamming(pa, pb) AS BIGINT) AS hamming
         |FROM cand WHERE hamming(pa, pb) <= 15 ORDER BY a, b""".stripMargin,
    // the packed layout must decode to EXACTLY the small-files result —
    // same oracle text as mm_audio_decode, so the pack step is gated by
    // the full clip-level hash, not just row counts
    "mm_audio_packed" ->
      s"""WITH $sqlAudio
         |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
         |  CAST(n * 16 AS BIGINT) AS n_samples,
         |  CAST(n * 16 * 125 AS BIGINT) AS duration_us,
         |  md5(repeat(text, 16)) AS pcm_digest,
         |  CAST(16 * list_sum(list_transform(range(1, n + 1),
         |    i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS pcm_sum
         |FROM au ORDER BY doc_id""".stripMargin,
    // WAV size law: canonical 44-byte RIFF/fmt/data PCM header + 16·n
    // payload (pinned empirically on the fixture; an extra chunk from a
    // future encoder change fails this gate loudly)
    "mm_media_pack" ->
      s"""WITH $sqlAudio
         |SELECT source, count(*) AS n_clips,
         |  CAST(sum(44 + 16 * n) AS BIGINT) AS sum_media_bytes
         |FROM au GROUP BY source ORDER BY source""".stripMargin,
    "mm_audio_agg" ->
      s"""WITH $sqlAudio,
         |d AS (SELECT doc_id, source, n * 16 AS n_samples, n * 16 * 125 AS duration_us,
         |  16 * list_sum(list_transform(range(1, n + 1),
         |    i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS pcm_sum FROM au)
         |SELECT source, count(*) AS n_clips,
         |  CAST(sum(n_samples) AS BIGINT) AS sum_samples,
         |  CAST(sum(duration_us) AS BIGINT) AS sum_duration_us,
         |  CAST(sum(pcm_sum) AS BIGINT) AS sum_pcm
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "mm_audio_energy" ->
      s"""WITH $sqlAudio,
         |fr AS (SELECT doc_id, text, n, CAST(f.f AS BIGINT) AS frame_idx,
         |    f.f * 256 AS lo, least((f.f + 1) * 256, n * 16) AS hi
         |  FROM au, unnest(range(0, (n * 16 + 255) // 256)) AS f(f))
         |SELECT doc_id, frame_idx,
         |  CAST(list_sum(list_transform(range(lo, hi),
         |    i -> ascii(substring(text, CAST((i % n) + 1 AS INTEGER), 1))
         |       * ascii(substring(text, CAST((i % n) + 1 AS INTEGER), 1)))) AS BIGINT)
         |    AS energy,
         |  CAST(hi - lo AS BIGINT) AS frame_len
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_audio_segments" ->
      s"""WITH $sqlAudio,
         |fr AS (SELECT doc_id, text, n, CAST(f.f AS BIGINT) AS frame_idx,
         |    f.f * 256 AS lo, least((f.f + 1) * 256, n * 16) AS hi
         |  FROM au, unnest(range(0, (n * 16 + 255) // 256)) AS f(f)),
         |en AS (SELECT doc_id, frame_idx,
         |    CAST(list_sum(list_transform(range(lo, hi),
         |      i -> ascii(substring(text, CAST((i % n) + 1 AS INTEGER), 1))
         |         * ascii(substring(text, CAST((i % n) + 1 AS INTEGER), 1))))
         |      AS BIGINT) AS energy,
         |    CAST(hi - lo AS BIGINT) AS frame_len
         |  FROM fr),
         |tot AS (SELECT doc_id, sum(energy) AS clip_energy,
         |    sum(frame_len) AS clip_len
         |  FROM en GROUP BY 1),
         |act AS (SELECT en.doc_id, en.frame_idx, en.energy,
         |    en.frame_idx - row_number() OVER (
         |      PARTITION BY en.doc_id ORDER BY en.frame_idx) AS isl
         |  FROM en JOIN tot USING (doc_id)
         |  WHERE en.energy * tot.clip_len > tot.clip_energy * en.frame_len)
         |SELECT doc_id, min(frame_idx) AS start_frame,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(energy) AS BIGINT) AS seg_energy
         |FROM act GROUP BY doc_id, isl
         |ORDER BY doc_id, start_frame""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode" -> sqlImageDecode,
    // same oracle text as mm_decode: the packed image path is
    // byte-identical by construction (shared decode body), so the pack
    // step is gated by the same raster-hash compare
    "mm_image_packed" -> sqlImageDecode,
    "mm_feature_agg" ->
      s"""WITH $sqlRaster,
         |d AS (SELECT doc_id, w,
         |  list_sum(list_transform(range(1, w * h + 1),
         |    i -> ascii(substring(raster, CAST(i AS INTEGER), 1)))) AS px_sum FROM r)
         |SELECT source, count(*) AS n_items,
         |  CAST(sum(w) AS BIGINT) AS sum_width,
         |  CAST(sum(px_sum) AS BIGINT) AS sum_px
         |FROM documents JOIN d USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "mm_resize" ->
      """WITH pos AS (SELECT doc_id, octet_length(encode(text)) AS n, t.i AS i,
        |    ascii(substring(text, CAST(t.i + 1 AS INTEGER), 1)) AS v
        |  FROM documents, unnest(range(0, octet_length(encode(text)))) AS t(i)),
        |docs AS (SELECT DISTINCT doc_id, n FROM pos),
        |cells AS (SELECT doc_id, n, c.c AS c,
        |    (c.c * n) // 64 AS frm,
        |    least(greatest(((c.c + 1) * n) // 64, (c.c * n) // 64 + 1), n) AS til
        |  FROM docs, unnest(range(0, 64)) AS c(c)),
        |cv AS (SELECT cells.doc_id, cells.c, sum(pos.v) // count(*) AS cell
        |  FROM cells JOIN pos ON pos.doc_id = cells.doc_id
        |    AND pos.i >= cells.frm AND pos.i < cells.til
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
        |  CAST(sum(cell) AS BIGINT) AS thumb_sum
        |FROM cv GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(least(256, octet_length(encode(text)) - i*256) AS BIGINT) AS frame_len
        |FROM documents,
        |  unnest(range(0, (octet_length(encode(text)) + 255) // 256, 4)) AS t(i)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_video_decode" -> sqlVideoDecode,
    // same oracle text as mm_video_decode: the packed path is
    // byte-identical by construction (shared decode body), so the pack
    // step is gated by the same whole-clip raster-hash compare
    "mm_video_packed" -> sqlVideoDecode,
    "mm_video_motion" ->
      s"""WITH $sqlVideo,
         |fr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS frame_idx, w, h,
         |    substring(allras, CAST(f.f * w * h + 1 AS INTEGER), w * h) AS ras
         |  FROM vr, unnest(range(0, nf)) AS f(f)),
         |dl AS (SELECT cur.doc_id, cur.frame_idx,
         |    list_transform(range(1, cur.w * cur.h + 1),
         |      i -> abs(ascii(substring(cur.ras, CAST(i AS INTEGER), 1))
         |             - ascii(substring(prv.ras, CAST(i AS INTEGER), 1)))) AS ds
         |  FROM fr cur JOIN fr prv
         |    ON prv.doc_id = cur.doc_id AND prv.frame_idx = cur.frame_idx - 1)
         |SELECT doc_id, frame_idx,
         |  CAST(list_sum(ds) AS BIGINT) AS motion,
         |  CAST(list_max(ds) AS BIGINT) AS max_px_delta
         |FROM dl ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_video_frames" ->
      s"""WITH $sqlVideo,
         |fr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS frame_idx,
         |    substring(allras, CAST(f.f * w * h + 1 AS INTEGER), w * h) AS ras
         |  FROM vr, unnest(range(0, nf)) AS f(f))
         |SELECT doc_id, frame_idx, md5(ras) AS px_digest,
         |  CAST(list_sum(list_transform(range(1, length(ras) + 1),
         |    i -> ascii(substring(ras, CAST(i AS INTEGER), 1)))) AS BIGINT) AS px_sum
         |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)
}
