package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for LLM-data pipelines: image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata structs;
  * decode / feature-extraction runs batch-at-a-time inside mapPartitions
  * (the JVM analogue of arrow-batched UDFs) so per-partition setup — a
  * decoder context, a model session — happens once per task, not per row.
  *
  * The decode and resize steps are REAL: [[ImageIoDecoder]] reads
  * PNG/BMP payloads through the JDK's `javax.imageio` and derives
  * pixel-statistics features; [[ImageResize]] decodes, resamples
  * (nearest-neighbor), and re-encodes. The image fixtures are
  * synthesized deterministically from relational data
  * ([[synthesizeImages]]), so a DuckDB oracle can replay every
  * pixel-derived number without owning a codec: if the decode path read
  * pixels wrongly, the feature hashes would diverge.
  */
object Multimodal {

  final case class MediaMeta(mime: String, width: Int, height: Int)
  final case class MediaRecord(media_id: Long, bytes: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      media_id: Long,
      byte_len: Long,
      content_hash: String,
      n_frames: Long,
      n_sampled: Long,
      feature: Array[Float])

  /** Pluggable decode/feature step, instantiated once per partition. */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float]
  }

  /** Closed-form pixel content for the synthesized image fixtures: each
    * channel of pixel `idx` (row-major, 0-based) is simple modular
    * arithmetic over (media_id, idx) — trivially replayable in SQL, and
    * rich enough that every image differs and every channel differs. */
  object PixelSynth {
    def r(mediaId: Long, idx: Int): Int = ((mediaId + idx) % 256).toInt
    def g(mediaId: Long, idx: Int): Int = ((mediaId * 3 + idx * 5 + 17) % 256).toInt
    def b(mediaId: Long, idx: Int): Int = ((mediaId * 7 + idx * 11 + 41) % 256).toInt
    def argb(mediaId: Long, idx: Int): Int =
      0xff000000 | (r(mediaId, idx) << 16) | (g(mediaId, idx) << 8) | b(mediaId, idx)
  }

  /** PNG-encode an RGB pixel buffer / decode any ImageIO-supported
    * payload (PNG, BMP, JPEG…). `ImageIO.setUseCache(false)` keeps the
    * codec on heap buffers — no per-task temp-file churn. */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false)

    private def encode(argb: Array[Int], w: Int, h: Int,
        format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, argb, 0, w)
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, out),
        s"no ImageIO writer for format '$format'")
      out.toByteArray
    }

    def encodePng(argb: Array[Int], w: Int, h: Int): Array[Byte] =
      encode(argb, w, h, "png")

    def encodeBmp(argb: Array[Int], w: Int, h: Int): Array[Byte] =
      encode(argb, w, h, "bmp")

    def decode(bytes: Array[Byte], mime: String): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null,
        s"payload declared '$mime' did not decode as an image (ImageIO " +
          "returned null) — is the column really an encoded image?")
      img
    }
  }

  /** REAL image decoder (JDK `javax.imageio`: PNG, BMP, JPEG, GIF):
    * features are `[width, height, meanR, meanG, meanB]` — decoded
    * dimensions (not the metadata's claim) and per-channel means,
    * computed as exact integer sums narrowed double→float so the DuckDB
    * oracle reproduces them bit-for-bit from the closed-form pixels. */
  object ImageIoDecoder extends MediaDecoder {
    override def decode(bytes: Array[Byte], meta: MediaMeta): Array[Float] = {
      val img = ImageCodec.decode(bytes, meta.mime)
      val (w, h) = (img.getWidth, img.getHeight)
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var i = 0
      while (i < px.length) {
        sr += (px(i) >> 16) & 0xff; sg += (px(i) >> 8) & 0xff; sb += px(i) & 0xff
        i += 1
      }
      val n = px.length.toDouble
      Array(w.toFloat, h.toFloat,
        (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat)
    }
  }

  /** Stage a media table out of `documents` (text bytes stand in for an
    * encoded payload; the schema is the real multimodal shape). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("bytes"),
      struct(lit("application/octet-stream").as("mime"),
        lit(0).as("width"), lit(0).as("height")).as("meta"))

  /** Synthesize a deterministic PNG media table keyed by `media_id`:
    * every pixel comes from [[PixelSynth]]'s closed form, so any number
    * a decoder derives from the pixels is SQL-replayable even though
    * the encoded PNG bytes themselves are codec-owned. Encoding runs in
    * mapPartitions like every media stage (one codec setup per task). */
  def synthesizeImages(spark: SparkSession, ids: DataFrame, w: Int, h: Int,
      idCol: String = "media_id"): DataFrame = {
    import spark.implicits._
    require(w >= 1 && h >= 1, s"image dimensions must be positive, got ${w}x$h")
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val argb = Array.tabulate(w * h)(i => PixelSynth.argb(id, i))
        MediaRecord(id, ImageCodec.encodePng(argb, w, h),
          MediaMeta("image/png", w, h))
      }
    }.toDF()
  }

  /** Closed-form PCM content for the synthesized audio fixtures — the
    * [[PixelSynth]] idea applied to samples: sample `i` of `media_id` is
    * modular arithmetic shifted to be signed (range −1000..999), so
    * every signal differs, zero crossings abound, and any number a
    * decoder derives from the samples is SQL-replayable. */
  object SampleSynth {
    def s(mediaId: Long, i: Int): Int =
      (((mediaId * 31 + i.toLong * 17) % 2000) - 1000).toInt
  }

  /** REAL WAV codec through the JDK's `javax.sound.sampled`: encode
    * writes a RIFF/WAVE container around 16-bit little-endian mono PCM
    * via `AudioSystem.write`; decode parses any WAV the platform
    * `AudioSystem` reads back to samples. Like [[ImageCodec]], the
    * container bytes are codec-owned — the oracle never sees them, only
    * the sample-derived numbers. */
  object WavCodec {
    def encodePcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val data = java.nio.ByteBuffer.allocate(samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(data.putShort)
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data.array), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    def decodePcm16(bytes: Array[Byte]): (Array[Short], Int) = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
        !fmt.isBigEndian,
        s"expected 16-bit LE mono PCM, got $fmt")
      val raw = ais.readAllBytes()
      val buf = java.nio.ByteBuffer.wrap(raw)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val samples = new Array[Short](raw.length / 2)
      var i = 0
      while (i < samples.length) { samples(i) = buf.getShort; i += 1 }
      (samples, fmt.getSampleRate.toInt)
    }
  }

  /** Synthesize a deterministic WAV media table keyed by `media_id` —
    * the audio analogue of [[synthesizeImages]]. Rides the same
    * [[MediaRecord]] schema; the meta struct's two generic geometry
    * slots carry `width = n_samples`, `height = sample rate` (a media
    * table's meta is codec-specific by nature; one shared shape keeps
    * every media stage composable). */
  def synthesizeAudio(spark: SparkSession, ids: DataFrame, nSamples: Int,
      sampleRate: Int = 8000, idCol: String = "media_id"): DataFrame = {
    import spark.implicits._
    require(nSamples >= 2 && sampleRate >= 1,
      s"need nSamples >= 2 and a positive rate, got $nSamples/$sampleRate")
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val samples = Array.tabulate(nSamples)(i => SampleSynth.s(id, i).toShort)
        MediaRecord(id, WavCodec.encodePcm16(samples, sampleRate),
          MediaMeta("audio/wav", nSamples, sampleRate))
      }
    }.toDF()
  }

  /** REAL audio feature extraction: decode the WAV container, then
    * per-signal `peak` (max |sample|), `zero_crossings` (strict sign
    * flips — a zero sample never counts, so the rule replays without a
    * sign(0) convention), and 6-dp `rms` — the audio-quality trio a
    * speech-corpus pipeline gates on (silence ⇒ rms ≈ 0, clipping ⇒
    * peak at full scale). Integer sums in exact longs/doubles, rounding
    * through the same BigDecimal HALF_UP as Spark's ROUND, so the
    * DuckDB oracle reproduces every number from the closed-form
    * samples — equality proves the codec round-trip read exactly the
    * samples the encoder wrote. */
  def audioFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val (samples, rate) = WavCodec.decodePcm16(rec.bytes)
        var peak = 0L
        var zc = 0L
        var sq = 0.0
        var i = 0
        while (i < samples.length) {
          val v = samples(i).toLong
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && samples(i - 1).toLong * v < 0) zc += 1
          sq += v.toDouble * v.toDouble
          i += 1
        }
        val rms = java.math.BigDecimal
          .valueOf(math.sqrt(sq / samples.length))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        (rec.media_id, samples.length, rate, peak, zc, rms)
      }
    }.toDF("media_id", "n_samples", "sample_rate", "peak",
      "zero_crossings", "rms")
  }

  /** Audio fingerprint (chromaprint-lite — Chromaprint/AcoustID's shape
    * with the FFT chroma stage replaced by time-domain band energies, so
    * every bit replays from the closed-form signal in exact integers):
    * decode the WAV, split the signal into `nWindows · bandsPerWindow`
    * contiguous SEGMENTS by the NN index map `seg(i) = i·segs div n`
    * (the [[ImageResize]]/[[imageAHash]] sampling discipline), energy
    * per segment = Σ v² in exact longs, and bit j is the segment-vs-its-
    * window sign: `energy_j · B > Σ_window energy` (strict, so no mean
    * rounding convention leaks in — the [[imageAHash]] threshold on the
    * audio axis). Loudness-localized edits move only their window's
    * bits; uniform gain moves ALL energies together so most bits hold —
    * the robustness/sensitivity trade every energy-sign fingerprint
    * makes. Returns `(media_id, ahash)` in the shared hash slot
    * ([[matchByHash]]/[[hashNearDupPairs]] consume it unchanged);
    * `nWindows · bandsPerWindow ≤ 63`. */
  def audioFingerprint(spark: SparkSession, media: DataFrame,
      nWindows: Int = 8, bandsPerWindow: Int = 4): DataFrame = {
    import spark.implicits._
    require(nWindows >= 1 && bandsPerWindow >= 1 &&
      nWindows * bandsPerWindow <= 63,
      s"fingerprint must fit a non-negative long, got " +
        s"$nWindows x $bandsPerWindow bits")
    val segs = nWindows * bandsPerWindow
    val bpw = bandsPerWindow
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val (samples, _) = WavCodec.decodePcm16(rec.bytes)
        val n = samples.length
        require(n >= segs,
          s"media ${rec.media_id}: $n samples cannot fill $segs segments")
        val e = new Array[Long](segs)
        var i = 0
        while (i < n) {
          val v = samples(i).toLong
          e((i.toLong * segs / n).toInt) += v * v
          i += 1
        }
        var h = 0L
        var w = 0
        while (w < segs / bpw) {
          var tot = 0L
          var b = 0
          while (b < bpw) { tot += e(w * bpw + b); b += 1 }
          b = 0
          while (b < bpw) {
            val j = w * bpw + b
            if (e(j) * bpw > tot) h |= 1L << j
            b += 1
          }
          w += 1
        }
        (rec.media_id, h)
      }
    }.toDF("media_id", "ahash")
  }

  /** Pluggable payload transform (resize, transcode, crop), instantiated
    * once per partition like [[MediaDecoder]]. */
  trait MediaTransform extends Serializable {
    def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta)
  }

  /** REAL resize: decode (any ImageIO format), nearest-neighbor
    * resample to `w × h`, re-encode as PNG. The sampling is an explicit
    * integer map — `src(x) = x·srcW / dstW` (floor) — rather than a
    * `Graphics2D.drawImage` scale: both are real pixel work on the
    * decoded buffer, but AWT's scaler doesn't pin its sample positions
    * across JDK implementations, and this operator's contract is that a
    * SQL oracle can replay every output pixel exactly. */
  final case class ImageResize(w: Int, h: Int) extends MediaTransform {
    require(w >= 1 && h >= 1, s"target dimensions must be positive, got ${w}x$h")
    override def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta) = {
      val img = ImageCodec.decode(bytes, meta.mime)
      val (sw, sh) = (img.getWidth, img.getHeight)
      val src = img.getRGB(0, 0, sw, sh, null, 0, sw)
      val dst = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val sy = y * sh / h
        var x = 0
        while (x < w) {
          dst(y * w + x) = src(sy * sw + x * sw / w)
          x += 1
        }
        y += 1
      }
      (ImageCodec.encodePng(dst, w, h), MediaMeta("image/png", w, h))
    }
  }

  /** Batch payload transform inside one mapPartitions pass — the resize /
    * transcode stage of a media pipeline; schema in == schema out, so
    * transforms compose and the sink sees the same multimodal shape. */
  def transformMedia(spark: SparkSession, media: DataFrame,
      t: MediaTransform): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val (b2, m2) = t(rec.bytes, rec.meta)
        MediaRecord(rec.media_id, b2, m2)
      }
    }.toDF()
  }

  /** Deterministic pixel perturbation (the re-encode/recompress stand-in
    * for near-dup fixtures): decode, shift the R channel of the first `k`
    * pixels by `delta` modulo 256 (modular, not clamped, so the oracle
    * replays the new value with one `%`), re-encode as PNG. */
  final case class PixelShift(k: Int, delta: Int) extends MediaTransform {
    require(k >= 1 && delta >= 1, s"need positive k/delta, got $k/$delta")
    override def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta) = {
      val img = ImageCodec.decode(bytes, meta.mime)
      val (w, h) = (img.getWidth, img.getHeight)
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < math.min(k, px.length)) {
        val p = px(i)
        val r2 = (((p >> 16) & 0xff) + delta) % 256
        px(i) = (p & 0xff00ffff) | (r2 << 16)
        i += 1
      }
      (ImageCodec.encodePng(px, w, h), MediaMeta("image/png", w, h))
    }
  }

  /** Deterministic sample perturbation — [[PixelShift]]'s audio twin
    * (the transcode/requantize stand-in for near-dup fixtures): decode
    * the WAV, shift the first `k` samples by `delta` wrapping in the
    * 16-bit space (`((v + delta + 32768) mod 65536) − 32768` — modular,
    * not clamped, one `%` for the oracle), re-encode. */
  final case class SampleShift(k: Int, delta: Int) extends MediaTransform {
    require(k >= 1 && delta >= 1, s"need positive k/delta, got $k/$delta")
    override def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta) = {
      val (samples, rate) = WavCodec.decodePcm16(bytes)
      var i = 0
      while (i < math.min(k, samples.length)) {
        samples(i) = (((samples(i).toInt + delta + 32768) % 65536) - 32768).toShort
        i += 1
      }
      (WavCodec.encodePcm16(samples, rate), meta)
    }
  }

  /** Average perceptual hash (aHash — the canonical pHash family member;
    * Krawetz's "Looks Like It"): decode, nearest-neighbor-sample a
    * `gw × gh` grid (the SAME integer map as [[ImageResize]], pinned so a
    * SQL oracle replays every sample position), gray = r+g+b (monotonic
    * in luma, division-free), bit j = gray_j · n > Σgray (strict, so no
    * mean rounding convention leaks in). The hash is scale-invariant
    * under the engine's own NN resize by construction: resize to
    * `(a·gw) × (b·gh)` then hash ≡ hash of the original, which is
    * exactly the invariance image near-dup pipelines buy with pHash.
    * Returns `(media_id, ahash)` with the bit-j-in-position-j layout in
    * a non-negative BIGINT (`gw·gh ≤ 63`). */
  def imageAHash(spark: SparkSession, media: DataFrame, gw: Int, gh: Int): DataFrame = {
    import spark.implicits._
    require(gw >= 1 && gh >= 1 && gw * gh <= 63,
      s"hash grid must fit a non-negative long, got ${gw}x$gh = ${gw * gh} bits")
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val img = ImageCodec.decode(rec.bytes, rec.meta.mime)
        val (sw, sh) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, sw, sh, null, 0, sw)
        val n = gw * gh
        val grays = new Array[Long](n)
        var tot = 0L
        var j = 0
        while (j < n) {
          val sx = (j % gw) * sw / gw
          val sy = (j / gw) * sh / gh
          val p = px(sy * sw + sx)
          val gr = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
          grays(j) = gr; tot += gr; j += 1
        }
        var h = 0L
        j = 0
        while (j < n) { if (grays(j) * n > tot) h |= 1L << j; j += 1 }
        (rec.media_id, h)
      }
    }.toDF("media_id", "ahash")
  }

  /** The literature's FULL 64-bit aHash (8×8 grid — Krawetz's original
    * size; [[imageAHash]] is capped at 63 bits by its BIGINT slot) as a
    * 16-hex signature in the text side's simhash slot: wide media
    * hashes ride the EXISTING 64-bit machinery —
    * [[graft.operators.Dedup.simhashNearDup]]'s 4×16-bit pigeonhole
    * banding and the codegen'd hex_hamming kernel — instead of growing
    * a parallel wide-hash stack. Same NN grid map, same strict mean
    * threshold; bit j lands at two's-complement position j of the
    * `%016x` value. Returns `(sid, simhash)` — the simhashNearDup input
    * shape, media_id in the sid slot. */
  def imageAHashHex(spark: SparkSession, media: DataFrame,
      gw: Int, gh: Int): DataFrame = {
    import spark.implicits._
    require(gw >= 1 && gh >= 1 && gw * gh == 64,
      s"the hex hash is exactly 64 bits (4x16 banding), got ${gw}x$gh")
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val img = ImageCodec.decode(rec.bytes, rec.meta.mime)
        val (sw, sh) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, sw, sh, null, 0, sw)
        val grays = new Array[Long](64)
        var tot = 0L
        var j = 0
        while (j < 64) {
          val sx = (j % gw) * sw / gw
          val sy = (j / gw) * sh / gh
          val p = px(sy * sw + sx)
          val gr = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
          grays(j) = gr; tot += gr; j += 1
        }
        var h = 0L
        j = 0
        while (j < 64) { if (grays(j) * 64 > tot) h |= 1L << j; j += 1 }
        (rec.media_id, f"$h%016x")
      }
    }.toDF("sid", "simhash")
  }

  /** Match each original to its best near-duplicate variant by hash
    * hamming distance, with LSH banding as the candidate generator: a
    * hash of `numBands · bandBits` bits splits into `numBands` bands;
    * two hashes within hamming `maxHam < numBands` must agree on at
    * least one band (pigeonhole), so the band equi-join is EXACT — the
    * same trick the simhash text path uses, on a compact integer hash.
    * Candidates sharing several bands are absorbed by the min-aggregate
    * (no distinct needed). Output is bounded at one row per original:
    * `(media_id, match_id, hamming)`, ties broken by smallest match_id.
    *
    * Scale shape: one keyed equi-join on (band_idx, band_val) + one hash
    * aggregate — no all-pairs anywhere. The candidate volume is
    * Σ_bucket |origs| · |variants| per band bucket, so a DEGENERATE hash
    * distribution (a synth fixture's saturated 32-bit space, a buggy
    * decoder hashing everything equal) turns the join quadratic: the
    * `maxBandBucket` guard is an empty-unless-violated raise_error union
    * branch (the coOccurrenceEdges pattern — executors raise naming the
    * offending band, ~zero cost when healthy, never a join on the hot
    * path). A well-distributed hash holds ~corpus/2^bandBits per bucket;
    * size bands to the corpus and raise the cap deliberately. */
  def matchByHash(origs: DataFrame, variants: DataFrame,
      numBands: Int, bandBits: Int, maxHam: Int,
      maxBandBucket: Int = 100000): DataFrame = {
    require(numBands >= 1 && bandBits >= 1 && numBands * bandBits <= 63,
      s"bands must tile a non-negative long, got $numBands x $bandBits")
    require(maxHam >= 0 && maxHam < numBands,
      s"banding is exact only for maxHam < numBands (pigeonhole), " +
        s"got maxHam=$maxHam with $numBands bands")
    require(maxBandBucket >= 1,
      s"need maxBandBucket >= 1, got $maxBandBucket")
    val mask = (1L << bandBits) - 1
    def banded(df: DataFrame, side: String): DataFrame = df
      .select(col("media_id").as(s"${side}_id"), col("ahash").as(s"${side}_hash"))
      .withColumn("band", explode(array((0 until numBands).map { k =>
        struct(lit(k).as("band_idx"),
          shiftright(col(s"${side}_hash"), k * bandBits)
            .bitwiseAND(lit(mask)).as("band_val"))
      }: _*)))
      .select(col(s"${side}_id"), col(s"${side}_hash"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
    val ob = banded(origs, "o")
    val vb = banded(variants, "v")
    val matched = ob
      .join(vb, Seq("band_idx", "band_val"))
      .withColumn("hamming",
        bit_count(col("o_hash").bitwiseXOR(col("v_hash"))).cast("int"))
      .where(col("hamming") <= maxHam)
      .groupBy(col("o_id").as("media_id"))
      .agg(min(struct(col("hamming"), col("v_id"))).as("best"))
      .select(col("media_id"), col("best.v_id").as("match_id"),
        col("best.hamming").as("hamming"))
    // every output column carries the raise — a literal-null column
    // would let a pushed-down IsNotNull constant-fold the guard away
    val st = matched.schema
    def offenders(b: DataFrame, side: String): DataFrame = {
      val boom = raise_error(concat(
        lit(s"matchByHash: $side band ("), col("band_idx").cast("string"),
        lit(", "), col("band_val").cast("string"), lit(") holds "),
        col("__n").cast("string"),
        lit(s" hashes (cap $maxBandBucket) — the candidate join is " +
          "quadratic per bucket; use more/wider bands or raise " +
          "maxBandBucket deliberately")))
      b.groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBandBucket)
        .select(boom.cast(st("media_id").dataType).as("media_id"),
          boom.cast(st("match_id").dataType).as("match_id"),
          boom.cast(st("hamming").dataType).as("hamming"))
    }
    matched.unionAll(offenders(ob, "origs")).unionAll(offenders(vb, "variants"))
  }

  /** All near-duplicate pairs within `maxHam` inside ONE hash relation —
    * the self-dedup shape ([[matchByHash]] matches across two relations;
    * this one feeds [[graft.operators.Dedup.connectedComponents]] for
    * image dedup clusters, the pHash pipeline's canonical-selection
    * stage). Same banded generation, same pigeonhole exactness, same
    * empty-unless-violated band-bucket guard; each pair emits once
    * (`a_id < b_id`), duplicates from shared bands absorbed by the
    * min-aggregate (hamming is pair-determined, so min is the value).
    * Returns `(a_id, b_id, hamming)`. */
  def hashNearDupPairs(hashes: DataFrame, numBands: Int, bandBits: Int,
      maxHam: Int, maxBandBucket: Int = 100000): DataFrame = {
    require(numBands >= 1 && bandBits >= 1 && numBands * bandBits <= 63,
      s"bands must tile a non-negative long, got $numBands x $bandBits")
    require(maxHam >= 0 && maxHam < numBands,
      s"banding is exact only for maxHam < numBands (pigeonhole), " +
        s"got maxHam=$maxHam with $numBands bands")
    require(maxBandBucket >= 1, s"need maxBandBucket >= 1, got $maxBandBucket")
    val mask = (1L << bandBits) - 1
    def banded(side: String): DataFrame = hashes
      .select(col("media_id").as(s"${side}_id"), col("ahash").as(s"${side}_hash"))
      .withColumn("band", explode(array((0 until numBands).map { k =>
        struct(lit(k).as("band_idx"),
          shiftright(col(s"${side}_hash"), k * bandBits)
            .bitwiseAND(lit(mask)).as("band_val"))
      }: _*)))
      .select(col(s"${side}_id"), col(s"${side}_hash"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
    val ab = banded("a")
    val pairs = ab
      .join(banded("b"), Seq("band_idx", "band_val"))
      .where(col("a_id") < col("b_id"))
      .withColumn("hamming",
        bit_count(col("a_hash").bitwiseXOR(col("b_hash"))).cast("int"))
      .where(col("hamming") <= maxHam)
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("hamming")).as("hamming"))
    val st = pairs.schema
    val boom = raise_error(concat(
      lit("hashNearDupPairs: band ("), col("band_idx").cast("string"),
      lit(", "), col("band_val").cast("string"), lit(") holds "),
      col("__n").cast("string"),
      lit(s" hashes (cap $maxBandBucket) — the candidate join is " +
        "quadratic per bucket; use more/wider bands or raise " +
        "maxBandBucket deliberately")))
    val offenders = ab.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBandBucket)
      .select(boom.cast(st("a_id").dataType).as("a_id"),
        boom.cast(st("b_id").dataType).as("b_id"),
        boom.cast(st("hamming").dataType).as("hamming"))
    pairs.unionAll(offenders)
  }

  /** [[matchByHash]] with the DISTINCT-signature collapse — the scale
    * form for dup-heavy corpora (same argument as
    * [[hashDedupClusters]]): the banded candidate join runs over
    * DISTINCT original hashes × one representative per distinct variant
    * hash, so its volume is bounded by the distinct-hash counts, not by
    * Θ(dup_o · dup_v) media pairs per bucket. Tie-break parity is exact:
    * media-level matchByHash picks `min (hamming, v_id)`, and for a
    * fixed variant hash the minimum media id attains that lexicographic
    * minimum, so `min (hamming, min_vid(vh))` over hashes equals the
    * media-level answer (spec-pinned equal). The verdict maps back to
    * every original via one hash-keyed join. Same pigeonhole exactness
    * requirement and band-bucket guard (now counting distinct hashes —
    * a cap trip means the HASH SPACE degenerated, not the corpus). */
  def matchByHashDistinct(origs: DataFrame, variants: DataFrame,
      numBands: Int, bandBits: Int, maxHam: Int,
      maxBandBucket: Int = 100000): DataFrame = {
    val ov = Iterate.checkpoint(origs) // consumed by distinct + map-back
    val od = ov.select(col("ahash")).distinct()
    // the variant side is consumed TWICE downstream (the banded match
    // and matchByHash's band-bucket guard branch) — without this
    // checkpoint each consumer re-runs the whole variants lineage,
    // typically a full media synthesize/decode pass (measured: one
    // extra ~2.5-3 s job per match query at sf0.1). The checkpointed
    // relation is distinct-hash-sized — guide §8's "decide on small
    // rows": materialize the fingerprint proxy, never the media bytes.
    val vrep = Iterate.checkpoint(variants.groupBy(col("ahash"))
      .agg(min(col("media_id")).as("__vmin")))
    val hm = matchByHash(
      od.select(col("ahash").as("media_id"), col("ahash")),
      vrep.select(col("__vmin").as("media_id"), col("ahash")),
      numBands, bandBits, maxHam, maxBandBucket)
    // matchByHash's own tie-break ranks (hamming, media_id) and the
    // variant side's ids ARE the per-hash min media ids — so its winner
    // is the media-level winner already
    ov.join(hm.select(col("media_id").as("__oh"),
        col("match_id"), col("hamming")),
      ov("ahash") === col("__oh"))
      .select(col("media_id"), col("match_id"), col("hamming"))
  }

  /** Corpus media triage — the PERMISSIVE decode pass a crawl pipeline
    * runs BEFORE the decode-heavy stages: every downstream operator here
    * ([[imageAHash]], [[audioFingerprint]], [[videoFingerprint]],
    * [[extractFeatures]]) fails fast on a broken payload BY DESIGN
    * (silently skipping media inside a fingerprint pass would corrupt
    * dedup clusters invisibly), so at 100 TB the job-level contract is:
    * triage first, route the failures to a quarantine sink, run the
    * strict operators on the verified remainder. Attempts the full
    * container+codec decode by mime family (image via ImageIO, audio
    * via the WAV codec, the GVID container frame-by-frame)
    * and emits ONE verdict per medium: `(media_id, mime, ok, err)` with
    * `err` the exception's class+message (null when ok) — a corrupt
    * byte stream becomes a row, never a task failure. Unknown mimes are
    * `ok = false` with a named reason (an unroutable payload is not a
    * healthy one). Only `NonFatal` decode errors become verdicts: a
    * fatal executor error (OutOfMemoryError, LinkageError) is
    * INFRASTRUCTURE failure, not data corruption — it must kill the
    * task and surface, not hide as an `ok = false` row at 100 TB.
    * Map-only. */
  def mediaTriage(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val verdict = triageAttempt {
          if (rec.meta.mime.startsWith("image/")) {
            ImageCodec.decode(rec.bytes, rec.meta.mime); Right(())
          } else if (rec.meta.mime.startsWith("audio/")) {
            WavCodec.decodePcm16(rec.bytes); Right(())
          } else if (rec.meta.mime == "video/x-graft-gvid") {
            val (_, _, frames) = GvidCodec.decode(rec.bytes)
            frames.foreach(f => ImageCodec.decode(f, "image/png"))
            Right(())
          } else Left(s"unroutable mime '${rec.meta.mime}'")
        }
        (rec.media_id, rec.meta.mime, verdict.isRight,
          verdict.left.toOption.orNull)
      }
    }.toDF("media_id", "mime", "ok", "err")
  }

  /** [[mediaTriage]]'s catch discipline, factored for direct test: a
    * `NonFatal` decode failure becomes a `Left` verdict; a fatal VM
    * error (OutOfMemoryError, LinkageError) PROPAGATES and kills the
    * task — infrastructure failure must never masquerade as data
    * corruption. */
  private[graft] def triageAttempt(attempt: => Either[String, Unit])
      : Either[String, Unit] =
    try attempt
    catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }

  /** Deterministic header corruption — the triage fixture's fault
    * injector: zero the payload's first `k` bytes (magic/signature), so
    * every real codec rejects it deterministically. */
  final case class CorruptHeader(k: Int) extends MediaTransform {
    require(k >= 1, s"need k >= 1, got $k")
    override def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta) = {
      val out = bytes.clone()
      var i = 0
      while (i < math.min(k, out.length)) { out(i) = 0; i += 1 }
      (out, meta)
    }
  }

  /** Benchmark decontamination on the perceptual-hash axis — the
    * multimodal member of the decontamination family (n-gram:
    * `Dedup.contaminationReport`; embedding: `Similarity
    * .semanticDecontaminate`; bloom: q_d11): a corpus medium is
    * contaminated when its hash sits within `maxHam` of ANY benchmark
    * medium's hash — eval images/audio/video leaking into training data
    * survive re-encodes that exact byte matching misses, which is
    * precisely what the perceptual hash family absorbs. Runs entirely on
    * the DISTINCT-signature collapse ([[matchByHashDistinct]]'s
    * argument): distinct corpus hashes × one representative per
    * benchmark hash through the pigeonhole-exact banded join, verdicts
    * mapped back over the corpus with one hash-keyed join. Emits a
    * verdict PER CORPUS MEDIUM (the semanticDecontaminate contract —
    * observability over silent drops; an empty benchmark keeps
    * everything): `(media_id, min_bench_hamming, kept)` with
    * `min_bench_hamming` null when no benchmark hash is inside the
    * banded reach and `kept = (min_bench_hamming IS NULL)`. */
  def hashDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      numBands: Int, bandBits: Int, maxHam: Int,
      maxBandBucket: Int = 100000): DataFrame = {
    val c = Iterate.checkpoint(corpus) // consumed by distinct + map-back
    val cd = c.select(col("ahash")).distinct()
    // benchmark side consumed twice (banded match + band-bucket guard):
    // checkpoint the distinct-hash-sized representative relation so the
    // benchmark media lineage decodes once (the matchByHashDistinct
    // argument)
    val brep = Iterate.checkpoint(benchmark.groupBy(col("ahash"))
      .agg(min(col("media_id")).as("__bid")))
    val hm = matchByHash(
      cd.select(col("ahash").as("media_id"), col("ahash")),
      brep.select(col("__bid").as("media_id"), col("ahash")),
      numBands, bandBits, maxHam, maxBandBucket)
    c.join(hm.select(col("media_id").as("__h"),
        col("hamming").as("min_bench_hamming")),
      c("ahash") === col("__h"), "left")
      .select(col("media_id"), col("min_bench_hamming"),
        col("min_bench_hamming").isNull.as("kept"))
  }

  /** Hash dedup clusters with the DISTINCT-signature collapse — the
    * scale form of `connectedComponents(hashNearDupPairs(...))` for
    * dup-HEAVY corpora (the exact case dedup exists for): a corpus of
    * N media over D distinct hashes has Θ(Σ dup²) media-level near-dup
    * pairs — quadratic in the duplicate multiplicity — but the SAME
    * components fall out of the D-node hash graph (equal hashes are
    * distance 0, so multiplicity never splits a component). Pipeline:
    * distinct hashes → banded near-dup pairs over hash VALUES as node
    * ids (pigeonhole-exact + band-bucket guard, unchanged) → CC on the
    * hash graph → map components back over the corpus with the min
    * media_id as the label (one keyed join against the hashes-sized
    * component relation). Media whose component holds a single row are
    * excluded, exactly like the edge-driven media-level CC. Returns
    * `(node, component)` — provably equal to the media-level composition
    * (spec-pinned), at Θ(corpus + D²-bounded pairs) instead of
    * Θ(pairs). */
  def hashDedupClusters(hashes: DataFrame, numBands: Int, bandBits: Int,
      maxHam: Int, maxBandBucket: Int = 100000): DataFrame = {
    // one stage boundary: three consumers (distinct, the tag join, the
    // component aggregate) would each replay the upstream hash
    // computation — typically a full media decode — without it
    val h = Iterate.checkpoint(hashes)
    val distinct = h.select(col("ahash")).distinct()
    val hp = hashNearDupPairs(
      distinct.select(col("ahash").as("media_id"), col("ahash")),
      numBands, bandBits, maxHam, maxBandBucket)
    val hcc = Dedup.connectedComponents(hp) // (node = hash value, component)
    val hcomp = distinct
      .join(hcc.withColumnRenamed("node", "ahash"), Seq("ahash"), "left")
      .select(col("ahash"),
        coalesce(col("component"), col("ahash")).as("__hc"))
    // hcomp/comps are distinct-hashes-sized: small in the dup-heavy case
    // this operator targets, corpus-sized only when nothing duplicates —
    // no broadcast hint, AQE picks the join side at runtime
    val tagged = h.join(hcomp, Seq("ahash"))
    val comps = tagged.groupBy(col("__hc"))
      .agg(min(col("media_id")).as("component"), count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    tagged.join(comps, Seq("__hc"))
      .select(col("media_id").as("node"), col("component"))
  }

  /** Length-prefixed PNG-frame video container ("GVID"): 4-byte magic,
    * big-endian int32 width/height/frame-count, then per frame
    * `[int32 len][png bytes]` — the MJPEG idea with an explicit index.
    * The JDK ships no real video demuxer, so the container is ours (and
    * documented), but every FRAME is a real ImageIO PNG: the
    * video-pipeline shape — container parse → frame sample → per-frame
    * decode → temporal feature — runs on genuine codec work, exactly
    * like the image and audio paths. */
  object GvidCodec {
    private val Magic = Array[Byte]('G', 'V', 'I', 'D')

    def encode(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val dos = new java.io.DataOutputStream(out)
      dos.write(Magic)
      dos.writeInt(w); dos.writeInt(h); dos.writeInt(frames.length)
      frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
      out.toByteArray
    }

    /** Parse the container: (w, h, frame payloads). */
    def decode(bytes: Array[Byte]): (Int, Int, IndexedSeq[Array[Byte]]) = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic.sameElements(Magic), "not a GVID payload")
      val (w, h, n) = (in.readInt(), in.readInt(), in.readInt())
      val frames = (0 until n).map { _ =>
        val f = new Array[Byte](in.readInt()); in.readFully(f); f
      }
      (w, h, frames)
    }
  }

  /** Synthesize deterministic videos: frame `f`'s pixel `i` is
    * [[PixelSynth]] at flat index `f·w·h + i`, so frames differ and the
    * oracle replays every sampled pixel. Each frame is a REAL PNG. */
  def synthesizeVideos(spark: SparkSession, ids: DataFrame, w: Int, h: Int,
      nFrames: Int, idCol: String = "media_id"): DataFrame = {
    import spark.implicits._
    require(w >= 1 && h >= 1 && nFrames >= 1,
      s"need positive dims/frames, got ${w}x$h x$nFrames")
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val frames = (0 until nFrames).map { f =>
          val argb = Array.tabulate(w * h)(i => PixelSynth.argb(id, f * w * h + i))
          ImageCodec.encodePng(argb, w, h)
        }
        MediaRecord(id, GvidCodec.encode(frames, w, h),
          MediaMeta("video/x-graft-gvid", w, h))
      }
    }.toDF()
  }

  /** Video fingerprint — the third modality's near-dup signature
    * (images: [[imageAHash]]; audio: [[audioFingerprint]]): parse the
    * GVID container, sample every `sampleEvery`-th frame (the
    * [[videoFeatures]] cadence), ImageIO-decode each sampled frame and
    * take its `gw × gh` aHash bits (same NN grid map, same strict
    * per-frame mean threshold), concatenating sample ordinal `s`'s bits
    * at positions `[s·gw·gh, (s+1)·gw·gh)`. A frame-local edit moves
    * only its own frame's bit block — the temporal locality banding
    * exploits; a re-encode that preserves pixels moves nothing. Videos
    * with fewer than `maxSamples` sampled frames leave the tail bits 0
    * (documented padding — short videos still fingerprint). Returns
    * `(media_id, ahash)` in the shared hash slot;
    * `maxSamples·gw·gh ≤ 63`. */
  def videoFingerprint(spark: SparkSession, media: DataFrame,
      gw: Int, gh: Int, sampleEvery: Int, maxSamples: Int): DataFrame = {
    import spark.implicits._
    require(gw >= 1 && gh >= 1 && sampleEvery >= 1 && maxSamples >= 1 &&
      maxSamples * gw * gh <= 63,
      s"fingerprint must fit a non-negative long, got " +
        s"$maxSamples x ${gw}x$gh bits")
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val (sw, sh, frames) = GvidCodec.decode(rec.bytes)
        require(frames.nonEmpty, s"media ${rec.media_id}: empty video")
        val n = gw * gh
        var h = 0L
        val sampled = frames.indices.by(sampleEvery).take(maxSamples)
        sampled.zipWithIndex.foreach { case (fi, s) =>
          val img = ImageCodec.decode(frames(fi), "image/png")
          val px = img.getRGB(0, 0, sw, sh, null, 0, sw)
          val grays = new Array[Long](n)
          var tot = 0L
          var j = 0
          while (j < n) {
            val sx = (j % gw) * sw / gw
            val sy = (j / gw) * sh / gh
            val p = px(sy * sw + sx)
            val gr = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
            grays(j) = gr; tot += gr; j += 1
          }
          j = 0
          while (j < n) {
            if (grays(j) * n > tot) h |= 1L << (s * n + j)
            j += 1
          }
        }
        (rec.media_id, h)
      }
    }.toDF("media_id", "ahash")
  }

  /** Per-frame aHash relation — [[videoFingerprint]]'s building block
    * exposed as rows `(media_id, frame_idx, fhash)`: every frame of
    * the GVID container ImageIO-decoded and hashed on the same
    * `gw × gh` NN grid with the same strict per-frame mean threshold.
    * The temporal RELATION (not the packed signature) is what
    * sequence-level video analysis consumes — scene cuts, per-frame
    * dedup, sampling plans. Codec work in `mapPartitions` (the one
    * place it's right); `gw·gh ≤ 63`. */
  def videoFrameHashes(spark: SparkSession, media: DataFrame,
      gw: Int, gh: Int): DataFrame = {
    import spark.implicits._
    require(gw >= 1 && gh >= 1 && gw * gh <= 63,
      s"frame hash must fit a non-negative long, got ${gw}x$gh bits")
    media.as[MediaRecord].mapPartitions { it =>
      it.flatMap { rec =>
        val (sw, sh, frames) = GvidCodec.decode(rec.bytes)
        require(frames.nonEmpty, s"media ${rec.media_id}: empty video")
        val n = gw * gh
        frames.indices.map { fi =>
          val img = ImageCodec.decode(frames(fi), "image/png")
          val px = img.getRGB(0, 0, sw, sh, null, 0, sw)
          val grays = new Array[Long](n)
          var tot = 0L
          var j = 0
          while (j < n) {
            val sx = (j % gw) * sw / gw
            val sy = (j / gw) * sh / gh
            val p = px(sy * sw + sx)
            val gr = (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
            grays(j) = gr; tot += gr; j += 1
          }
          var h = 0L
          j = 0
          while (j < n) {
            if (grays(j) * n > tot) h |= 1L << j
            j += 1
          }
          (rec.media_id, fi.toLong, h)
        }
      }
    }.toDF("media_id", "frame_idx", "fhash")
  }

  /** Scene-cut detection over a [[videoFrameHashes]] relation — the
    * shot-boundary pass every video-curation pipeline runs before
    * frame sampling (sampling INSIDE a shot is redundant; sampling
    * ACROSS cuts is coverage): a cut is a consecutive-frame pair whose
    * aHash hamming distance reaches `tauBits` (perceptual hashes move
    * a few bits within a shot, many at a hard cut). One
    * media-partitioned lag window (frames-per-video bounded — never a
    * corpus sort) + one hash aggregation. Returns `(media_id,
    * n_frames, n_cuts, max_jump)` — `max_jump` the largest
    * consecutive-frame distance (null for single-frame videos:
    * nothing consecutive ≠ a zero jump). */
  def videoSceneCuts(frameHashes: DataFrame, tauBits: Int): DataFrame = {
    require(tauBits >= 1 && tauBits <= 63,
      s"tauBits must be in [1, 63], got $tauBits")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frameHashes
      .withColumn("__prev", lag(col("fhash"), 1).over(w))
      .withColumn("__jump", when(col("__prev").isNotNull,
        expr("bit_count(fhash ^ __prev)").cast("long")))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        coalesce(sum(when(col("__jump") >= tauBits, 1L).otherwise(0L)),
          lit(0L)).as("n_cuts"),
        max(col("__jump")).as("max_jump"))
  }

  /** [[PixelShift]] scoped to one FRAME of a GVID video — the
    * frame-local re-encode stand-in for video near-dup fixtures:
    * decode the container, shift the R channel of the first `k` pixels
    * of frame `frame` by `delta` modulo 256, re-encode that frame's
    * PNG, repack the container. */
  final case class FramePixelShift(frame: Int, k: Int, delta: Int)
      extends MediaTransform {
    require(frame >= 0 && k >= 1 && delta >= 1,
      s"need frame >= 0 and positive k/delta, got $frame/$k/$delta")
    override def apply(bytes: Array[Byte], meta: MediaMeta): (Array[Byte], MediaMeta) = {
      val (w, h, frames) = GvidCodec.decode(bytes)
      require(frame < frames.length,
        s"frame $frame out of range (${frames.length} frames)")
      val img = ImageCodec.decode(frames(frame), "image/png")
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var i = 0
      while (i < math.min(k, px.length)) {
        val p = px(i)
        val r2 = (((p >> 16) & 0xff) + delta) % 256
        px(i) = (p & 0xff00ffff) | (r2 << 16)
        i += 1
      }
      val out = frames.updated(frame, ImageCodec.encodePng(px, w, h))
      (GvidCodec.encode(out, w, h), meta)
    }
  }

  /** REAL video feature extraction: parse the container, sample every
    * k-th frame, ImageIO-decode each sampled frame, and derive EXACT
    * INTEGER signal features — per-channel pixel sums across the
    * sampled frames and `motion_r` = Σ |sumR(next) − sumR(prev)| over
    * consecutive sampled frames (the cheap scene-change signal a video
    * curation pipeline thresholds on). All-integer outputs make the
    * oracle replay trivially exact. Returns `(media_id, n_frames,
    * n_sampled, sum_r, sum_g, sum_b, motion_r)`. */
  def videoFeatures(spark: SparkSession, media: DataFrame,
      sampleEvery: Int): DataFrame = {
    import spark.implicits._
    require(sampleEvery >= 1, s"sampleEvery must be positive, got $sampleEvery")
    media.as[MediaRecord].mapPartitions { it =>
      it.map { rec =>
        val (w, h, frames) = GvidCodec.decode(rec.bytes)
        val sampled = frames.indices.by(sampleEvery).map(frames)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var motion = 0L
        var prevR = -1L
        sampled.foreach { png =>
          val img = ImageCodec.decode(png, rec.meta.mime)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          var (fr, fg, fb) = (0L, 0L, 0L)
          var i = 0
          while (i < px.length) {
            fr += (px(i) >> 16) & 0xff; fg += (px(i) >> 8) & 0xff; fb += px(i) & 0xff
            i += 1
          }
          sr += fr; sg += fg; sb += fb
          if (prevR >= 0) motion += math.abs(fr - prevR)
          prevR = fr
        }
        (rec.media_id, frames.length.toLong, sampled.length.toLong,
          sr, sg, sb, motion)
      }
    }.toDF("media_id", "n_frames", "n_sampled", "sum_r", "sum_g", "sum_b",
      "motion_r")
  }

  /** One source of truth for the frame-accounting contract shared by
    * [[frameStats]] and [[extractFeatures]]: ceil-div frame count,
    * ceil-div every-k sampled-frame count, hex md5 content hash.
    * Returns `(byte_len, content_hash, n_frames, n_sampled)`. */
  private def frameAccounting(md: java.security.MessageDigest,
      bytes: Array[Byte], frameBytes: Int,
      sampleEvery: Int): (Long, String, Long, Long) = {
    val len = bytes.length.toLong
    val nFrames = (len + frameBytes - 1) / frameBytes
    val nSampled = (nFrames + sampleEvery - 1) / sampleEvery
    md.reset()
    (len, md.digest(bytes).map("%02x".format(_)).mkString, nFrames, nSampled)
  }

  /** Frame accounting over OPAQUE payloads (audio/video chunking shape):
    * fixed-size frame split + every-k sampling, no decode — the stage a
    * pipeline runs on media it only ships, never interprets. Same
    * mapPartitions discipline; returns the [[MediaFeatures]] columns
    * minus the feature vector. */
  def frameStats(spark: SparkSession, media: DataFrame,
      frameBytes: Int, sampleEvery: Int): DataFrame = {
    import spark.implicits._
    require(frameBytes >= 1 && sampleEvery >= 1,
      s"frameBytes/sampleEvery must be positive, got $frameBytes/$sampleEvery")
    media.as[MediaRecord].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { rec =>
        val (len, hash, nFrames, nSampled) =
          frameAccounting(md, rec.bytes, frameBytes, sampleEvery)
        (rec.media_id, len, hash, nFrames, nSampled)
      }
    }.toDF("media_id", "byte_len", "content_hash", "n_frames", "n_sampled")
  }

  /** Batch feature extraction: fixed-size frame split + every-k sampling
    * + per-frame-batch decode, all inside one mapPartitions pass. */
  def extractFeatures(spark: SparkSession, media: DataFrame,
      decoder: MediaDecoder, frameBytes: Int, sampleEvery: Int): Dataset[MediaFeatures] = {
    import spark.implicits._
    require(frameBytes >= 1 && sampleEvery >= 1,
      s"frameBytes/sampleEvery must be positive, got $frameBytes/$sampleEvery")
    media.as[MediaRecord].mapPartitions { it =>
      // per-partition setup happens HERE (decoder context, buffers)
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { rec =>
        val (len, hash, nFrames, nSampled) =
          frameAccounting(md, rec.bytes, frameBytes, sampleEvery)
        MediaFeatures(rec.media_id, len, hash, nFrames, nSampled,
          decoder.decode(rec.bytes, rec.meta))
      }
    }
  }

  /** Paired image-text alignment curation — the CROSS-modal gate
    * (Schuhmann et al. 2021, LAION-400M: CLIP-score filtering): a
    * multimodal training record is an (image embedding, text embedding)
    * PAIR, and it ships only if the two sides agree. Per pair, the
    * 6-dp cosine between its own sides in integer micros
    * (`round(round(cos, 6)·1e6)` — the [[Similarity.bitextMarginTopK]]
    * quantization, so the gate compare is an exact long), the
    * `aligned` verdict (`cos_micros ≥ tauMicros`), plus MISMATCHED-PAIR
    * MINING: for each pair selected by `minePred`, the single OTHER
    * pair whose text matches this pair's image best (`alt_id`,
    * `alt_micros`, ties by lower id — the [[Similarity.perQueryTopK]]
    * contract), and `mismatched = alt_micros > cos_micros` (an image
    * that prefers a DIFFERENT caption over its own is mislabeled data,
    * not merely weakly aligned data).
    *
    * Scale shape: the gate is MAP-ONLY (the pair's two vectors sit on
    * one row — no join, no shuffle). Mining is one bounded top-k pass:
    * the `minePred` slice of images BROADCASTS (the
    * [[Similarity.bruteForceTopK]] queryPred contract — mine an audit
    * sample or a suspect source, not the corpus; at full-corpus scale
    * feed LSH/IVF candidate pairs instead), the text side streams
    * map-only, and ≤ 1 (score, id) pair per image per map task ever
    * shuffles. Null or zero-norm embeddings have no defined cosine:
    * the pair surfaces with `cos_micros` null and `aligned = false`
    * (a verdict per pair — the [[Similarity.semanticDecontaminate]]
    * observability stance), its text never ranks as a mining
    * candidate, and `mismatched` stays false without a baseline to
    * compare against. Pair ids must be integral (they ride the bounded
    * ranking buffer as longs). Returns `(<idCol>, <srcCol>,
    * cos_micros, aligned, alt_id, alt_micros, mismatched)`. */
  def pairAlignment(pairs: DataFrame, idCol: String, srcCol: String,
      imgCol: String, txtCol: String, tauMicros: Long,
      minePred: org.apache.spark.sql.Column): DataFrame = {
    val (verdicts, queries, cands) =
      pairAlignmentCore(pairs, idCol, srcCol, imgCol, txtCol, tauMicros,
        minePred)
    val scored = Par.spread(cands).crossJoin(broadcast(queries))
      .filter(col("__cid") =!= col("__qid"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(round(Similarity.nativeDot(col("__qv"), col("__cv"))
          / (col("__qn") * col("__cn")), 6) * 1e6).cast("long")
          .cast("double").as("score"))
    pairAlignmentTail(verdicts, scored, idCol, srcCol)
  }

  /** [[pairAlignment]] with the mining candidates supplied EXPLICITLY —
    * the full-corpus-scale path: when the slice to mine is itself
    * corpus-sized, the brute-force broadcast is the wrong plan; feed a
    * blocked candidate relation instead (sign-LSH bucket co-members via
    * [[Similarity.lshBuckets]], shared IVF lists, or any blocking the
    * caller trusts) and mining becomes two KEYED equi-joins + the same
    * bounded top-1 — no broadcast, no cross join, shuffles keyed on
    * pair ids. `candidates(query_id, cand_id)` pairs image `query_id`
    * against text `cand_id`; self-pairs and candidates with an invalid
    * side drop exactly as in the brute-force path, so with a candidate
    * set that CONTAINS each image's true best text the output is
    * IDENTICAL to [[pairAlignment]] (spec-pinned); a candidate set that
    * misses it under-reports `alt_micros` — candidate recall bounds
    * mining recall, the standard ANN trade. Gate semantics unchanged
    * (every pair is gated; only mining is candidate-driven). */
  def pairAlignmentWith(pairs: DataFrame, idCol: String, srcCol: String,
      imgCol: String, txtCol: String, tauMicros: Long,
      candidates: DataFrame): DataFrame = {
    val (verdicts, queries, cands) =
      pairAlignmentCore(pairs, idCol, srcCol, imgCol, txtCol, tauMicros,
        lit(true))
    val scored = candidates
      .select(col("query_id").as("__qid"), col("cand_id").as("__cid"))
      .filter(col("__cid") =!= col("__qid"))
      .join(queries, Seq("__qid"))
      .join(cands, Seq("__cid"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(round(Similarity.nativeDot(col("__qv"), col("__cv"))
          / (col("__qn") * col("__cn")), 6) * 1e6).cast("long")
          .cast("double").as("score"))
    pairAlignmentTail(verdicts, scored, idCol, srcCol)
  }

  /** Shared gate + mining-side preparation: per-pair verdicts plus the
    * valid-image query and valid-text candidate relations. */
  private def pairAlignmentCore(pairs: DataFrame, idCol: String,
      srcCol: String, imgCol: String, txtCol: String, tauMicros: Long,
      minePred: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame, DataFrame) = {
    require(tauMicros >= -1000000L && tauMicros <= 1000000L,
      s"tau is micros of cosine in [-1e6, 1e6], got $tauMicros")
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(Similarity.nativeDot(c, c))
    val base = pairs.select(col(idCol), col(srcCol),
        col(imgCol).as("__iv"), col(txtCol).as("__tv"), minePred.as("__mine"))
      .withColumn("__in", when(col("__iv").isNotNull, nrm(col("__iv"))))
      .withColumn("__tn", when(col("__tv").isNotNull, nrm(col("__tv"))))
    val verdicts = base.withColumn("cos_micros",
        when(col("__in") > 0 && col("__tn") > 0,
          round(round(Similarity.nativeDot(col("__iv"), col("__tv"))
            / (col("__in") * col("__tn")), 6) * 1e6).cast("long")))
      .withColumn("aligned",
        coalesce(col("cos_micros") >= tauMicros, lit(false)))
    val queries = verdicts.filter(col("__mine") && col("__in") > 0)
      .select(col(idCol).as("__qid"), col("__iv").as("__qv"),
        col("__in").as("__qn"))
    val cands = verdicts.filter(col("__tn") > 0)
      .select(col(idCol).as("__cid"), col("__tv").as("__cv"),
        col("__tn").as("__cn"))
    (verdicts, queries, cands)
  }

  /** Shared mining tail: bounded top-1 + the verdict join. */
  private def pairAlignmentTail(verdicts: DataFrame, scored: DataFrame,
      idCol: String, srcCol: String): DataFrame = {
    val alt = Similarity.perQueryTopK(scored, 1)
      .select(col("query_id").as(idCol), col("neighbor_id").as("alt_id"),
        col("score").cast("long").as("alt_micros"))
    verdicts.join(alt, Seq(idCol), "left")
      .select(col(idCol), col(srcCol), col("cos_micros"), col("aligned"),
        col("alt_id"), col("alt_micros"),
        coalesce(col("alt_micros") > col("cos_micros"), lit(false))
          .as("mismatched"))
  }

  /** IVF-blocked mining candidates for [[pairAlignmentWith]] — the
    * scale-grade candidate generator the fixed-plane LSH blocking is
    * not (the committed `pairmine` probe: fixed planes are a constant-
    * factor cut of a still-quadratic relation; IVF list size tracks
    * corpus/centroids, so co-list candidate work stays linear when
    * centroid count grows with the corpus — the [[Similarity.ivfTopK]]
    * economics applied to pair mining). TEXT sides index into one
    * inverted list each ([[Similarity.assignToCentroids]] against the
    * first-`numCentroids` text centroids); each IMAGE probes its
    * `nProbe` nearest lists (the probe-selection shape of
    * [[Similarity.ivfTopK]]: broadcast centroids, map-side scoring, a
    * bounded top-nProbe — the query vector never rides the probe
    * shuffle); candidates are the probed lists' texts via one KEYED
    * equi-join on centroid_id. Candidate recall bounds mining recall
    * (the standard ANN trade): raise `nProbe` toward `numCentroids`
    * for recall, lower it for cost — the registered q_m21 pins 100%
    * recall on its fixture by sharing q_m18's brute-force oracle, so a
    * recall miss is a red correctness row, not a silent quality leak.
    * Returns `(query_id, cand_id)`. */
  def ivfPairCandidates(pairs: DataFrame, idCol: String, imgCol: String,
      txtCol: String, numCentroids: Int, nProbe: Int): DataFrame = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(nProbe >= 1 && nProbe <= numCentroids,
      s"nProbe must be in [1, numCentroids], got $nProbe")
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(Similarity.nativeDot(c, c))
    val txts = pairs.filter(col(txtCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        col(txtCol).cast("array<float>").as("embedding"))
    val cents = Similarity.firstNCentroids(txts, numCentroids,
      "vec_id", "embedding")
    val lists = Similarity.assignToCentroids(txts, cents,
        "vec_id", "embedding")
      .select(col("vec_id").as("cand_id"), col("centroid_id"))
    val centsN = broadcast(cents.select(col("centroid_id"), col("cv"),
      nrm(col("cv")).as("cn")))
    val probeScores = pairs.filter(col(imgCol).isNotNull)
      .select(col(idCol).as("query_id"),
        col(imgCol).cast("array<float>").as("qv"))
      .withColumn("qn", nrm(col("qv")))
      .crossJoin(centsN)
      .select(col("query_id"), col("centroid_id"),
        round(Similarity.nativeDot(col("qv"), col("cv"))
          / (col("qn") * col("cn")), 6).as("cscore"))
    Similarity.perQueryTopK(probeScores, nProbe,
        idName = "centroid_id", scoreName = "cscore")
      .select(col("query_id"), col("centroid_id"))
      .join(lists, Seq("centroid_id"))
      .select(col("query_id"), col("cand_id"))
  }

  /** Per-source alignment-rate audit over [[pairAlignment]] verdicts —
    * the [[Profile.gateParity]] four-fifths shape applied to the
    * cross-modal gate: a source whose pairs align at a fraction of the
    * best source's rate is shipping miscaptioned data wholesale, and
    * the curator should see that BEFORE the gate silently reshapes the
    * mix. One hash aggregation over the verdict relation. */
  def pairAlignmentParity(verdicts: DataFrame, srcCol: String,
      minParityPpm: Long = 800000L): DataFrame =
    Profile.gateParity(verdicts.select(col(srcCol), col("aligned")),
      srcCol, "aligned", minParityPpm)

  /** Interleaved image-text document assembly (the MMC4 recipe, Zhu et
    * al. 2023: images re-attach to a page's text by max CLIP similarity
    * against its sentence chunks) — the layout step between
    * [[pairAlignment]]'s gate and a multimodal trainer: each image of a
    * document is ASSIGNED to the document's best-matching text chunk,
    * so the render order interleaves images at their chunk positions.
    * Similarity is the 6-dp integer-micro cosine (the [[pairAlignment]]
    * arithmetic); the per-image argmax is the packed-long `max_by` hash
    * aggregate ([[Similarity.assignToCentroids]]'s shape — no sort, no
    * window), ties to the LOWEST chunk id (earliest position — the
    * deterministic render choice). Chunk ids must be small non-negative
    * ordinals (< 2³², the packing contract — per-document chunk
    * positions, not global ids); a violating id trips an in-plan raise
    * on the value path rather than silently corrupting the packed
    * argmax and its tie direction.
    *
    * Scale shape: images join chunks on the DOCUMENT key only —
    * within-page candidates, never a corpus cross product; per-doc
    * work is images × chunks (pages have tens of chunks, single-digit
    * images), and a doc fanning past `maxChunksPerDoc` valid chunks
    * trips an in-plan raise (the dpoPairs cap discipline) instead of
    * quietly exploding. Images with a null/zero-norm embedding, or
    * docs with no valid chunk, surface with `chunk_id` null (the
    * observability stance: unplaceable ≠ dropped). Returns
    * `(<docCol>, <imgIdCol>, n_chunks, chunk_id, cos_micros)`. */
  def interleaveAssign(images: DataFrame, chunks: DataFrame,
      docCol: String = "doc_id", imgIdCol: String = "img_id",
      imgVecCol: String = "img_vec", chunkIdCol: String = "chunk_id",
      chunkVecCol: String = "chunk_vec",
      maxChunksPerDoc: Int = 4096): DataFrame = {
    require(maxChunksPerDoc >= 1,
      s"maxChunksPerDoc must be positive, got $maxChunksPerDoc")
    def nrm(c: org.apache.spark.sql.Column) =
      sqrt(Similarity.nativeDot(c, c))
    // ordinal guard: the packed argmax shifts by 2^32, so a chunk id
    // outside [0, 2^32) would silently corrupt best-chunk selection —
    // raise in-plan on the value path (mirrors the maxChunksPerDoc cap)
    val cidGuarded = when(
      col(chunkIdCol).cast("long") < 0 ||
        col(chunkIdCol).cast("long") >= lit(4294967296L),
      raise_error(concat(
        lit("interleaveAssign: chunk id "),
        col(chunkIdCol).cast("string"),
        lit(" outside [0, 2^32) — chunk ids must be per-document " +
          "ordinals (the packed-argmax contract), not global ids")))
        .cast("long")
    ).otherwise(col(chunkIdCol).cast("long"))
    val ch = chunks.select(col(docCol).as("__d"),
        cidGuarded.as("__cid"), col(chunkVecCol).as("__cv"))
      .withColumn("__cn", when(col("__cv").isNotNull, nrm(col("__cv"))))
      .filter(col("__cn") > 0)
    val nCh = ch.groupBy(col("__d")).agg(count(lit(1)).as("n_chunks"))
    val im = images.select(col(docCol).as("__d"),
        col(imgIdCol).as("__iid"), col(imgVecCol).as("__iv"))
      .withColumn("__in", when(col("__iv").isNotNull, nrm(col("__iv"))))
    // the assignToCentroids packed argmax: 6-dp micro score shifted
    // past the chunk-id space, low chunk id wins ties
    val ord = col("__cm") * lit(4294967296L) - col("__cid").cast("long")
    val best = im.filter(col("__in") > 0).join(ch, Seq("__d"))
      .select(col("__d"), col("__iid"), col("__cid"),
        round(round(Similarity.nativeDot(col("__iv"), col("__cv"))
          / (col("__in") * col("__cn")), 6) * 1e6).cast("long").as("__cm"))
      .groupBy(col("__d"), col("__iid"))
      .agg(max_by(col("__cid"), ord).as("chunk_id"),
        max(col("__cm")).as("cos_micros"))
    val out = im.select(col("__d"), col("__iid"))
      .join(nCh, Seq("__d"), "left")
      .join(best, Seq("__d", "__iid"), "left")
      .select(col("__d").as(docCol), col("__iid").as(imgIdCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        col("chunk_id"), col("cos_micros"))
    // cap guard: every output column carries the raise
    val st = out.schema
    val boom = raise_error(concat(
      lit("interleaveAssign: document "), col("__d").cast("string"),
      lit(" has "), col("n_chunks").cast("string"),
      lit(s" valid chunks (cap $maxChunksPerDoc) — per-doc work is " +
        "images x chunks; raise maxChunksPerDoc deliberately if pages " +
        "really fan this wide")))
    val offenders = nCh.filter(col("n_chunks") > maxChunksPerDoc)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }
}
